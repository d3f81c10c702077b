package graft.functions

import graft.SparkSpec
import graft.operators.{SampleOps, TextOps}
import org.apache.spark.sql.functions._

/** Merge-table BPE: hand-computed merge sequences against the default
  * table (ranks, 0-based: th0 in1 an2 on3 er4 re5 the6 and7 ou8 st9 en10
  * or11 it12 es13), plus the parsing, packing and column surfaces. */
class BpeMergeSpec extends SparkSpec {
  import spark.implicits._

  val ranks = BpeMerge.ranksOf(TextOps.DefaultBpeMerges)

  test("mergeWord follows the hand-computed greedy sequence") {
    // "and": (a,n) rank2 → [an,d]; (an,d) rank7 → [and]
    assert(BpeMerge.mergeWord("and", ranks).toSeq == Seq("and"))
    // " the": (t,h)0 → [' ',th,e]; (th,e)6 → [' ',the]
    assert(BpeMerge.mergeWord(" the", ranks).toSeq == Seq(" ", "the"))
    // "interesting": (i,n)@0 → (i,n)@7 → (e,r) → (s,t) → fixpoint
    assert(BpeMerge.mergeWord("interesting", ranks).toSeq ==
      Seq("in", "t", "er", "e", "st", "in", "g"))
    // leftmost-of-equal-rank: "inin" merges position 0 first
    assert(BpeMerge.mergeWord("inin", ranks).toSeq == Seq("in", "in"))
    // no applicable merges pass through as code points
    assert(BpeMerge.mergeWord("xyz", ranks).toSeq == Seq("x", "y", "z"))
    assert(BpeMerge.mergeWord("q", ranks).toSeq == Seq("q"))
  }

  test("column surface: tokens concatenate per pre-token, count == size") {
    val df = Seq(
      (1L, " the interesting thing"),
      (2L, "and"),
      (3L, ""),
      (4L, "xyz 42!")).toDF("doc_id", "text")
    // the merged token sequence, built driver-side from the same
    // pre-tokens and merge rule the column kernel counts
    def tokens(text: String): Seq[String] = {
      val m = java.util.regex.Pattern.compile(TextOps.BpeTokenRe).matcher(text)
      val out = Seq.newBuilder[String]
      while (m.find()) out ++= BpeMerge.mergeWord(m.group(), ranks)
      out.result()
    }
    val out = df.select(col("doc_id"), col("text"),
      TextOps.mergeBpeTokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), tokens(r.getString(1)))).toMap
    // " the"=2, " interesting"=1+7, " thing"=[' ',th,in,g]=4 → 14
    assert(out(1L)._1 == 14L)
    assert(out(1L)._2.take(2) == Seq(" ", "the"))
    assert(out(2L) == ((1L, Seq("and"))))
    assert(out(3L) == ((0L, Seq())))
    // "xyz"=3, " 42"=[' ','4','2']=3, "!"=1 → 7
    assert(out(4L)._1 == 7L)
    out.values.foreach { case (n, toks) => assert(n == toks.length) }
    // token concatenation reconstructs the input exactly
    assert(out(1L)._2.mkString == " the interesting thing")
  }

  test("parseMerges: merges.txt format, comments, malformed lines") {
    val parsed = BpeMerge.parseMerges(Seq(
      "# merges v1", "t h", "", "  th e  "))
    assert(parsed == Seq(("t", "h"), ("th", "e")))
    intercept[IllegalArgumentException] {
      BpeMerge.parseMerges(Seq("a b c"))
    }
    intercept[IllegalArgumentException] { // duplicate pair
      BpeMerge.ranksOf(Seq(("t", "h"), ("t", "h")))
    }
  }

  test("packChunks with exact BPE counts: budget arithmetic is real") {
    val docs = Seq(
      (0L, "and and and"),            // " and" merges: 3 + 3... count below
      (32L, "the interesting"),
      (64L, "xyz")).toDF("doc_id", "text") // all shard 0 (mod 32)
    val counts = docs.select(col("doc_id"),
      TextOps.mergeBpeTokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = SampleOps.packChunks(docs, "doc_id", "text",
      contextTokens = 4, numShards = 32,
      tokenCount = Some(TextOps.mergeBpeTokenCount(col("text")))).collect()
      .map(r => r.getAs[Long]("doc") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("chunk"))).toMap
    // n_tokens column IS the exact count
    counts.foreach { case (d, n) => assert(packed(d)._1 == n) }
    // chunk = floor(cumulative-before / 4) in doc order within the shard
    val inOrder = Seq(0L, 32L, 64L)
    var cum = 0L
    inOrder.foreach { d =>
      assert(packed(d)._2 == cum / 4, s"doc $d chunk")
      cum += counts(d)
    }
  }
}
