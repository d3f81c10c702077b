package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-table BPE tokenization (native kernel).
  *
  * Real byte-pair encoding over a ranked merge table — the step up from
  * the [[graft.operators.TextOps.bpeTokenCount]] pre-tokenizer regex
  * count: pre-tokenize with the GPT-2-style pattern, split each pre-token
  * into code points, then repeatedly merge the LEFTMOST occurrence of the
  * LOWEST-RANK adjacent pair until no pair is in the table. For a valid
  * merge table (every merge that consumes a token ranks after the merge
  * that created it — true of any table produced by BPE training) this
  * one-pair-at-a-time rule is equivalent to the textbook
  * merge-all-occurrences-of-the-best-pair loop, and it is what the DuckDB
  * oracle replays one recursive-CTE iteration at a time.
  *
  * Contract notes: tokens are CODE POINTS, not bytes (a byte-level
  * tokenizer maps through a byte alphabet first; same algorithm, different
  * alphabet), and not grapheme clusters (divergence from the oracle's
  * splitter only on combining sequences, absent from the ASCII corpus the
  * parity gate runs on). Exact counts are what make sequence-packing
  * budgets real ([[graft.operators.SampleOps.packChunks]]).
  */
object BpeMerge {

  /** Parse the public merges.txt format: one "left right" pair per line,
    * rank = line order; '#'-comments and blanks skipped. */
  def parseMerges(lines: IterableOnce[String]): Seq[(String, String)] =
    lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ", -1)
        require(sp.length == 2, s"malformed merge line: '$l'")
        (sp(0), sp(1))
      }
      .toSeq

  // NUL joiner: merge elements may themselves contain spaces
  // (GPT-2-style pre-tokens are space-prefixed), so a space joiner
  // would be ambiguous
  private def rankKey(l: String, r: String): String = l + "\u0000" + r

  /** Build the rank lookup once per (plan-literal) merge table. */
  def ranksOf(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(m.put(rankKey(l, r), Int.box(i)) == null,
        s"duplicate merge pair ($l, $r)")
    }
    m
  }

  /** Greedy merge of one pre-token: code-point split, then leftmost
    * lowest-rank pair merges until fixpoint. */
  def mergeWord(word: String,
                ranks: java.util.HashMap[String, Integer]): Array[String] = {
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      toks += word.substring(i, i + n)
      i += n
    }
    var go = toks.length > 1
    while (go) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var j = 0
      while (j < toks.length - 1) {
        val r = ranks.get(rankKey(toks(j), toks(j + 1)))
        if (r != null && r < bestRank) { bestRank = r; bestPos = j }
        j += 1
      }
      if (bestPos < 0) go = false
      else {
        toks(bestPos) = toks(bestPos) + toks(bestPos + 1)
        toks.remove(bestPos + 1)
        if (toks.length < 2) go = false
      }
    }
    toks.toArray
  }

  /** Exact merge-table BPE token count of a string column. */
  case class BpeMergeCount(child: Expression, merges: Seq[(String, String)],
                           pattern: String)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_merge_count needs a string arg, got ${child.dataType.simpleString}")

    @transient private lazy val ranks = ranksOf(merges)
    @transient private lazy val re = java.util.regex.Pattern.compile(pattern)

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val m = re.matcher(text)
      var n = 0L
      while (m.find()) n += mergeWord(m.group(), ranks).length
      n
    }

    override protected def withNewChildInternal(c: Expression): BpeMergeCount =
      copy(child = c)
  }

  def bpe_merge_count(text: Column, merges: Seq[(String, String)],
                      pattern: String): Column =
    Bridge.column(BpeMergeCount(Bridge.expression(text), merges, pattern))
}
