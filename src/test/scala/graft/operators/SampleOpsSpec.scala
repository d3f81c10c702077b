package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SampleOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 2000L).map(i =>
    (i, if (i % 4 == 0) "de" else "en")).toDF("id", "lang")

  /** Deterministic Bernoulli sample: the keep rule every sampler here
    * shares, hash60(salt ++ id) < threshold(rate). */
  private def bernoulli(df: org.apache.spark.sql.DataFrame, idCol: String,
                        rate: Double, salt: String = "graft") =
    df.filter(SampleOps.hash60(col(idCol), salt) < SampleOps.threshold(rate))

  test("bernoulli is deterministic, rate-accurate, and a pure subset") {
    val s1 = bernoulli(docs, "id", 0.3, "s1").select("id").as[Long].collect().toSet
    val s2 = bernoulli(docs, "id", 0.3, "s1").select("id").as[Long].collect().toSet
    assert(s1 == s2)
    // md5 uniformity: 2000 draws at p=0.3 → ±5σ ≈ ±102
    assert(math.abs(s1.size - 600) < 110, s"got ${s1.size}")
    // a higher rate with the same salt is a superset (threshold semantics)
    val s3 = bernoulli(docs, "id", 0.5, "s1").select("id").as[Long].collect().toSet
    assert(s1.subsetOf(s3))
    // different salt decorrelates
    val s4 = bernoulli(docs, "id", 0.3, "other").select("id").as[Long].collect().toSet
    assert(s4 != s1)
  }

  test("rate 0 and 1 are exact") {
    assert(bernoulli(docs, "id", 0.0).count() == 0)
    assert(bernoulli(docs, "id", 1.0).count() == 2000)
  }

  test("stratified applies per-stratum rates") {
    val out = SampleOps.stratified(docs, "id", "lang",
      Map("en" -> 0.2), defaultRate = 1.0, salt = "s9")
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("de") == 500) // default rate 1.0 keeps all
    assert(math.abs(byLang("en") - 300) < 100) // 1500 × 0.2 ± 5σ
    // per-stratum selection must equal the bernoulli of that stratum alone
    val enOnly = bernoulli(docs.filter($"lang" === "en"), "id", 0.2, "s9")
      .select("id").as[Long].collect().toSet
    assert(out.filter($"lang" === "en").select("id").as[Long].collect().toSet == enOnly)
  }

  test("packChunks: per-shard running layout, no doc lost, chunks contiguous") {
    val d = (0L until 400L).map(i => (i, Seq.fill(50 + (i % 37).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = SampleOps.packChunks(d, "doc_id", "text",
      contextTokens = 100, numShards = 4)
      .select("doc", "shard", "n_tokens", "chunk")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 400)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      val sorted = rows.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (doc, _, n, chunk) =>
        assert(doc % 4 == shard)
        assert(chunk == cum / 100, s"doc $doc")
        cum += n
      }
      // chunks are contiguous non-decreasing within the shard
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq)
    }
    // chars/4 estimate: ceil(len/4) — spot-check doc 0: 50 tokens of "w " = 99 chars
    assert(out.find(_._1 == 0L).get._3 == math.ceil(99 / 4.0).toLong)
  }

  test("balancedShards: snake layout, exact rank, near-equal shard totals") {
    val rng = new scala.util.Random(7)
    val d = (0L until 1000L).map { i =>
      (i, Seq.fill(8 + rng.nextInt(400))("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = SampleOps.balancedShards(d, "doc_id", "text", numShards = 8,
        rangeParts = 8)
      .select("doc", "n_tokens", "rank", "shard")
      .as[(Long, Long, Long, Long)].collect()
    graft.CacheRegistry.releaseAll()
    assert(out.length == 1000)
    // the two-pass rank equals the brute global rank
    val brute = out.sortBy(t => (-t._2, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1).toLong }.toMap
    out.foreach { case (doc, _, rank, _) =>
      assert(rank == brute(doc), s"doc $doc rank $rank != ${brute(doc)}") }
    // snake arithmetic
    out.foreach { case (_, _, rank, shard) =>
      val pos = (rank - 1) % 8
      val expect = if (((rank - 1) / 8) % 2 == 0) pos else 7 - pos
      assert(shard == expect) }
    // balance: serpentine spread stays within one max item; id-mod
    // sharding on the same data is far worse
    val totals = out.groupBy(_._4).map(_._2.map(_._2).sum)
    val spread = totals.max - totals.min
    val maxItem = out.map(_._2).max
    assert(spread <= maxItem, s"spread $spread > max item $maxItem")
    val naive = out.groupBy(t => t._1 % 8).map(_._2.map(_._2).sum)
    assert(spread < (naive.max - naive.min),
      s"snake $spread not better than id-mod ${naive.max - naive.min}")
    // determinism across re-runs (fresh lineage)
    val again = SampleOps.balancedShards(d, "doc_id", "text", numShards = 8,
        rangeParts = 8)
      .select("doc", "shard").as[(Long, Long)].collect().toMap
    graft.CacheRegistry.releaseAll()
    out.foreach { case (doc, _, _, shard) => assert(again(doc) == shard) }
  }

  test("mixtureTemperature: rates derived as sqrt(cmin/c), rarest kept whole") {
    // 500 de / 1500 en → rate(de) = 1, rate(en) = sqrt(500/1500)
    val out = SampleOps.mixtureTemperature(docs, "id", "lang", salt = "mt")
    val rates = out.select("lang", "rate").distinct()
      .as[(String, Double)].collect().toMap
    assert(rates("de") == 1.0)
    assert(rates("en") == math.sqrt(500.0 / 1500.0))
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("de") == 500) // rate 1 keeps the whole rarest stratum
    // 1500 × 0.577 ≈ 866 ± 5σ ≈ ±96
    assert(math.abs(byLang("en") - 866) < 100, s"got ${byLang("en")}")
    // the en selection equals a bernoulli at the derived rate (same salt)
    val enOnly = bernoulli(docs.filter($"lang" === "en"), "id",
      math.sqrt(500.0 / 1500.0), "mt").select("id").as[Long].collect().toSet
    assert(out.filter($"lang" === "en").select("id").as[Long].collect().toSet
      == enOnly)
    // determinism across re-runs
    val again = SampleOps.mixtureTemperature(docs, "id", "lang", salt = "mt")
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("packLengthBatches: length-sorted batches minimize padding") {
    // 100 docs, token counts 1..100; batchDocs=10 → batch 0 holds
    // n=100..91 (ranks 1..10), padding = 100*10 − Σ(91..100) = 45
    val docs = (1 to 100).map(i => (i.toLong, "x " * i)).toDF("doc_id", "text")
    // exact token counts supplied (the chars/4 default is a heuristic)
    val out = SampleOps.packLengthBatches(docs, "doc_id", "text",
        batchDocs = 10, tokenCount = Some(col("doc_id").cast("long")),
        rangeParts = 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out.size == 10)
    assert(out(0L) == ((10L, 100L, 45L, 0.045)))
    assert(out(9L) == ((10L, 10L, 45L, 0.45)))  // the short tail pads worst
    // every batch's padding beats the corpus-wide pad-to-longest bound
    assert(out.values.forall { case (nd, mx, pad, _) =>
      pad <= (100L - 1L) * nd && mx <= 100L })
    // two-pass global rank == single-window rank (determinism across
    // rangeParts arities)
    val again = SampleOps.packLengthBatches(docs, "doc_id", "text",
        batchDocs = 10, tokenCount = Some(col("doc_id").cast("long")),
        rangeParts = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(again == out)
    graft.CacheRegistry.releaseAll()
  }
}
