package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: deterministic sampling and sequence packing.
  *
  * A 100 TB training-data pipeline cannot use `rand()`-based sampling —
  * re-runs (memoized stages, speculative retries, a second cluster
  * rebuilding one shard) must select the SAME rows, and stratum rates must
  * be auditable. Both operators here are pure row-local functions of the
  * row's key (md5, the engine-portable hash used everywhere in graft), so
  * they shuffle nothing, reproduce bit-identically on any engine, and
  * compose with predicate pushdown (the sample filter sits directly over
  * the scan).
  */
object SampleOps {

  /** 2^60 — the hash-unit denominator. A rate r keeps ids whose 60-bit
    * md5 prefix is < r·2^60 (exact integer threshold, no float compare). */
  val HashSpace: Long = 1L << 60

  /** Uniform 60-bit hash of (salt ++ id-as-string) — decorrelated from any
    * other md5-derived key in the pipeline by the salt. Delegates to the
    * one engine-portable hash kernel ([[TextOps.hash60]]) so the parity-
    * critical md5-prefix rule lives in exactly one place. */
  def hash60(id: Column, salt: String): Column =
    TextOps.hash60(concat(lit(salt), id.cast("string")))

  /** Integer threshold for a keep-rate in [0, 1] — public so the DuckDB
    * oracle builder inlines the SAME integer, not a re-derived one. */
  def threshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0, 1]")
    math.round(rate * HashSpace.toDouble)
  }

  /** Deterministic STRATIFIED sample: per-stratum keep-rates (e.g.
    * down-sample the dominant language, keep the rest). Strata absent
    * from `rates` keep `defaultRate`. The rate lookup folds into one
    * codegen CASE chain — still row-local, still zero-shuffle. */
  def stratified(df: DataFrame, idCol: String, stratumCol: String,
                 rates: Map[String, Double], defaultRate: Double = 1.0,
                 salt: String = "graft"): DataFrame = {
    val thr = rates.foldLeft(lit(threshold(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(threshold(rate))).otherwise(acc)
    }
    df.filter(hash60(col(idCol), salt) < thr)
  }

  /** Temperature-REBALANCED mixture sample at τ = 1/2: per-stratum
    * keep-rates are DERIVED from the corpus's own stratum counts instead
    * of hand-tuned — `rate(s) = (c_min / c_s)^(1-τ) = sqrt(c_min / c_s)`,
    * the multilingual-pretraining recipe that up-weights tail domains
    * without flattening the mixture entirely (rate = 1 for the rarest
    * stratum, < 1 for the head).
    *
    * τ is FIXED at 1/2 deliberately: `sqrt` and IEEE division are
    * correctly-rounded operations on every IEEE-754 engine, so the
    * derived rate — and therefore the integer keep-threshold
    * `floor(rate·2^60)` — is bit-identical on Spark and any replaying
    * engine with NO rounding hacks. A general `pow(c, τ-1)` is
    * transcendental and not bit-portable (docs/SCALE.md pitfall 5).
    *
    * Plan shape: one map-side-combined count per stratum (|strata| rows),
    * a global window over those few rows for `c_min`, a broadcast join of
    * the derived rates back onto the corpus, then the same row-local
    * md5-threshold rule as [[stratified]] — the corpus itself never
    * shuffles. The returned frame carries the audit column `rate`. */
  def mixtureTemperature(df: DataFrame, idCol: String, stratumCol: String,
                         salt: String = "graft"): DataFrame = {
    // global window over the per-stratum counts: |strata| rows by
    // construction, so the single-partition window is bounded
    val w = Window.partitionBy()
    val rates = df.groupBy(stratumCol).agg(count(lit(1)).as("_cnt"))
      .select(col(stratumCol),
        sqrt(min(col("_cnt")).over(w).cast("double") /
          col("_cnt").cast("double")).as("rate"))
    df.join(broadcast(rates), stratumCol)
      .filter(hash60(col(idCol), salt) <
        floor(col("rate") * lit(HashSpace.toDouble)).cast("long"))
  }

  /** BALANCED shard assignment for the training-data writer: serpentine
    * (snake) placement over the global token-count rank — rank 1..S fill
    * shards 0..S−1, ranks S+1..2S fill S−1..0, and so on — which keeps
    * per-shard token totals near-equal without any greedy state (the
    * whole assignment is a pure function of the rank, so it reproduces
    * bit-identically and replays in SQL). Naive `id % S` sharding skews
    * by content length; a skewed output shard becomes the straggler
    * task of every downstream epoch.
    *
    * The GLOBAL RANK is the scale problem — `row_number()` over a
    * global ORDER BY is a single-partition window. This computes it with
    * the two-pass recipe a 100 TB sort uses: range-repartition on the
    * sort key (narrow (doc, n) rows), per-partition local ranks, plus a
    * driver-collected per-partition count prefix — bounded by the
    * partition COUNT (config), not the data — broadcast back as
    * offsets. Range partition i holds keys ≤ partition i+1's, so
    * `offset(pid) + local_rank` IS the global rank.
    *
    * Returns (doc, n_tokens, rank, shard). Ties rank by doc id —
    * deterministic under any partitioning. */
  /** TWO-PASS DISTRIBUTED GLOBAL RANK — the reusable form of the recipe
    * a 100 TB sort uses (extracted from [[balancedShards]], which
    * pioneered it here): a global `row_number()` is a single-partition
    * window, so instead (1) range-repartition on the sort order and
    * rank locally per partition, (2) collect the per-partition COUNTS
    * (≤ `rangeParts` rows — bounded by config, not data) and broadcast
    * their prefix sums back as offsets; range partition i holds keys ≤
    * partition i+1's, so `offset(pid) + local_rank` IS the global rank.
    * `sortOrder` must be a total order (tie-break on a unique id) for
    * the rank to be deterministic. Adds `rank` (1-based, long). */
  def globalRank(df: DataFrame, sortOrder: Seq[Column],
                 rangeParts: Int = 32): DataFrame = {
    val reserved = Seq("rank", "_pid", "_lr", "_off")
      .filter(df.columns.contains)
    require(reserved.isEmpty,
      s"globalRank reserves column name(s) ${reserved.mkString(", ")} — " +
        "rename them on the input (they would be silently clobbered)")
    val sorted = df
      .repartitionByRange(rangeParts, sortOrder: _*)
      .sortWithinPartitions(sortOrder: _*)
      .withColumn("_pid", spark_partition_id())
      .transform(graft.CacheRegistry.persistTracked(_))
    val counts = sorted.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_pid", "_off")
    val w = Window.partitionBy("_pid").orderBy(sortOrder: _*)
    sorted
      .withColumn("_lr", row_number().over(w).cast("long"))
      .join(broadcast(offDf), "_pid")
      .withColumn("rank", col("_off") + col("_lr"))
      .drop("_pid", "_lr", "_off")
  }

  def balancedShards(docs: DataFrame, idCol: String, textCol: String,
                     numShards: Int = 32,
                     tokenCount: Option[Column] = None,
                     rangeParts: Int = 32): DataFrame = {
    val nTokens = tokenCount.getOrElse(
      ceil(length(trim(col(textCol))).cast("double") / 4.0).cast("long"))
    val ranked = globalRank(
      docs.select(col(idCol).cast("long").as("doc"), nTokens.as("n_tokens")),
      Seq(col("n_tokens").desc, col("doc").asc), rangeParts)
      .select(col("doc"), col("n_tokens"), col("rank"))
    // pos exact via pmod; block via (rank-1-pos)/S — exactly divisible,
    // so the division is exact in any engine (no floor-div semantics to
    // match across SQL dialects)
    val pos = pmod(col("rank") - 1, lit(numShards.toLong))
    val block = ((col("rank") - 1 - pos) / numShards).cast("long")
    ranked.withColumn("shard",
      when(pmod(block, lit(2L)) === 0, pos)
        .otherwise(lit(numShards.toLong) - 1 - pos))
  }

  /** Doc-level sequence packing: assign each document a (shard, chunk)
    * slot as if the shard's docs were concatenated in id order and cut
    * every `contextTokens` tokens — `chunk = floor(tokens-before-doc /
    * contextTokens)`, the streaming concat-and-chunk layout LLM
    * pretraining uses, at document granularity.
    *
    * Sharding makes it scale: the running sum is per-shard
    * (`Window.partitionBy(shard)`), so packing is embarrassingly parallel
    * across `numShards` — on a cluster, shards ≈ files/buckets and each
    * task packs one shard sequentially, which is exactly how a packer
    * writes its output anyway.
    *
    * `tokenCount`: how to count a document's tokens. Default is the
    * chars/4 estimate (mirrors [[TextOps.qualityScore]]'s `est_tokens`);
    * pass `TextOps.mergeBpeTokenCount(col(textCol))` for EXACT
    * merge-table BPE counts so the `contextTokens` budget is real, not a
    * heuristic — same row-local cost class. */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
                 contextTokens: Int = 2048, numShards: Int = 32,
                 tokenCount: Option[Column] = None): DataFrame = {
    val nTokens = tokenCount.getOrElse(
      ceil(length(trim(col(textCol))).cast("double") / 4.0).cast("long"))
    val w = Window.partitionBy("shard").orderBy("doc")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol).cast("long").as("doc"),
        pmod(col(idCol).cast("long"), lit(numShards.toLong)).as("shard"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("chunk",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("double")
          / contextTokens).cast("long"))
  }

  /** LENGTH-SORTED BATCHING — the padding-efficiency layout a
    * pad-to-longest training loader wants (batch peers of similar
    * length so `batch_max × batch_size − Σ tokens` stays small; random
    * batching pads every short doc up to the corpus tail): rank docs by
    * (token count DESC, doc) with the two-pass [[globalRank]], cut
    * consecutive ranks into fixed-size batches, and report each batch's
    * padding overhead. Deterministic (pure function of the rank) and
    * SQL-replayable; the rank is the only corpus-wide step and it is
    * the two-pass form, never a single-partition window.
    *
    * Returns one row per batch: (batch_id, n_docs, max_tokens,
    * sum_tokens, padding, pad_frac). */
  def packLengthBatches(docs: DataFrame, idCol: String, textCol: String,
                        batchDocs: Int = 32,
                        tokenCount: Option[Column] = None,
                        rangeParts: Int = 32): DataFrame = {
    require(batchDocs >= 1, s"batchDocs must be >= 1, got $batchDocs")
    val nTokens = tokenCount.getOrElse(
      ceil(length(trim(col(textCol))).cast("double") / 4.0).cast("long"))
    val ranked = globalRank(
      docs.select(col(idCol).cast("long").as("doc"), nTokens.as("n_tokens")),
      Seq(col("n_tokens").desc, col("doc").asc), rangeParts)
    ranked
      .withColumn("batch_id", ((col("rank") - 1 -
        pmod(col("rank") - 1, lit(batchDocs.toLong))) / batchDocs)
        .cast("long"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("batch_id"), col("n_docs"), col("max_tokens"),
        col("sum_tokens"),
        (col("max_tokens") * col("n_docs") - col("sum_tokens"))
          .as("padding"),
        (round((col("max_tokens") * col("n_docs") - col("sum_tokens"))
          .cast("double") / (col("max_tokens") * col("n_docs")), 6) + 0.0)
          .as("pad_frac"))
  }
}
