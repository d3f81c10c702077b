package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactSwap, TextOps}

/** Streaming DEDUP ADMISSION at ingest — the continuous twin of the
  * batch LSH dedup tier ([[TextOps.lshBandTable]]): documents arrive in
  * micro-batches and each is decided ONCE, on arrival, against
  * everything that came before — the operation a training-data ingest
  * pipeline actually runs (reference-side analogue: the batch dedup
  * rows; pipeline-side: online near-dup suppression at crawl ingest).
  *
  * === Semantics: first-owner, non-recursive ===
  * Documents are totally ordered by an `ord` column (epoch ·
  * largeStride + doc id). A document is ADMITTED iff NONE of its LSH
  * band keys `(band_id, band_hash)` was produced by any strictly
  * earlier document — *admitted or not*: the seen set accrues every
  * earlier document's bands. Two properties follow:
  *
  *  1. '''Closed form.''' Admission is a window min over each band key
  *     (`admitted(d) ⟺ ∀ bands b of d: min ord over b = ord(d)`) — no
  *     recursion through the admitted set, so the drained result
  *     replays exactly in SQL (the `stream_dedup_admit` oracle) and
  *     is INDEPENDENT of micro-batch boundaries that respect `ord`.
  *  2. '''Conservative ingest.''' In a near-dup family A < B < C where
  *     B collides with A and C with B only: A admitted, B rejected,
  *     C rejected — rejecting against a rejected doc still suppresses
  *     the family (admit-set-only state would re-admit C).
  *
  * A document with NO bands (empty shingle set after tokenization) is
  * admitted — there is nothing to collide.
  *
  * === The 100 TB state story (the [[FrontierStream]] discipline) ===
  * The seen-band set is NOT state-store state: it lives in a parquet
  * table (`seenPath`), probed per epoch through a Bloom front —
  * definite-new bands (no false negatives) skip the verify join
  * entirely; only the maybe-seen sliver pays an exact membership join,
  * so the admitted set is bit-identical to the exact plan at every
  * fpp (spec-pinned at fpp = 0.5). After each drained batch,
  * [[snapshotSeen]] appends the batch's distinct bands, so the next
  * batch's Bloom + verify own them; nothing accumulates in executor
  * memory.
  * Each admission pays one shuffle keyed on the band key (the window)
  * and one keyed on doc (the conjunction) — both partition-scaling.
  */
object DedupAdmitStream {

  /** LSH band rows for an ordered doc frame: `(doc, ord, band_id,
    * band_hash)` — the [[TextOps.lshBandTable]] chain (shingle →
    * hash60 → 16-hash minhash signature → 4 bands, uncapped: admission
    * needs every band of a doc; the bucket cap is a pair-generation
    * lever) with the caller's order key joined back on. */
  def bandsWithOrd(docs: DataFrame, idCol: String, textCol: String,
                   ordCol: String, shingleK: Int = 3, numHashes: Int = 16,
                   bands: Int = 4): DataFrame =
    TextOps.lshBandTable(docs, idCol, textCol, shingleK, numHashes, bands)
      .select(col("doc"), col("band_id"), col("band_hash"))
      .join(docs.select(col(idCol).as("doc"), col(ordCol)), Seq("doc"))

  private def bandKeyHash(bandId: Column, bandHash: Column): Column =
    TextOps.hash60(concat_ws(":", bandId, bandHash))

  /** One batch's admission decisions against (1) the persisted
    * seen-band table at `seenPath` (Bloom-fronted, exact at any fpp)
    * and (2) the batch's own earlier rows (window first-owner on
    * `ordCol`). `batchDocs` is the doc universe of the batch —
    * `(idCol named doc, ordCol)` — so shingle-less docs (absent from
    * `batchBands`) still get their admitted=true row. Heals an
    * interrupted ArtifactSwap promotion of the seen table before reading
    * (the recover-at-every-entry crash-window discipline).
    * Returns `(doc, ord, admitted, n_bands)`. */
  def admitBatch(spark: SparkSession, batchDocs: DataFrame,
                 batchBands: DataFrame, ordCol: String, seenPath: String,
                 fpp: Double = 0.01): DataFrame = {
    ArtifactSwap.recover(spark, seenPath)
    val seenOpt =
      if (ArtifactSwap.dataFileCount(spark, seenPath) == 0) None
      else Some(spark.read.parquet(seenPath).select("band_id", "band_hash"))
    // per-band cross-batch membership: Bloom miss = definitely new
    // (row-local, no join). Bloom hits verify exactly with the join
    // ORIENTED so the corpus-sized seen table is only ever SCANNED:
    // seen ⋉ broadcast(sliver keys) yields the true-hit key set
    // (bounded by the sliver, itself batch-bounded), which broadcasts
    // back onto the batch — a left join against the big table would
    // shuffle the whole seen set every batch instead.
    val marked = seenOpt match {
      case None => batchBands.withColumn("_seen", lit(false))
      case Some(seen) =>
        val n = seen.count()
        if (n == 0) batchBands.withColumn("_seen", lit(false))
        else {
        val bloom = seen
          .select(bandKeyHash(col("band_id"), col("band_hash")).as("h"))
          .stat.bloomFilter("h", n, fpp)
        val probe = TextOps.bloomMightContain(bloom)(
          bandKeyHash(col("band_id"), col("band_hash")))
        val definite = batchBands.filter(!probe)
          .withColumn("_seen", lit(false))
        val sliver = batchBands.filter(probe)
        val sliverKeys = sliver.select("band_id", "band_hash").distinct()
        val hits = seen
          .join(broadcast(sliverKeys), Seq("band_id", "band_hash"),
            "left_semi")
          .distinct()
          .withColumn("_hit", lit(true))
        val maybe = sliver
          .join(broadcast(hits), Seq("band_id", "band_hash"), "left")
          .withColumn("_seen", coalesce(col("_hit"), lit(false)))
          .drop("_hit")
        definite.unionByName(maybe)
        }
    }
    // intra-batch first-owner + cross-batch seen, conjoined per doc
    val w = Window.partitionBy("band_id", "band_hash")
    val banded = marked
      .withColumn("_mo", min(col(ordCol)).over(w))
      .groupBy("doc").agg(
        min(col(ordCol)).as(ordCol), // constant per doc
        max(when(col("_seen") || col("_mo") < col(ordCol), 1)
          .otherwise(0)).as("_blocked"),
        count(lit(1)).as("n_bands"))
    batchDocs.select(col("doc"), col(ordCol))
      .join(banded.select(col("doc"), col("_blocked"), col("n_bands")),
        Seq("doc"), "left")
      .select(col("doc"), col(ordCol),
        coalesce(col("_blocked") === 0, lit(true)).as("admitted"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"))
  }

  /** STATE APPEND — after a batch drains, its distinct band keys join
    * the seen table so the next batch's Bloom + verify own them. ALL
    * the batch's bands are appended (admitted or not — the
    * non-recursive semantics). Rows already present from earlier
    * batches may append again; the seen set is a set by semantics
    * (membership joins are unaffected by duplicate rows). Returns rows
    * appended. */
  def snapshotSeen(spark: SparkSession, batchBands: DataFrame,
                   seenPath: String): Long = {
    import org.apache.spark.sql.Observation
    ArtifactSwap.recover(spark, seenPath)
    val obs = Observation()
    batchBands.select(col("band_id"), col("band_hash")).distinct()
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("append").parquet(seenPath)
    obs.get("rows").asInstanceOf[Long]
  }
}
