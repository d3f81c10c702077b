package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MinHash/LSH text-index persistence — build once, dedup many times.
  *
  * The expensive pass of LSH dedup at corpus scale is the
  * shingle→hash→signature scan over every document; the band table it
  * produces is tiny (one row per doc × band). Persisting that table as a
  * typed Parquet artifact lets every downstream consumer — candidate-pair
  * generation ([[TextOps.minhashPairsFromBands]]), pair→cluster connected
  * components ([[GraphOps.connectedComponents]]), audit queries — run
  * WITHOUT re-shingling the corpus. Same build/search discipline as the
  * ANN tier ([[AnnIndexIO]]) and the reference's model-artifact
  * persistence (calibration.py:675-690 saves fitted params as .npz and
  * reloads them downstream).
  *
  * Layout under `path/`: `bands/` — the `(doc, sig, band_id, band_hash)`
  * table, partitioned by `band_id` so a consumer probing one band layout
  * prunes the rest at the file-listing level. The signature column rides
  * along (a long array, numHashes entries) so pair verification needs no
  * join back to the corpus.
  */
object LshIndexIO {

  /** Operating-point sidecar (`path/bands/_CONF`, ASCII "shingleK
    * numHashes bands"), written at [[build]]/[[reshingle]] time and
    * VALIDATED by every consumer that re-derives band keys ([[append]],
    * [[probe]]) or signature agreement ([[pairs]]): band hashes carry no
    * trace of the parameters that produced them, so without the sidecar
    * an [[append]] at the default k against a [[reshingle]]d-to-k=5
    * index would silently mix generations — garbage candidate pairs with
    * no error. The same fail-fast contract as [[AnnIndexIO.retrain]]'s
    * persisted-configuration rule: maintenance and admission must never
    * silently change (or silently mismatch) the index's operating point.
    *
    * The sidecar lives INSIDE the band-table dir (underscore-prefixed,
    * invisible to the parquet reader) so [[reshingle]]'s generation swap
    * moves data and operating point in ONE atomic rename — a sidecar
    * outside the dir could desynchronize in the crash window between the
    * swap and a separate conf write, leaving a new-k band table
    * described by an old-k conf (silent mixed generations, the exact
    * corruption the sidecar exists to prevent). [[compact]] carries it
    * into the rewritten generation. Pre-sidecar artifacts (conf at the
    * legacy `path/_CONF`) still validate; artifacts with no conf at all
    * validate as a no-op. */
  private def confPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_CONF")

  private def writeConf(spark: SparkSession, bandsDir: String, shingleK: Int,
                        numHashes: Int, bands: Int): Unit = {
    val p = confPath(bandsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$shingleK $numHashes $bands".getBytes("UTF-8"))
    finally out.close()
  }

  private def readConf(spark: SparkSession,
                       path: String): Option[(Int, Int, Int)] = {
    def parse(where: org.apache.hadoop.fs.Path, s: String): (Int, Int, Int) =
      // a truncated/corrupt/foreign conf must fail WITH the file named —
      // a bare NumberFormatException/ArrayIndexOutOfBounds from here has
      // no path context, and silently treating it as "no conf" would
      // skip the operating-point validation the sidecar exists for
      scala.util.Try {
        val parts = s.trim.split("\\s+")
        require(parts.length == 3)
        (parts(0).toInt, parts(1).toInt, parts(2).toInt)
      }.getOrElse(throw new IllegalArgumentException(
        s"LSH conf sidecar $where is corrupt (expected 3 integer " +
          s"tokens 'shingleK numHashes bands', got '${s.trim}') — " +
          "rebuild the index or repair the sidecar"))
    val inDir = confPath(s"$path/bands")
    ArtifactSwap.readSmall(spark, inDir).map(parse(inDir, _))
      .orElse { // legacy spot
        val legacy = confPath(path)
        ArtifactSwap.readSmall(spark, legacy).map(parse(legacy, _))
      }
  }

  /** Remove a legacy OUTER `$path/_CONF` once an in-dir one exists: a
    * stale outer conf left after migration would resurface (and validate
    * appends at the OLD operating point) in the one window where the
    * in-dir copy is unavailable. */
  private def clearLegacyConf(spark: SparkSession, path: String): Unit = {
    val p = confPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  private def requireConf(spark: SparkSession, path: String, op: String,
                          shingleK: Option[Int], numHashes: Option[Int],
                          bands: Option[Int]): Unit =
    readConf(spark, path).foreach { case (pk, ph, pb) =>
      def check(name: String, got: Option[Int], persisted: Int): Unit =
        got.foreach(g => require(g == persisted,
          s"$op called with $name=$g against an index built at " +
            s"$name=$persisted ($path/_CONF) — mixed generations would " +
            "corrupt the band space; pass the persisted value or " +
            "reshingle/rebuild"))
      check("shingleK", shingleK, pk)
      check("numHashes", numHashes, ph)
      check("bands", bands, pb)
    }

  /** One full corpus pass: shingle → minhash → band keys, written as the
    * persisted band table. Returns the row count written — observed on the
    * write itself (`Dataset.observe`), NOT by re-reading the artifact: at
    * corpus scale a count-after-write doubles the file-listing cost of
    * every build. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4): Long = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val table = TextOps.lshBandTable(docs, idCol, textCol, shingleK,
      numHashes, bands)
    val obs = Observation()
    table.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("band_id")
      .parquet(s"$path/bands")
    writeConf(docs.sparkSession, s"$path/bands", shingleK, numHashes, bands)
    clearLegacyConf(docs.sparkSession, path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Load the persisted band table. Heals a stranded-prev crash state
    * first — a read during the maintenance crash window must see the
    * retired generation, not a missing-path error. */
  def load(spark: SparkSession, path: String): DataFrame = {
    ArtifactSwap.recover(spark, s"$path/bands")
    spark.read.parquet(s"$path/bands")
  }

  /** Candidate pairs over the prebuilt index — bit-identical to the
    * inline [[TextOps.minhashLshPairs]] on the same corpus (spec-proven),
    * minus the full-corpus shingle pass. */
  def pairs(spark: SparkSession, path: String, numHashes: Int = 16,
            minEstJaccard: Double = 0.25,
            maxBandBucket: Option[Int] = Some(TextOps.DefaultMaxBandBucket)): DataFrame = {
    requireConf(spark, path, "pairs", None, Some(numHashes), None)
    TextOps.minhashPairsFromBands(load(spark, path), numHashes,
      minEstJaccard, maxBandBucket)
  }

  /** Admit a new batch into the index (snapshot N → N+1): one shingle
    * pass over the BATCH only, appended under the existing band_id
    * partition dirs — the old corpus is never re-read, never rewritten.
    * Same row-count observation discipline as [[build]]. After an
    * [[append]], [[pairs]]/[[probe]] over the index see old ∪ new
    * exactly as a from-scratch [[build]] would (spec-proven). */
  def append(docs: DataFrame, idCol: String, textCol: String, path: String,
             shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4): Long = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    // heal a stranded-prev crash state BEFORE the mode('append') write:
    // an append into the crash window would otherwise CREATE a fresh
    // batch-only bands dir, permanently defeating recover (live exists
    // again) — the next compact would then promote the batch-only table
    // and delete the real corpus index under _prev
    ArtifactSwap.recover(docs.sparkSession, s"$path/bands")
    requireConf(docs.sparkSession, path, "append", Some(shingleK),
      Some(numHashes), Some(bands))
    val table = TextOps.lshBandTable(docs, idCol, textCol, shingleK,
      numHashes, bands)
    val obs = Observation()
    table.observe(obs, count(lit(1)).as("rows"))
      .write.mode("append").partitionBy("band_id")
      .parquet(s"$path/bands")
    obs.get("rows").asInstanceOf[Long]
  }

  /** Bucket-occupancy monitor for a built band index — the LSH tier's
    * [[AnnIndexIO.occupancyStats]]: one map-side-combined aggregate over
    * the band table. A healthy shingle distribution keeps buckets tiny;
    * boilerplate-heavy corpora (or drifted appends) pile docs into few
    * (band, hash) buckets, which first costs candidate recall (the
    * [[TextOps.DefaultMaxBandBucket]] rank cap starts truncating real
    * pairs) and then join cost (a hot bucket is quadratic in its kept
    * size). `capped_buckets` — buckets at or over the cap — is the
    * direct "the cap is binding, compact or re-shingle with a larger
    * k" signal; `max_occupancy`/`mean` is the skew early-warning.
    * Returns one row: `n_rows, n_buckets, mean_occupancy,
    * max_occupancy, skew, capped_buckets`. */
  def stats(spark: SparkSession, path: String,
            cap: Int = TextOps.DefaultMaxBandBucket): DataFrame = {
    import org.apache.spark.sql.functions._
    val perBucket = load(spark, path)
      .groupBy("band_id", "band_hash").agg(count(lit(1)).as("n"))
    // mean/skew derived from the exact integer aggregates (one division
    // each) so the oracle replay is bit-deterministic on any engine
    perBucket.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_occupancy"),
        sum(when(col("n") >= cap, 1L).otherwise(0L)).as("capped_buckets"))
      .select(col("n_rows"), col("n_buckets"),
        (round(col("n_rows").cast("double") /
          col("n_buckets").cast("double"), 6) + 0.0).as("mean_occupancy"),
        col("max_occupancy"),
        (round(col("max_occupancy").cast("double") *
          col("n_buckets").cast("double") /
          col("n_rows").cast("double"), 6) + 0.0).as("skew"),
        col("capped_buckets"))
  }

  /** COMPACT the band index — the actuator for [[stats]]'s small-file
    * pressure (the gauge shipped r13; this is the valve): a months-long
    * [[append]] chain adds files under every `band_id=` partition on
    * every batch, so probe cost creeps up with FILE COUNT (listing +
    * footer reads + tiny row groups) even though row count barely moves.
    * Compaction rewrites the band table into a fresh generation —
    * range-placed on (band_id, band_hash) so each writer task covers a
    * contiguous key range (few large files per partition dir, row-group
    * stats tight for the band-join's hash pushdown) — and promotes it
    * with [[ArtifactSwap]]'s atomic rename. Rows are untouched: a probe
    * against the compacted index is bit-identical to one against the
    * fragmented chain (oracle-pinned via the VERBATIM shared SQL, and
    * spec-pinned pair-for-pair), and [[stats]] reads identically.
    *
    * `targetPartitions` bounds writer parallelism (defaults to the
    * cluster's): file count after compaction is `≈ targetPartitions`
    * TOTAL across all band dirs — bounded by writer arity, never by
    * append count. Returns (files_before, files_after). */
  def compact(spark: SparkSession, path: String,
              targetPartitions: Int = 0): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    ArtifactSwap.compactTable(spark, s"$path/bands",
      (df, parts) => df
        .repartitionByRange(parts, col("band_id"), col("band_hash"))
        .sortWithinPartitions("band_id", "band_hash"),
      "band_id", targetPartitions,
      carrySidecars = Seq("_CONF"))
  }

  /** RE-SHINGLE the index into a new generation — the actuator for
    * [[stats]]'s `capped_buckets` signal: when boilerplate-heavy content
    * piles documents into few (band, hash) buckets, the rank cap starts
    * truncating real candidate pairs, and the fix is a LARGER shingle k
    * (more discriminative shingles spread the buckets). That changes
    * every band hash, so it costs what [[build]] costs — one full corpus
    * shingle pass — which is exactly why it runs as index MAINTENANCE
    * (amortized across all future [[probe]]s) rather than per query.
    * Built next to the live table, promoted by atomic swap: probes keep
    * serving the old generation until the new one is complete. The
    * result is indistinguishable from a from-scratch [[build]] at the
    * new k (spec-pinned frame-identical). Returns rows written. */
  def reshingle(docs: DataFrame, idCol: String, textCol: String,
                path: String, shingleK: Int, numHashes: Int = 16,
                bands: Int = 4): Long = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val spark = docs.sparkSession
    val next = s"$path/bands_next"
    ArtifactSwap.clearStale(spark, next)
    val table = TextOps.lshBandTable(docs, idCol, textCol, shingleK,
      numHashes, bands)
    val obs = Observation()
    table.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("band_id").parquet(next)
    // the NEW operating point is staged INSIDE the next generation, so
    // data and sidecar promote in the SAME atomic rename — no crash
    // window can pair a new-k band table with an old-k conf (or vice
    // versa): consumers at the old k fail fast after the swap, and a
    // crash before it leaves the live generation fully consistent
    writeConf(spark, next, shingleK, numHashes, bands)
    ArtifactSwap.swap(spark, s"$path/bands", next)
    clearLegacyConf(spark, path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Incremental dedup probe ([[TextOps.minhashProbePairs]]): candidate
    * pairs between a new batch and the persisted index (plus the batch's
    * internal pairs) WITHOUT re-pairing the indexed corpus against
    * itself — the admission decision for snapshot N+1 costs one batch
    * shingle pass + one band join against the index artifact. */
  def probe(spark: SparkSession, path: String, newDocs: DataFrame,
            idCol: String, textCol: String, shingleK: Int = 3,
            numHashes: Int = 16, bands: Int = 4,
            minEstJaccard: Double = 0.25,
            maxBandBucket: Option[Int] = Some(TextOps.DefaultMaxBandBucket)): DataFrame = {
    requireConf(spark, path, "probe", Some(shingleK), Some(numHashes),
      Some(bands))
    TextOps.minhashProbePairs(load(spark, path),
      TextOps.lshBandTable(newDocs, idCol, textCol, shingleK, numHashes,
        bands),
      numHashes, minEstJaccard, maxBandBucket)
  }
}
