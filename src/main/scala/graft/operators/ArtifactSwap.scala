package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation swap for persisted index artifacts — the promotion step of
  * every maintenance operator ([[LshIndexIO.compact]]/
  * [[LshIndexIO.reshingle]], [[AnnIndexIO.retrain]]).
  *
  * Maintenance rebuilds an artifact NEXT TO the live one and promotes it
  * with directory renames, so a reader never observes a half-written
  * index: the new generation is fully materialized (and fsync'd by the
  * parquet committer) before the live path changes at all. The reference
  * applies the same materialize-then-promote discipline to its memoized
  * pipeline artifacts (pipelines.py:84-92: outputs land under the final
  * name only after the producing step completes).
  *
  * Atomicity contract, stated honestly: promotion is TWO renames
  * (live → `_prev`, next → live) plus a cleanup delete. On HDFS and
  * POSIX filesystems each rename is atomic, so the only crash window
  * leaves the live name ABSENT with both generations intact under
  * `_prev`/the next path — recoverable, never corrupt; [[recover]]
  * rolls that state back automatically on the next maintenance entry,
  * and [[swap]] rolls the previous generation back if the promote
  * rename itself fails. Readers that already listed the old generation's files finish
  * their scan against the `_prev` inodes (POSIX) — new queries list the
  * new generation. Object stores without atomic rename (S3) should wrap
  * the artifact root in a manifest-pointer layout instead; the swap is
  * kept directory-shaped so that wrapper is a deployment concern, not an
  * operator rewrite.
  */
private[graft] object ArtifactSwap {

  /** Heal the one crash window [[swap]] leaves: both renames are atomic,
    * so the only bad state is `live` ABSENT with the old generation
    * stranded under `_prev` (crash between retire and promote). Rolls
    * `_prev` back to `live` and returns true iff it did. Called on entry
    * by [[swap]] and [[compactTable]] and by the maintenance operators
    * before they read the live artifact — recovery is automatic on the
    * next maintenance pass, never a manual rename. */
  def recover(spark: SparkSession, live: String): Boolean = {
    val livePath = new Path(live)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = new Path(live + "_prev")
    if (!fs.exists(livePath) && fs.exists(prev)) fs.rename(prev, livePath)
    else false
  }

  /** Read a small sidecar file FULLY before parsing: a single
    * `InputStream.read` may return fewer bytes than available (short
    * reads are legal and real on HDFS/object-store streams), which would
    * truncate the payload mid-token. Loops to EOF over a bounded buffer
    * (sidecars are tens of bytes); a file LARGER than `max` fails loudly
    * rather than handing a truncated prefix to a parser — a cut-off
    * numeric field can parse cleanly to a wrong-but-plausible value,
    * which is a silent operating-point change, not an error. */
  def readSmall(spark: SparkSession, p: Path, max: Int = 256): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](max + 1)
        var off = 0
        var n = 0
        while (off <= max && { n = in.read(buf, off, max + 1 - off); n >= 0 })
          off += n
        if (off > max) throw new java.io.IOException(
          s"sidecar $p exceeds $max bytes — refusing to parse a " +
            "truncated prefix (corrupt or foreign file)")
        Some(new String(buf, 0, off, "UTF-8"))
      } finally in.close()
    }
  }

  /** Replace the `live` artifact (dir or file) with `next`. `live` may
    * not exist yet (first generation); `next` must. */
  def swap(spark: SparkSession, live: String, next: String): Unit = {
    recover(spark, live) // heal a prior crash's stranded-prev state first
    val livePath = new Path(live)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = new Path(live + "_prev")
    if (fs.exists(prev)) fs.delete(prev, true)
    if (fs.exists(livePath) && !fs.rename(livePath, prev))
      throw new java.io.IOException(s"ArtifactSwap: cannot retire $live")
    if (!fs.rename(new Path(next), livePath)) {
      if (fs.exists(prev)) fs.rename(prev, livePath) // roll back, never lose live
      throw new java.io.IOException(s"ArtifactSwap: cannot promote $next")
    }
    fs.delete(prev, true)
  }

  /** Remove a stale `next`-generation path left by a crashed prior
    * maintenance attempt, so rebuilds start clean. */
  def clearStale(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The shared compaction core (both index families' `compact` is this
    * with a family-specific range placement): read the live table,
    * rewrite it through `place` (range-repartition + within-partition
    * sort at `parts` writer arity), land it partitioned on
    * `partitionCol` next to the live dir, promote by [[swap]].
    * `carrySidecars` names in-dir sidecar files (e.g. `_CONF`)
    * copied from the live generation into the next one BEFORE the swap,
    * so operating-point metadata rides the same atomic rename as the
    * data it describes.
    * Returns (files_before, files_after). */
  def compactTable(spark: SparkSession, live: String,
                   place: (DataFrame, Int) => DataFrame,
                   partitionCol: String, targetPartitions: Int,
                   carrySidecars: Seq[String] = Nil): (Long, Long) = {
    recover(spark, live) // heal a prior crash's stranded-prev state first
    val parts = if (targetPartitions > 0) targetPartitions
                else spark.sparkContext.defaultParallelism
    val before = dataFileCount(spark, live)
    val next = live + "_next"
    clearStale(spark, next)
    place(spark.read.parquet(live), parts)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(next)
    val fs = new Path(live).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    carrySidecars.foreach { name =>
      val src = new Path(s"$live/$name")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new Path(s"$next/$name"), false, true,
          spark.sparkContext.hadoopConfiguration)
    }
    swap(spark, live, next)
    (before, dataFileCount(spark, live))
  }

  /** Recursive data-file count under a path (parquet part files only —
    * success markers and checksums excluded): the compaction monitor's
    * before/after evidence. */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }
}
