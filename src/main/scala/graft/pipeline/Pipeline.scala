package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side pipeline orchestrator — the Spark restatement of the
  * reference's file-materialized DAG (pipelines.py:557-819):
  *
  *  - every stage writes Parquet under `<root>/<name>__<tagHash>` (the
  *    reference encodes provenance tags in .npz filenames,
  *    pipelines.py:599-616; we hash them into the directory name);
  *  - **memoization (S8)**: a stage whose output directory already has a
  *    `_SUCCESS` marker is skipped and its output re-read
  *    (pipelines.py:84-92 etc.);
  *  - **sidecars**: a computed stage writes its row count (`_ROWS`) and
  *    its Spark schema as JSON (`_SCHEMA`) beside its Parquet files. A
  *    memoized stage reports its rows from `_ROWS`, and every dependency
  *    read — computed earlier in the same run or memoized from an earlier
  *    one — takes its schema from `_SCHEMA`, so it costs no Parquet
  *    footer read (Spark's schema inference runs a job per read). An
  *    artifact written before a sidecar existed falls back to `count()`
  *    or to inference;
  *  - **failure short-circuit (S7)**: a failed stage writes an empty
  *    `_FAILED` sentinel; downstream stages depending on it are skipped
  *    and marked failed as well (pipelines.py:112-115 etc.);
  *  - a status table records (stage, state, rows, path, error, seconds,
  *    bytes) — replacing the reference's scattered sentinel files as
  *    queryable lineage.
  *
  * Stages declare dependencies by name; inputs arrive as a map of
  * DataFrames. Tags are (k, v) provenance pairs, blake-like hashed with
  * md5-10 (the reference uses blake2b-10, pipelines.py:879-889 — any
  * stable short digest serves).
  */
object Pipeline {

  case class Stage(name: String, deps: Seq[String] = Nil,
                   run: (SparkSession, Map[String, DataFrame]) => DataFrame)

  sealed trait State
  case object Computed extends State
  case object Memoized extends State
  case object Failed extends State
  case object SkippedUpstreamFailure extends State

  /** `seconds`: wall time the stage took in [[run]] — its compute and
    * write, or the sentinel/sidecar check of a memoized, failed or
    * skipped stage (about 0). `bytes`: what a computed stage wrote (the
    * files under its output directory); 0 for every other state.
    * `error`: why a stage failed; for an exception that wraps a cause
    * (a failed Spark task), the innermost cause as `Class: message`. */
  case class StageResult(name: String, state: State, path: String,
                         rows: Long, error: Option[String],
                         seconds: Double = 0.0, bytes: Long = 0L)

  private def sidecar(path: String, name: String): Option[String] = {
    val f = Paths.get(path, name)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), "UTF-8"))
    else None
  }

  private def rowsSidecar(path: String): Option[Long] =
    sidecar(path, "_ROWS").flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** A stage artifact as a DataFrame: with the schema from its `_SCHEMA`
    * sidecar when it has one, by Parquet schema inference otherwise. */
  private[pipeline] def readArtifact(spark: SparkSession, path: String): DataFrame =
    sidecar(path, "_SCHEMA")
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case st: StructType => spark.read.schema(st).parquet(path) }
      .getOrElse(spark.read.parquet(path))

  private def treeBytes(path: String): Long = {
    val files = Files.walk(Paths.get(path))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }

  /** The failure text: the exception's own message, or, when it wraps
    * causes, [[rootCause]] — Spark's `Job aborted due to stage failure`
    * preamble hides the cause otherwise. */
  private def failureCause(e: Throwable): String =
    if (innermost(e) eq e) message(e).take(200) else rootCause(e)

  /** The innermost cause of `e` as `Class: message` (at most 200 chars),
    * the form the harness logs name a failure by. */
  private[graft] def rootCause(e: Throwable): String = {
    val root = innermost(e)
    s"${root.getClass.getName}: ${message(root)}".take(200)
  }

  private def innermost(e: Throwable): Throwable = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    root
  }

  // getMessage can be null (bare RuntimeException, errors)
  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  def tagHash(tags: Map[String, String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("&").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)

  def run(spark: SparkSession, root: String, stages: Seq[Stage],
          tags: Map[String, String] = Map.empty): Map[String, StageResult] = {
    val hash = tagHash(tags)
    val results = scala.collection.mutable.LinkedHashMap[String, StageResult]()

    def outPath(name: String) = s"$root/${name}__$hash"

    for (stage <- stages) {
      val path = outPath(stage.name)
      val success = Paths.get(path, "_SUCCESS")
      val failed = Paths.get(path, "_FAILED")
      val t0 = System.nanoTime()
      val upstreamFailed = stage.deps.exists(d =>
        results.get(d).exists(r =>
          r.state == Failed || r.state == SkippedUpstreamFailure))

      val res =
        if (upstreamFailed)
          StageResult(stage.name, SkippedUpstreamFailure, path, 0,
            Some("upstream failure"))
        else if (Files.exists(failed))
          StageResult(stage.name, Failed, path, 0, Some("failed sentinel"))
        else if (Files.exists(success)) {
          // rows come from the _ROWS sidecar written at compute time —
          // the memoized branch must not re-scan (or even re-list) the
          // artifact just to report a count. Fallback count() only for
          // artifacts written before the sidecar existed.
          val rows = rowsSidecar(path).getOrElse(
            spark.read.parquet(path).count())
          StageResult(stage.name, Memoized, path, rows, None)
        } else {
          try {
            val inputs = stage.deps.map { d =>
              d -> readArtifact(spark, outPath(d))
            }.toMap
            val out = stage.run(spark, inputs)
            // row count observed on the write itself — no post-write scan
            val obs = org.apache.spark.sql.Observation()
            out.observe(obs,
                org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("rows"))
              .write.mode("overwrite").parquet(path)
            val n = obs.get("rows").asInstanceOf[Long]
            Files.write(Paths.get(path, "_ROWS"),
              n.toString.getBytes("UTF-8"))
            Files.write(Paths.get(path, "_SCHEMA"),
              out.schema.json.getBytes("UTF-8"))
            if (n == 0) { // reference: empty result == failed step
              Files.createDirectories(Paths.get(path))
              Files.deleteIfExists(success)
              Files.createFile(failed)
              StageResult(stage.name, Failed, path, 0, Some("empty result"))
            } else StageResult(stage.name, Computed, path, n, None,
              bytes = treeBytes(path))
          } catch {
            // fatal errors (OOM, linkage, interrupts) are not stage
            // failures: they propagate out of the run
            case NonFatal(e) =>
              Files.createDirectories(Paths.get(path))
              if (!Files.exists(failed)) Files.createFile(failed)
              StageResult(stage.name, Failed, path, 0, Some(failureCause(e)))
          }
        }
      results(stage.name) = res.copy(seconds = (System.nanoTime() - t0) / 1e9)
      // operator-scoped caches die with their stage (each stage's output
      // is materialized to Parquet above, so nothing downstream re-reads
      // the cached lineage)
      graft.CacheRegistry.releaseAll()
    }
    results.toMap
  }

  /** The run log as a queryable DataFrame (lineage/status table). */
  def statusTable(spark: SparkSession,
                  results: Map[String, StageResult]): DataFrame = {
    import spark.implicits._
    results.values.toSeq
      .map(r => (r.name, r.state.toString, r.path, r.rows,
        r.error.getOrElse(""), r.seconds, r.bytes))
      .toDF("stage", "state", "path", "rows", "error", "seconds", "bytes")
  }
}
