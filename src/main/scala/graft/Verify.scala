package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  private def isComplex(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  /** Driver-comparator compatibility lint. The driver's oracle harness
    * sorts result rows by EVERY column before hashing, and pandas
    * `sort_values` throws on unsortable cells (a LIST column arrives as
    * `numpy.ndarray` — the r16 `qc_session_report` failure). So any
    * multi-row query output must be fully scalar; single-row results
    * (e.g. `a10_avg_frames`) are exempt because no sort happens.
    * Returns the offending column names (empty = clean). */
  def complexColumnViolations(schema: StructType, rowCount: Long): Seq[String] =
    if (rowCount <= 1) Seq.empty
    else schema.fields.toIndexedSeq.collect {
      case f if isComplex(f.dataType) => f.name
    }

  private def deleteRecursively(p: java.io.File): Unit = {
    val kids = p.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    p.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only 3rd arg: comma-separated query-name filter
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // lint AFTER the write: the count read-back is one coalesced
        // file, and only paid when the schema carries a complex column
        if (df.schema.fields.exists(f => isComplex(f.dataType))) {
          val n = spark.read.parquet(s"$outDir/$name").count()
          val bad = complexColumnViolations(df.schema, n)
          if (bad.nonEmpty) {
            // withdraw the output so the driver records a clean per-row
            // failure instead of a pandas traceback inside its comparator
            deleteRecursively(new java.io.File(s"$outDir/$name"))
            System.err.println(s"[verify] LINT $name: multi-row ($n) " +
              s"output carries complex-typed columns ${bad.mkString(",")}" +
              " — the driver's sort-before-hash comparator cannot grade" +
              " it; flatten to scalar columns")
          }
        }
      }
      catch { case NonFatal(e) =>
        System.err.println(
          s"[verify] $name failed: ${pipeline.Pipeline.rootCause(e)}")
      }
      // operator-scoped caches die with their query (SCALE.md pitfall 4)
      CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
