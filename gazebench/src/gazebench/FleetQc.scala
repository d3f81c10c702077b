package gazebench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{Calibrator, ErrorMap, SessionCalibrator}
import graft.operators.AsOfJoin
import graft.tools.PlantedSessions

/** fleet_qc: many short planted two-eye sessions through
  * `Queries.qcReportFrom`, one report row per session. Each session is
  * 25 marker clusters × 3 repeats at 1 Hz; each eye's pupil is the known
  * inverse affine of its marker plus seeded sub-milli jitter, so every
  * healthy row has closed-form counts and a fit that must reproduce the
  * planted affine. A seeded share of sessions has no markers, no pupils,
  * or one dead eye, and must read the matching status cascade. */
final class FleetQc(val env: Env) extends Workload {
  type Out = Array[Row]
  val name = "fleet_qc"

  val nSessions: Int = if (env.tiny) 24 else 96
  val per = 75L

  /** Session health, drawn from the seed. */
  sealed trait Kind
  case object Healthy extends Kind
  case object NoMarkers extends Kind
  case object NoPupils extends Kind
  case object DeadLeft extends Kind
  case object DeadRight extends Kind

  /** One session in 16 of each failure kind, at seeded positions: the
    * seed moves the failures, never their number, so every seed does the
    * same amount of work. Sessions s0-s4 are pinned (one of each kind) so
    * tiny runs cover the whole cascade. */
  val kinds: IndexedSeq[Kind] = {
    val failing = Seq(NoMarkers, NoPupils, DeadLeft, DeadRight)
    val rest = new scala.util.Random(env.seed).shuffle(
      (5 until nSessions).map(i => failing.lift((i - 5) % 16).getOrElse(Healthy)))
    IndexedSeq(Healthy, NoMarkers, NoPupils, DeadLeft, DeadRight) ++ rest
  }

  private def sessionIds(k: Kind => Boolean): Seq[String] =
    kinds.indices.filter(i => k(kinds(i))).map(i => s"s$i")

  private var dir: Path = _
  private def table(n: String): DataFrame =
    env.spark.read.parquet(dir.resolve(n).toString)

  def generate(out: Path): Unit = {
    val spark = env.spark
    import spark.implicits._
    val conf = when(col("rep") === 2, 0.55).otherwise(0.95)
    // PlantedSessions geometry with the jitter drawn from the seed
    val base = PlantedSessions.base(spark, nSessions, per)
      .withColumn("jit", (pmod(xxhash64(lit(env.seed), col("session"),
        col("k")), lit(97L)) - 48).cast("double") / 1e5)
    def without(df: DataFrame, ids: Seq[String]) =
      df.filter(!col("session").isin(ids: _*))
    val noMk = sessionIds(_ == NoMarkers)
    val noL = sessionIds(k => k == NoPupils || k == DeadLeft)
    val noR = sessionIds(k => k == NoPupils || k == DeadRight)
    def write(df: DataFrame, n: String): Unit =
      df.coalesce(4).write.parquet(out.resolve(n).toString)
    write(without(PlantedSessions.markers(base), noMk), "markers")
    write(without(PlantedSessions.eye(base, 1, 0.002, conf), noL), "pupils_l")
    write(without(PlantedSessions.eye(base, -1, 0.004, conf), noR), "pupils_r")
    write(kinds.indices.map(i => s"s$i").toDF("session"), "sessions")
  }

  override def prepare(in: Path): Unit = dir = in

  def run(): Array[Row] = graft.Queries.qcReportFrom(env.spark,
    table("markers"), table("pupils_l"), table("pupils_r"),
    table("sessions")).collect()

  /** The expected report fields of one eye of one session. */
  private def expectEye(r: Row, sfx: String, hasMarkers: Boolean,
                        hasPupils: Boolean): Option[String] = {
    def g[T](c: String): T = r.getAs[T](s"${c}_$sfx")
    val want: Seq[(String, Any)] =
      if (!hasPupils) Seq("status_pupil" -> "failed", "n_pupils" -> 0L,
        "status_calibration" -> "not run", "status_gaze" -> "not run",
        "status_error" -> "not run", "n_gaze" -> 0L, "planted_ok" -> false)
      else if (!hasMarkers) Seq("status_pupil" -> "ok", "n_pupils" -> per,
        "pct_kept" -> 0.666667, "status_calibration" -> "not run",
        "n_cal_points" -> 0L, "status_gaze" -> "not run",
        "status_error" -> "not run", "n_gaze" -> 0L, "planted_ok" -> false)
      else Seq("status_pupil" -> "ok", "n_pupils" -> per,
        "pct_kept" -> 0.666667, "conf_dec_0" -> 0.55, "conf_dec_10" -> 0.95,
        "status_calibration" -> "ok", "n_cal_points" -> 25L,
        "status_gaze" -> "ok", "n_gaze" -> per, "planted_ok" -> true,
        "status_error" -> "ok", "n_error_points" -> 25L,
        "err_median_ok" -> true, "err_weighted_ok" -> true,
        "excl_frac_ok" -> true)
    want.collectFirst { case (c, v) if g[Any](c) != v =>
      s"${c}_$sfx = ${g[Any](c)}, planted $v" }
  }

  /** Verify each report row against its session's planted kind. */
  def checkRows(rows: Array[Row]): Seq[Op] = {
    val byId = rows.map(r => r.getAs[String]("session") -> r).toMap
    kinds.indices.map { i =>
      val id = s"s$i"
      val k = kinds(i)
      val err = byId.get(id) match {
        case None => Some("no report row")
        case Some(r) =>
          val mk = k != NoMarkers
          val markerErr =
            if (mk && (r.getAs[String]("status_markers") != "ok" ||
              r.getAs[Long]("n_markers_raw") != per ||
              r.getAs[Long]("n_clusters") != 25L ||
              r.getAs[Long]("cov_min") != 3L || r.getAs[Long]("cov_max") != 3L))
              Some(s"marker stats ${r.getAs[String]("status_markers")} " +
                s"raw=${r.getAs[Long]("n_markers_raw")}")
            else if (!mk && r.getAs[String]("status_markers") != "failed")
              Some("markers absent but status_markers is not failed")
            else None
          markerErr
            .orElse(expectEye(r, "l", mk, k != NoPupils && k != DeadLeft))
            .orElse(expectEye(r, "r", mk, k != NoPupils && k != DeadRight))
      }
      Op(id, err)
    } ++ (if (rows.length == nSessions) Nil
          else Seq(Op("row-count", Some(s"${rows.length} rows for $nSessions sessions"))))
  }

  def check(rows: Array[Row]): Pass = Pass(rows.length, Nil, checkRows(rows))

  /** The eye chain of the report, one layer call per span: as-of match,
    * cluster reduction, per-session TPS fit, model apply, error surface.
    * Each call's inputs are materialized before its span opens. */
  def traced(t: Tracer): Pass = {
    val spark = env.spark
    val cfg = Calibrator.Config()
    val markers = graft.CacheRegistry.persistTracked(table("markers"))
    markers.count()
    val eyes = Seq("l" -> DeadLeft, "r" -> DeadRight).map { case (sfx, dead) =>
      val pup = graft.CacheRegistry.persistTracked(table(s"pupils_$sfx"))
      pup.count()
      val expectFits = kinds.count(k => k != NoMarkers && k != NoPupils && k != dead)
      val c0 = env.engine.snapshot()
      val asofRows = t.span("operators.asof_nearest") {
        AsOfJoin.nearest(
          markers.select("session", "timestamp", "norm_x", "norm_y",
            "marker_cluster_index"),
          pup.select(col("session"), col("timestamp"), col("norm_x").as("pnx"),
            col("norm_y").as("pny"), col("confidence")),
          "timestamp", "timestamp", Seq("session"), rightPrefix = "p_",
          tolerance = Some(1.0 / 60.0)).count()
      }
      val asofShuffle = (env.engine.snapshot() - c0).shuffleWriteBytes
      val reduced = t.span("model.reduce") {
        val r = graft.CacheRegistry.persistTracked(SessionCalibrator
          .reducedPoints(markers, pup, "session", 1.0 / 60.0, cfg.minConfidence))
        r.count(); r
      }
      val (models, nModels) = t.span("model.fit") {
        val m = graft.CacheRegistry.persistTracked(
          SessionCalibrator.fitModels(spark, reduced, "session", cfg))
        (m, m.count())
      }
      val (gaze, nGaze) = t.span("model.apply") {
        val g = graft.CacheRegistry.persistTracked(SessionCalibrator
          .transform(pup, models, "session",
            carry = Seq("norm_x" -> "px", "norm_y" -> "py")))
        (g, g.count())
      }
      val nErr = t.span("model.error") {
        ErrorMap.summaryBySession(markers,
          gaze.select(col("session"), col("timestamp"),
            col("gaze_x").as("norm_x"), col("gaze_y").as("norm_y"),
            col("confidence")),
          "session", ErrorMap.Config(resolution = (60, 80),
            outlierStds = None)).count()
      }
      val (fx, fy) = PlantedSessions.forwardAffine(col("px"), col("py"))
      val offAffine = gaze.filter(abs(col("gaze_x") - fx) >= 0.01 ||
        abs(col("gaze_y") - fy) >= 0.01).count()
      val ops = Seq(
        Op(s"fit_$sfx", if (nModels == expectFits) None
          else Some(s"$nModels models for $expectFits fittable sessions")),
        Op(s"apply_$sfx", if (nGaze == expectFits * per && offAffine == 0) None
          else Some(s"$nGaze gaze rows, $offAffine off the planted affine")),
        Op(s"error_$sfx", if (nErr == expectFits) None
          else Some(s"$nErr error rows for $expectFits fits")))
      (ops, Map(
        "operators.asof_nearest_rows" -> asofRows.toDouble,
        "operators.asof_nearest_shuffle_mb" -> Stats.mb(asofShuffle),
        "model.fit_ok_ratio" -> nModels.toDouble / math.max(1, expectFits) / 2,
        "model.apply_rows" -> nGaze.toDouble))
    }
    val s = t.traceSeconds
    val counts = eyes.map(_._2).reduce((a, b) =>
      a.map { case (k, v) => k -> (v + b(k)) })
    Pass(nSessions, Nil, eyes.flatMap(_._1), counts ++ Map(
      "operators.asof_nearest_s" -> s("operators.asof_nearest"),
      "model.reduce_s" -> s("model.reduce"),
      "model.fit_s" -> s("model.fit"),
      "model.apply_s" -> s("model.apply"),
      "model.error_s" -> s("model.error")))
  }
}
