package graft.model

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** M9: the calibration orchestrator — "fit small, apply big".
  *
  * Mirrors the reference `Calibration` class (calibration.py:467-720):
  *  1. J2 nearest-frame match of pupils to calibration-marker timestamps
  *     (match_time_points with window=None, calibration.py:534);
  *  2. confidence filter (default 0.75, the default pipeline tag
  *     pipelines.py:560-568);
  *  3. cluster-reduce to one (marker, pupil) pair per marker cluster
  *     (median, calibration.py:549-582);
  *  4. driver-side fit (tens-to-hundreds of points) dispatched on
  *     `calibrationType`: monocular_pl (two-pass poly), monocular_tps,
  *     monocular_tps_cv (LOO-CV λ + outlier cut, calibration.py:348-412).
  *
  * Steps 1-3 run as one Spark task over the session's arrays
  * ([[SessionPoints]]): the marker table is collected, the pupils are
  * matched, gated and reduced in `coalesce(1).mapPartitions`, and the
  * reduced points come back in cluster order, so the fit input order is
  * deterministic. One session sits on one partition either way; the
  * keyed multi-session form is [[SessionCalibrator]].
  *
  * The returned [[GazeModel]] applies distributively as Column arithmetic.
  */
object Calibrator {

  /** Default λ grid: logspace(1e-6 → 10, 16), calibration.py DEFAULT_LAMBDA_LIST. */
  val DefaultLambdas: Array[Double] = {
    val lo = math.log10(1e-6); val hi = math.log10(10.0)
    Array.tabulate(16)(i => math.pow(10, lo + (hi - lo) * i / 15.0))
  }

  case class Config(
      calibrationType: String = "monocular_tps_cv",
      minConfidence: Double = 0.75,
      lambdas: Array[Double] = DefaultLambdas,
      maxStdsForOutliers: Option[Double] = Some(3.0),
      clusterReduce: Boolean = true,
      frameSize: (Double, Double) = (1.0, 1.0))

  /** Steps 1-3 on one session: the reduced (marker, pupil) points, one
    * row per marker cluster in cluster order (or per marker row, in table
    * order, when clusterReduce = false or the table has no
    * marker_cluster_index). The markers are collected to the driver and
    * the pupils matched, gated and reduced in one task
    * ([[SessionPoints]]). Rows: marker_cluster_index, mx, my, px, py.
    *
    * markers: timestamp, norm_x, norm_y [, marker_cluster_index]
    * pupils:  timestamp, norm_x, norm_y, confidence
    */
  private[model] def calibrationPoints(markers: DataFrame, pupils: DataFrame,
                                       cfg: Config): Array[Row] = {
    // NEAREST-frame matching: the executed calibration path calls
    // match_time_points with window=None (calibration.py:534 →
    // utils.py:78-105) — argmin |t_pupil − t_marker| per marker row, all
    // pupil fields taken from that single row. The confidence gate then
    // applies to the MATCHED rows (calibration.py:555-560). The
    // windowed-median variant (marker_parsing.py:554-556) sits in a branch
    // that raises NotImplementedError and is deliberately not used here.
    val points = SessionPoints(markers, cfg.minConfidence, cfg.clusterReduce)
    SessionPoints.rightColumns(pupils).coalesce(1)
      .mapPartitions(it => points(it.toArray).iterator)(Encoders.row(SessionPoints.Schema))
      .collect()
  }

  def fit(markers: DataFrame, pupils: DataFrame,
          cfg: Config = Config()): Option[GazeModel] = {
    val pts = calibrationPoints(markers, pupils, cfg)
    fitPoints(pts.map(r => Array(r.getDouble(3), r.getDouble(4))),
      pts.map(_.getDouble(1)), pts.map(_.getDouble(2)), cfg)
  }

  /** Driver-side dispatch on reduced points (pupil xy → marker xy). */
  def fitPoints(pxy: Array[Array[Double]], mx: Array[Double], my: Array[Double],
                cfg: Config): Option[GazeModel] = cfg.calibrationType match {
    case "monocular_pl" =>
      Poly.calibrate(pxy, mx, my, n = 7, screenSize = cfg.frameSize)
    case "monocular_tps" =>
      val l = 0.01
      Some(TpsMapModel(pxy, Tps.fit(pxy, mx, l), pxy, Tps.fit(pxy, my, l)))
    case "monocular_tps_cv" =>
      Some(fitTpsCv(pxy, mx, my, cfg.lambdas, cfg.maxStdsForOutliers))
    case "monocular_rbf_cv" =>
      // M7: the reference's exact grid (calibration.py:239-245):
      // smoothnesses np.linspace(-0.001, 10, 100) OUTER × methods
      // ['thin-plate','multiquadric','linear','cubic'] inner — argmin over
      // errors[s, m] row-major, so first-minimum tie-break follows the
      // same iteration order
      val kernels = Seq("thin_plate", "multiquadric", "linear", "cubic")
      val smooths = Array.tabulate(100)(i => -0.001 + (10.0 + 0.001) * i / 99)
      val (k, s, _) = Rbf.looSelect(pxy, mx, my, kernels, smooths.toSeq)
      Some(RbfMapModel(Rbf.fit(pxy, mx, k, s), Rbf.fit(pxy, my, k, s)))
    case other =>
      throw new IllegalArgumentException(s"unknown calibrationType $other")
  }

  /** M6: _fit_tps_gaze_cv (calibration.py:348-412). LOO over the λ grid on
    * BOTH axes jointly (error = per-point L2 of the 2-D residual, from
    * [[Tps.looResiduals]]); optional one-shot outlier cut at median + k·std
    * of the λ-averaged per-point error, then re-run CV without further
    * cuts; final fit at argmin λ (first minimum, numpy argmin). */
  def fitTpsCv(pxy: Array[Array[Double]], mx: Array[Double], my: Array[Double],
               lambdas: Array[Double], maxStds: Option[Double]): TpsMapModel = {
    val n = pxy.length
    // errors(iλ)(iPoint) = ‖LOO prediction − truth‖₂
    val errors = lambdas.map { l =>
      val r = Tps.looResiduals(pxy, Seq(mx, my), l)
      val ex = r(0); val ey = r(1)
      Array.tabulate(n)(j => math.sqrt(ex(j) * ex(j) + ey(j) * ey(j)))
    }
    maxStds match {
      case Some(k) =>
        val perPt = Array.tabulate(n)(j => errors.map(_(j)).sum / lambdas.length)
        val cut = Stats.median(perPt) + k * Stats.stdPop(perPt)
        val keep = perPt.zipWithIndex.collect { case (e, i) if e <= cut => i }
        if (keep.length < n)
          // non-recursive: re-run CV on the kept points with no further cut
          fitTpsCv(keep.map(pxy), keep.map(mx), keep.map(my), lambdas, None)
        else finalFit(pxy, mx, my, lambdas, errors)
      case None => finalFit(pxy, mx, my, lambdas, errors)
    }
  }

  /** Binocular artifact: the 4-input joint map plus per-eye fallbacks
    * (calibrate_2d_binocular, calibration.py:212-236 — mapper args
    * params / params_eye0 / params_eye1). */
  case class BinocularModels(bino: PolyBinocularModel, eye0: PolyMapModel,
                             eye1: PolyMapModel)

  /** binocular_pl: J3 triple-match markers to BOTH eyes' pupils (nearest
    * each, dispersion < 1/15 s), then fit the n=13 joint polynomial and
    * the two n=7 per-eye fallbacks, each with the two-pass robust cut.
    * Returns None when any of the three fits rejects all points. */
  def fitBinocular(markers: DataFrame, pupils0: DataFrame, pupils1: DataFrame,
                   cfg: Config = Config()): Option[BinocularModels] = {
    import graft.operators.AsOfJoin
    val m = markers.select(col("timestamp"), col("norm_x").as("mx"),
      col("norm_y").as("my"))
    def eye(df: DataFrame, p: String) = df.select(
      col("timestamp"), col("norm_x").as(s"${p}x"),
      col("norm_y").as(s"${p}y"), col("confidence").as(s"${p}c"))
    val matched = AsOfJoin.triple(m,
        eye(pupils0, "p0"), eye(pupils1, "p1"),
        "timestamp", "timestamp", "timestamp", Nil)
      .filter(col("a_p0c") > cfg.minConfidence &&
        col("b_p1c") > cfg.minConfidence)
      .select("a_p0x", "a_p0y", "b_p1x", "b_p1y", "mx", "my").collect()
    val ins = matched.map(r => Array(r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3)))
    val mx = matched.map(_.getDouble(4)); val my = matched.map(_.getDouble(5))
    if (ins.length < 17) return None
    for {
      b <- Poly.calibrateRaw(ins, mx, my, n = 13, screenSize = cfg.frameSize)
        .map { case (cx, cy) => PolyBinocularModel(cx, cy, 13) }
      e0 <- Poly.calibrate(ins.map(a => Array(a(0), a(1))), mx, my, n = 7,
        screenSize = cfg.frameSize)
      e1 <- Poly.calibrate(ins.map(a => Array(a(2), a(3))), mx, my, n = 7,
        screenSize = cfg.frameSize)
    } yield BinocularModels(b, e0, e1)
  }

  private def finalFit(pxy: Array[Array[Double]], mx: Array[Double],
                       my: Array[Double], lambdas: Array[Double],
                       errors: Array[Array[Double]]): TpsMapModel = {
    val l = lambdas(Stats.argmin(errors.map(e => e.sum / e.length)))
    val (tx, ty) = Tps.fit2(pxy, mx, my, l)
    TpsMapModel(pxy, tx, pxy, ty)
  }
}
