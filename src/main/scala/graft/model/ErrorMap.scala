package graft.model

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.operators.AsOfJoin

/** M11: spatially-interpolated gaze-error surface
  * (compute_error, vedb_gaze/error_computation.py:18-225),
  * in three forms:
  *
  *  - [[summary]]: one session's summary row, the pipelines' error stage.
  *    Match → reduce ([[SessionPoints]]) → per-point error → occupied
  *    gaze-histogram cells → the model work, run in one Spark task over
  *    the session's arrays; the vres×hres grid is never built, because
  *    empty cells carry no gaze weight.
  *  - [[summaryBySession]]: the same per-session work, once per session
  *    of a corpus: markers and gaze cogrouped by session, one task per
  *    session ([[SessionPoints.bySession]]).
  *  - [[compute]]: the distributed reference form that also returns the
  *    points and the full grid: matching (as-of join), per-point error
  *    (arithmetic), the grid evaluation (sequence crossJoin + the TPS
  *    Column expression) and the histogram / weighted summary (groupBy +
  *    join), with the hull as a conjunction of half-plane Column
  *    predicates. The summary forms are parity-checked against it.
  *
  * The model work is the same in every form: the TPS LOO-CV fit over
  * ≤ ~10² reduced points and the convex hull (≤ 10² vertices) that
  * replaces scipy-griddata's "no extrapolation" masking.
  */
object ErrorMap {

  case class Config(
      minPupilConfidence: Double = 0.6,
      outlierStds: Option[Double] = Some(4.0),
      lambdas: Array[Double] = Calibrator.DefaultLambdas,
      resolution: (Int, Int) = (300, 400), // (vres, hres)
      imageResolution: (Double, Double) = (2048.0, 1536.0),
      degreesHoriz: Double = 101.0,
      degreesVert: Double = 75.75,
      clusterReduce: Boolean = true,
      extrapolate: Boolean = false,
      /** equality keys for the marker↔gaze nearest match and the cluster
        * reduction. `compute` remains PER-SESSION semantics end to end —
        * the outlier stats, TPS surface fit, hull, and summary pool every
        * reduced point into one model, exactly like the reference
        * (error_computation.py:18-225) — so pass a key that is constant
        * over the input (the flagship passes its single session column to
        * keep the as-of join's windows partitioned instead of a keyless
        * single-partition `Window.orderBy` stage). Multi-session error
        * summaries = one [[summary]] per session (pipeline_mri's per-epoch
        * loop; `summary` takes no keys) or [[summaryBySession]]. */
      matchKeys: Seq[String] = Nil)

  case class Result(
      /** one row per reduced point: mx, my, gx, gy, err_deg, err_angle —
        * plus, when clusterReduce is on, the matchKeys columns and
        * marker_cluster_index the reduction grouped by */
      points: DataFrame,
      /** long-form error surface: iy, ix, x, y, err (null = outside hull) */
      grid: DataFrame,
      /** single row: gaze_err_weighted, gaze_fraction_excluded, n_points,
        * err_median, err_mean */
      summary: DataFrame)

  def pixelsPerDegree(cfg: Config): Double = {
    val h = cfg.imageResolution._1 / cfg.degreesHoriz
    val v = cfg.imageResolution._2 / cfg.degreesVert
    (h + v) / 2.0
  }

  /** markers: timestamp, norm_x, norm_y [, marker_cluster_index];
    * gaze: timestamp, norm_x, norm_y, confidence. */
  def compute(markers: DataFrame, gaze: DataFrame, cfg: Config = Config()): Result = {
    val spark = markers.sparkSession
    import spark.implicits._
    val ppd = pixelsPerDegree(cfg)

    // 1. nearest-gaze match per marker timestamp (match_time_points default)
    val matched = AsOfJoin.nearest(
        markers,
        gaze.select((cfg.matchKeys.map(col) :+ col("timestamp") :+
          col("norm_x").as("gx") :+ col("norm_y").as("gy") :+
          col("confidence")): _*),
        "timestamp", "timestamp", cfg.matchKeys, rightPrefix = "g_")
      .filter(col("g_confidence") > cfg.minPupilConfidence)
      .withColumnRenamed("g_gx", "gx").withColumnRenamed("g_gy", "gy")

    // 2. cluster reduction (median per marker cluster; keyed by matchKeys
    // too so a non-constant key can never merge same-numbered clusters of
    // different sessions — though per the Config contract the key should
    // be constant here)
    val reduced =
      if (cfg.clusterReduce && matched.columns.contains("marker_cluster_index"))
        matched.groupBy(
            (cfg.matchKeys.map(col) :+ col("marker_cluster_index")): _*).agg(
          expr("percentile(norm_x, 0.5)").as("mx"),
          expr("percentile(norm_y, 0.5)").as("my"),
          expr("percentile(gx, 0.5)").as("gx"),
          expr("percentile(gy, 0.5)").as("gy"))
      else matched.select(col("norm_x").as("mx"), col("norm_y").as("my"),
        col("gx"), col("gy"))

    // 3. per-point angular error (degrees) + error angle
    val (iw, ih) = cfg.imageResolution
    val exPix = (col("gx") - col("mx")) * iw
    val eyPix = (col("gy") - col("my")) * ih
    // persisted (tracked): the reduced table feeds three consumers — the
    // outlier-stat collect, the point-array collect, and the returned
    // points frame — each an action over the match+reduce lineage
    val withErr = graft.CacheRegistry.persistTracked(reduced
      .withColumn("err_deg", sqrt(exPix * exPix + eyPix * eyPix) / ppd)
      .withColumn("err_angle", atan2(exPix, eyPix)))

    // 4. outlier cut: |err - median| > k·std_pop → drop (driver stats on the
    // reduced table; tiny). Then require >= 4 points.
    val errVals = withErr.select(col("err_deg")).collect().map(_.getDouble(0))
    val pts = cfg.outlierStds match {
      case Some(k) if errVals.nonEmpty =>
        val med = Stats.median(errVals); val sd = Stats.stdPop(errVals)
        withErr.filter(abs(col("err_deg") - med) <= k * sd)
      case _ => withErr
    }
    val ptArr = pts.select("mx", "my", "err_deg").collect()
      .map(r => (Array(r.getDouble(0), r.getDouble(1)), r.getDouble(2)))
    require(ptArr.length >= 4,
      s"Too few points to compute error across visual field (${ptArr.length})")
    val anchors = ptArr.map(_._1)
    val errs = ptArr.map(_._2)
    val minErr = errs.min

    // 5. TPS LOO-CV fit of the error surface (RMS metric,
    // error_computation.py:183-193)
    val (bestI, _) = Tps.looSelect(anchors, errs, cfg.lambdas,
      resid => math.sqrt(resid.map(r => r * r).sum / resid.length))
    val theta = Tps.fit(anchors, errs, cfg.lambdas(bestI))

    // 6. distributed grid evaluation with convex-hull masking
    val (vres, hres) = cfg.resolution
    val xs = col("ix").cast("double") / (hres - 1)
    val ys = col("iy").cast("double") / (vres - 1)
    val gridBase = spark.range(vres).toDF("iy")
      .crossJoin(spark.range(hres).toDF("ix"))
      .withColumn("x", xs).withColumn("y", ys)
    val inHull = hullPredicate(anchors, col("x"), col("y"), cfg.extrapolate)
    val errCol = greatest(
      TpsMapModel.tpsCol(col("x"), col("y"), anchors, theta), lit(minErr))
    val grid = gridBase.withColumn("err",
      when(inHull, errCol).otherwise(lit(null).cast("double")))

    // 7. gaze 2-D histogram over the grid bins + weighted session error
    val hist = gaze
      .filter(col("norm_x").between(0, 1) && col("norm_y").between(0, 1))
      .withColumn("ix", least(floor(col("norm_x") * hres), lit(hres - 1)).cast("long"))
      .withColumn("iy", least(floor(col("norm_y") * vres), lit(vres - 1)).cast("long"))
      .groupBy("ix", "iy").agg(count(lit(1)).as("n_gaze"))
    val joined = grid.join(hist, Seq("ix", "iy"), "left")
      .withColumn("n_gaze", coalesce(col("n_gaze"), lit(0L)))
    val summary = joined.agg(
        sum(col("n_gaze")).as("_total"),
        sum(when(col("err").isNotNull, col("n_gaze")).otherwise(0L)).as("_in"),
        sum(when(col("err").isNotNull, col("n_gaze") * col("err"))).as("_werr"))
      .select(
        // guard the empty-inside / empty-total edges: the weighted mean
        // over an empty set is null (ANSI division would throw on the
        // zero ratio), and the in>0 branch keeps the reference's exact
        // double-rounding shape for oracle parity
        when(col("_in") > 0,
          col("_werr") / col("_total") / (col("_in") / col("_total")))
          .as("gaze_err_weighted"),
        when(col("_total") > 0,
          (col("_total") - col("_in")) / col("_total"))
          .as("gaze_fraction_excluded"),
        lit(ptArr.length).as("n_points"),
        lit(Stats.median(errs)).as("err_median"),
        lit(Stats.mean(errs)).as("err_mean"))

    Result(pts, grid, summary)
  }

  /** The single-session summary row of [[compute]] without the grid:
    * `gaze_err_weighted, gaze_fraction_excluded, n_points: int,
    * err_median, err_mean` (the schema of `compute(...).summary`).
    *
    * Plan: the markers are collected, then `coalesce(1).mapPartitions`
    * runs the nearest match, confidence gate and cluster reduction
    * ([[SessionPoints]]), the per-point angular error, the occupied gaze
    * histogram cells and the model work shared with [[summaryBySession]]
    * in one task — one job for the markers, one for the consumer. Fewer than 4
    * points after the outlier cut raise the reference's too-few-points
    * requirement (error_computation.py:149) when the row is computed. */
  def summary(markers: DataFrame, gaze: DataFrame, cfg: Config = Config()): DataFrame = {
    require(cfg.matchKeys.isEmpty,
      s"summary is single-session; Config.matchKeys (${cfg.matchKeys.mkString(",")}) " +
        "would be ignored")
    val points = SessionPoints(markers, cfg.minPupilConfidence, cfg.clusterReduce)
    SessionPoints.rightColumns(gaze).coalesce(1).mapPartitions { it =>
      sessionError(points, it.toArray, cfg) match {
        case Left(n) =>
          throw new IllegalArgumentException(
            s"requirement failed: Too few points to compute error across visual field ($n)")
        case Right(s) => Iterator(Row(s.weighted.map(Double.box).orNull,
          s.excluded.map(Double.box).orNull, s.nPoints, s.errMedian, s.errMean))
      }
    }(Encoders.row(SummarySchema))
  }

  private val SummarySchema = StructType(Seq(
    StructField("gaze_err_weighted", DoubleType),
    StructField("gaze_fraction_excluded", DoubleType),
    StructField("n_points", IntegerType, nullable = false),
    StructField("err_median", DoubleType, nullable = false),
    StructField("err_mean", DoubleType, nullable = false)))

  /** One session's summary; the weighted fields are None when they are
    * undefined (no in-frame gaze, or none inside the hull). */
  private[model] final case class SessionSummary(
      nPoints: Int, errMedian: Double, errMean: Double,
      weighted: Option[Double], excluded: Option[Double])

  /** One session's summary, shared by [[summary]] and [[summaryBySession]]:
    * the session's points ([[SessionPoints]] over its gaze rows, in
    * [[SessionPoints.rightColumns]] order) → per-point angular error →
    * the occupied gaze-histogram cells (the [[compute]] step-7 binning)
    * → [[sessionSummary]]. */
  private def sessionError(points: SessionPoints, gaze: Array[Row],
                           cfg: Config): Either[Int, SessionSummary] = {
    val ppd = pixelsPerDegree(cfg)
    val (iw, ih) = cfg.imageResolution
    val (vres, hres) = cfg.resolution
    val pts = points(gaze).map { p =>
      val exPix = (p.getDouble(3) - p.getDouble(1)) * iw
      val eyPix = (p.getDouble(4) - p.getDouble(2)) * ih
      (p.getDouble(1), p.getDouble(2), math.sqrt(exPix * exPix + eyPix * eyPix) / ppd)
    }
    val counts = new Array[Long](vres * hres)
    gaze.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        val (x, y) = (r.getDouble(1), r.getDouble(2))
        if (x >= 0 && x <= 1 && y >= 0 && y <= 1)
          counts(math.min(math.floor(y * vres).toInt, vres - 1) * hres +
            math.min(math.floor(x * hres).toInt, hres - 1)) += 1
      }
    }
    sessionSummary(pts, counts.indices.iterator.filter(counts(_) > 0)
      .map(i => ((i % hres).toLong, (i / hres).toLong, counts(i))), cfg)
  }

  /** The per-session model work of [[sessionError]]: outlier cut → TPS
    * LOO-CV fit of the error surface → convex hull → gaze-weighted sums
    * over the occupied histogram cells. `points` are (mx, my, err_deg),
    * `cells` (ix, iy, gaze count). Left: the number of kept points when
    * it is below 4. */
  private[model] def sessionSummary(points: Array[(Double, Double, Double)],
                                    cells: Iterator[(Long, Long, Long)],
                                    cfg: Config): Either[Int, SessionSummary] = {
    val (vres, hres) = cfg.resolution
    // deterministic fit-input order (shuffle-independent), the
    // SessionCalibrator discipline
    val rows = points.sortBy(r => (r._1, r._2, r._3))
    // outlier cut — [[compute]] step 4
    val all = rows.map(_._3)
    val kept = cfg.outlierStds match {
      case Some(k) if rows.nonEmpty =>
        val med = Stats.median(all); val sd = Stats.stdPop(all)
        rows.filter(r => math.abs(r._3 - med) <= k * sd)
      case _ => rows
    }
    if (kept.length < 4) return Left(kept.length)
    val anchors = kept.map(r => Array(r._1, r._2))
    val errs = kept.map(_._3)
    val minErr = errs.min
    val (bestI, _) = Tps.looSelect(anchors, errs, cfg.lambdas,
      resid => math.sqrt(resid.map(r => r * r).sum / resid.length))
    val theta = Tps.fit(anchors, errs, cfg.lambdas(bestI))
    // hull membership — the same CCW half-plane rule as
    // [[hullPredicate]], evaluated in-task
    val hull = convexHull(anchors)
    def inHull(x: Double, y: Double): Boolean = cfg.extrapolate || (
      hull.length >= 3 && hull.indices.forall { i =>
        val a = hull(i); val b = hull((i + 1) % hull.length)
        (b(0) - a(0)) * (y - a(1)) - (b(1) - a(1)) * (x - a(0)) >= 0
      })
    var total = 0L; var inside = 0L; var werr = 0.0
    cells.foreach { case (ix, iy, n) =>
      total += n
      val x = ix.toDouble / (hres - 1)
      val y = iy.toDouble / (vres - 1)
      if (inHull(x, y)) {
        inside += n
        werr += n * math.max(Tps.z(x, y, anchors, theta), minErr)
      }
    }
    // no in-frame gaze: the FIT succeeded (>= 4 kept points), only the
    // gaze weighting is undefined — null weighted fields, not a failure
    // (a failure would make the QC report call a healthy fit "failed").
    // inside == 0 with total > 0: every gaze cell fell outside the hull,
    // a weighted mean over an empty set; SQL sum over an empty when-set
    // is null, so compute() emits null there, and 0.0/0.0 would be NaN
    // and break null-aware gates downstream (qc err_weighted_ok).
    Right(SessionSummary(kept.length, Stats.median(errs), Stats.mean(errs),
      if (inside == 0) None else Some(werr / total / (inside.toDouble / total)),
      if (total == 0) None else Some((total - inside).toDouble / total)))
  }

  /** PER-SESSION weighted-error summaries, distributed — the QC-report
    * shape of [[compute]] (plot_session_qc's per-eye 'Err: med, wt'
    * panel, visualization.py:1134-1147, over a whole session corpus).
    *
    * [[compute]] is single-session by contract: its outlier stats, TPS
    * fit, and hull run on the driver, so "one compute per session" is a
    * driver loop — the anti-pattern at 10⁵ sessions. This form groups the
    * markers and the gaze by session (one cogroup, [[SessionPoints.bySession]])
    * and runs [[summary]]'s per-session work in the session's task: the
    * nearest match, gate and cluster reduction ([[SessionPoints]]), the
    * per-point error, the OCCUPIED gaze-histogram cells — the vres×hres
    * grid is never materialized at all, because empty cells contribute
    * zero to every summary sum (they carry no gaze weight) — and the
    * model work (outlier cut → TPS LOO-CV fit → hull → weighted summary).
    * The task holds the session's marker and gaze rows; each session's fit
    * is pure JVM work on one executor (the [[SessionCalibrator.fitModels]]
    * discipline).
    *
    * Same numbers as [[compute]].summary per session (parity-spec'd to
    * fp tolerance — anchor order inside the linear solve is the only
    * difference): `session` (as a string), `n_points, err_median, err_mean,
    * gaze_err_weighted, gaze_fraction_excluded`. Sessions whose reduced
    * points number < 4 after the outlier cut (the reference's too-few-
    * points failure, error_computation.py:149) emit NO row — the
    * caller's left-join reads the absence as a failed error step, the
    * check_failed semantics of plot_session_qc. */
  def summaryBySession(markers: DataFrame, gaze: DataFrame,
                       sessionCol: String,
                       cfg: Config = Config()): DataFrame = {
    // sessionCol IS the match key of this form (the per-session analog
    // of compute's matchKeys); extra keys would silently change the
    // reduction grain, so reject them loudly rather than ignore them
    require(cfg.matchKeys.isEmpty,
      s"summaryBySession keys by '$sessionCol'; Config.matchKeys " +
        s"(${cfg.matchKeys.mkString(",")}) would be silently ignored — " +
        "fold them into the session column instead")
    val schema = StructType(Seq(
      StructField(sessionCol, markers.schema(sessionCol).dataType),
      StructField("n_points", LongType, nullable = false),
      StructField("err_median", DoubleType, nullable = false),
      StructField("err_mean", DoubleType, nullable = false),
      StructField("gaze_err_weighted", DoubleType),
      StructField("gaze_fraction_excluded", DoubleType)))
    SessionPoints.bySession(markers, gaze, sessionCol,
        SessionPoints.byCluster(markers, cfg.clusterReduce),
        cfg.minPupilConfidence, None) { (session, points, rows) =>
        sessionError(points, rows, cfg) match {
          // row ABSENCE is the too-few-points failure
          case Left(_) => Iterator.empty
          case Right(s) => Iterator(Row(session, s.nPoints.toLong, s.errMedian,
            s.errMean, s.weighted.map(Double.box).orNull,
            s.excluded.map(Double.box).orNull))
        }
      }(Encoders.row(schema))
      .withColumn(sessionCol, col(sessionCol).cast("string"))
  }

  /** Convex hull of the anchor points (driver-side monotone chain) as a
    * conjunction of half-plane predicates — the declarative stand-in for
    * scipy griddata's convex-hull interpolation domain. */
  def hullPredicate(points: Array[Array[Double]], x: Column, y: Column,
                    extrapolate: Boolean): Column = {
    if (extrapolate) return lit(true)
    val hull = convexHull(points)
    if (hull.length < 3) return lit(false)
    // inside (CCW hull): cross((b-a), (p-a)) >= 0 for every edge
    hull.indices.map { i =>
      val a = hull(i); val b = hull((i + 1) % hull.length)
      ((lit(b(0) - a(0))) * (y - a(1)) - (lit(b(1) - a(1))) * (x - a(0))) >= 0
    }.reduce(_ && _)
  }

  /** Andrew's monotone chain, CCW order. */
  def convexHull(points: Array[Array[Double]]): Array[Array[Double]] = {
    val pts = points.map(p => (p(0), p(1))).distinct.sorted
    if (pts.length <= 2) return pts.map(p => Array(p._1, p._2))
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    (lower.dropRight(1) ++ upper.dropRight(1)).toArray.map(p => Array(p._1, p._2))
  }
}
