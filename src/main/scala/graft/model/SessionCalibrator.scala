package graft.model

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Multi-session calibration fan-out — the 100 TB shape (and the
  * reference's pipeline_mri layout, pipelines.py:826-1041: one fitted
  * model reused across many runs/epochs).
  *
  * The corpus axis is sessions: the match → gate → cluster reduction runs
  * distributed, one [[SessionPoints]] per session in a cogroup of markers
  * and pupils BY SESSION, and each session's TPS-CV model is
  * fitted INSIDE `flatMapGroups` over the reduced points — embarrassingly
  * parallel across executors, nothing but the model table ever exists on
  * the driver. The fitted models become a MODEL TABLE (session, anchors_x,
  * anchors_y, theta_x, theta_y) that broadcast-joins onto the full pupil
  * stream and evaluates via the data-driven TPS columns — a single map
  * stage over 10¹² rows, no per-session literals, no driver round-trips.
  */
object SessionCalibrator {

  /** Distributed cluster-median reduction per session: each session's
    * markers nearest-matched to its pupils (match_time_points window=None
    * parity), confidence-gated on the matched rows, reduced to one
    * (marker, pupil) pair per (session, cluster) — one [[SessionPoints]]
    * per session in a cogroup of the two tables by session
    * ([[SessionPoints.bySession]]). `window` bounds the nearest match (a
    * marker whose closest pupil is further than `window` away is dropped)
    * — corpus hygiene for sessions with pupil dropouts; pass
    * Double.MaxValue for the reference's unbounded behavior.
    * Rows: session, marker_cluster_index (both in the markers' types),
    * mx, my, px, py. */
  def reducedPoints(markers: DataFrame, pupils: DataFrame,
                    sessionCol: String, window: Double,
                    minConfidence: Double): DataFrame = {
    val schema = StructType(StructField(sessionCol, markers.schema(sessionCol).dataType) +:
      SessionPoints.Schema.fields)
    SessionPoints.bySession(markers, pupils, sessionCol, byCluster = true,
        minConfidence, Some(window)) { (session, points, rows) =>
        points(rows).iterator.map(p => Row.fromSeq(session +: p.toSeq))
      }(Encoders.row(schema))
      .select(col(sessionCol), col("marker_cluster_index")
          .cast(markers.schema("marker_cluster_index").dataType).as("marker_cluster_index"),
        col("mx"), col("my"), col("rx").as("px"), col("ry").as("py"))
  }

  /** Fit one TPS-CV model per session over the reduced points; returns
    * the model table. Sessions with < minPoints reduced clusters are
    * dropped (the reference's too-few-clusters None gate). Any other
    * `cfg.calibrationType` throws IllegalArgumentException.
    *
    * Distributed: the fits run inside `flatMapGroups` over the session key
    * — one shuffle of the already-reduced points (10¹-10² rows/session),
    * then each executor fits its sessions' TPS-CV models independently
    * (`Calibrator.fitTpsCv` is pure JVM/Breeze). At 10⁵-10⁶ sessions the
    * 16λ × LOO(N) × O(N³) fits are the pipeline's dominant compute; this
    * shape spreads them across the cluster instead of serializing them on
    * the driver. Rows are sorted within each group so the fit input order
    * (and thus the anchor/theta layout) is shuffle-independent. */
  def fitModels(spark: SparkSession, reduced: DataFrame, sessionCol: String,
                cfg: Calibrator.Config = Calibrator.Config(),
                minPoints: Int = 4): DataFrame = {
    require(cfg.calibrationType == "monocular_tps_cv",
      s"fitModels fits monocular_tps_cv only, not calibrationType ${cfg.calibrationType}")
    import spark.implicits._
    val lambdas = cfg.lambdas
    val maxStds = cfg.maxStdsForOutliers
    reduced
      .select(col(sessionCol).cast("string"), col("px"), col("py"),
        col("mx"), col("my"))
      .as[(String, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (session: String, it: Iterator[(String, Double, Double, Double, Double)]) =>
        val rs = it.toArray.sortBy(r => (r._4, r._5, r._2, r._3))
        if (rs.length < minPoints) Iterator.empty
        else {
          val pxy = rs.map(r => Array(r._2, r._3))
          val m = Calibrator.fitTpsCv(pxy, rs.map(_._4), rs.map(_._5),
            lambdas, maxStds)
          Iterator((session,
            m.anchorsX.map(_(0)).toSeq, m.anchorsX.map(_(1)).toSeq,
            m.thetaX.toSeq, m.thetaY.toSeq))
        }
      }
      .toDF(sessionCol, "ax", "ay", "theta_x", "theta_y")
  }

  /** Apply the model table to the full pupil stream: keyed join by
    * session + data-driven TPS evaluation. Pupils of sessions without a
    * model are dropped (inner join), mirroring the reference's
    * failed-calibration short-circuit.
    *
    * The broadcast hint is SIZE-GATED, not unconditional: the model table
    * broadcasts while it holds ≤ `maxBroadcastSessions` rows (checked
    * with a `limit(n+1).count()` probe — bounded work however large the
    * table, and against the already-persisted table in the
    * [[fitTransform]] path it is a cache read). Beyond the gate the hint
    * is dropped and Spark's own strategy (AQE shuffled-hash/sort-merge on
    * the session key) takes over — at the 10⁵-10⁶-session design point a
    * model table of KB-sized TPS rows stops being broadcast-material, and
    * a forced broadcast there is an executor OOM, not an optimization. */
  def transform(pupils: DataFrame, models: DataFrame, sessionCol: String,
                maxBroadcastSessions: Long = 10000L,
                carry: Seq[(String, String)] = Nil): DataFrame = {
    val probe = math.min(maxBroadcastSessions + 1, Int.MaxValue.toLong).toInt
    val modelSide =
      if (models.limit(probe).count() <= maxBroadcastSessions) broadcast(models)
      else models
    val joined = pupils.join(modelSide, Seq(sessionCol))
    val gx = TpsMapModel.tpsColFromColumns(col("norm_x"), col("norm_y"),
      col("ax"), col("ay"), col("theta_x"))
    val gy = TpsMapModel.tpsColFromColumns(col("norm_x"), col("norm_y"),
      col("ax"), col("ay"), col("theta_y"))
    // `carry`: (pupilCol → outName) columns riding the map apply — a
    // consumer that needs pupil fields next to the gaze (the planted-
    // affine checks) reads them HERE instead of re-joining the mapped
    // stream back onto the pupil stream on (session, timestamp): that
    // join is a full double shuffle of the corpus-sized stream (the r17
    // optimization pass removed one per eye-chain; guide §2.4 — remove
    // shuffles outright). Row set is untouched: carry only widens the
    // projection of the same broadcast-join apply.
    joined.select(Seq(col(sessionCol), col("timestamp"), gx.as("gaze_x"),
      gy.as("gaze_y"), col("confidence")) ++
      carry.map { case (src, out) => col(src).as(out) }: _*)
  }

  /** The full fan-out: reduce → fit per session → apply. The model table
    * is persisted (tracked — [[graft.CacheRegistry]]): it is tiny, every
    * downstream action broadcasts it, and without the persist each action
    * re-runs the whole reduce + fit lineage. */
  def fitTransform(markers: DataFrame, pupils: DataFrame, sessionCol: String,
                   window: Double = 1.0 / 60.0,
                   cfg: Calibrator.Config = Calibrator.Config(),
                   carry: Seq[(String, String)] = Nil): DataFrame = {
    val spark = markers.sparkSession
    val reduced = reducedPoints(markers, pupils, sessionCol, window,
      cfg.minConfidence)
    val models = graft.CacheRegistry.persistTracked(
      fitModels(spark, reduced, sessionCol, cfg))
    transform(pupils, models, sessionCol, carry = carry)
  }
}
