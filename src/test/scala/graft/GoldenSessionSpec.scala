package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Calibrator, ErrorMap}
import graft.operators.MarkerParsing

// top-level: Spark encoders cannot capture a test-class outer instance
case class GoldenMk(timestamp: Double, norm_pos: Seq[Double], size: Seq[Double])

/** The FIXTURES.md §A golden session: one synthetic session with EVERY
  * reference noise mode injected at once — duplicate timestamps, 1e-8
  * float drift, spurious brief detections, an oblique-marker run, a
  * low-confidence pupil span. Shared by GoldenSessionSpec, the
  * filterAndCluster parity spec and the plan audit. */
object GoldenSession {
  val fps = 30.0

  // planted pupil→gaze map (invertible affine, same family as the specs)
  def trueGaze(px: Double, py: Double): (Double, Double) =
    (0.8 * px + 0.1 * py + 0.05, 0.9 * py - 0.05 * px + 0.03)
  def pupilFor(mx: Double, my: Double): (Double, Double) = {
    val det = 0.8 * 0.9 - 0.1 * (-0.05)
    (((mx - 0.05) * 0.9 - 0.1 * (my - 0.03)) / det,
      (0.8 * (my - 0.03) - (mx - 0.05) * (-0.05)) / det)
  }

  // epoch layout: calibration 0-60 s (25 grid clusters à 2.4 s),
  // validation 100-135.2 s (16 grid points à 2.2 s); oblique run 60-61 s.
  // One generator draws the markers first, then the pupils.
  private lazy val (markerRows, pupilRows) = {
    val rng = new scala.util.Random(47)
    val ms = scala.collection.mutable.ArrayBuffer[GoldenMk]()
    // calibration epoch
    for (c <- 0 until 25) {
      val mx = 0.1 + 0.2 * (c % 5); val my = 0.1 + 0.2 * (c / 5)
      val f0 = (c * 2.4 * fps).round.toInt
      for (f <- f0 until f0 + 72)
        ms += GoldenMk(f / fps, Seq(mx + rng.nextGaussian() * 5e-4,
          my + rng.nextGaussian() * 5e-4), Seq(0.05, 0.05))
    }
    // oblique spurious run inside the same epoch (1 s, aspect 1.6; mean
    // size slightly BELOW the real markers' — the bimodality gate keeps
    // the larger-size mode, so an oversized spurious mode would win)
    for (f <- (60 * 30) until (61 * 30))
      ms += GoldenMk(f / fps, Seq(0.9, 0.9), Seq(0.06, 0.0375))
    // validation epoch
    for (c <- 0 until 16) {
      val mx = 0.15 + 0.2 * (c % 4); val my = 0.15 + 0.2 * (c / 4)
      val f0 = (100 * 30) + (c * 2.2 * fps).round.toInt
      for (f <- f0 until f0 + 66)
        ms += GoldenMk(f / fps, Seq(mx + rng.nextGaussian() * 5e-4,
          my + rng.nextGaussian() * 5e-4), Seq(0.05, 0.05))
    }
    // noise: 8 isolated brief detections in the inter-epoch gap
    for (k <- 0 until 8)
      ms += GoldenMk((70 * 30 + k * 37) / fps, Seq(rng.nextDouble(), rng.nextDouble()),
        Seq(0.004, 0.004))
    // noise: duplicate 20 calibration timestamps (both copies must go)
    val dups = ms.filter(m => m.timestamp < 60).take(20).map(identity)
    ms ++= dups
    // noise: 1e-8 drift on 30 rows (must be snapped back, not dropped)
    val drifted = ms.zipWithIndex.map { case (m, i) =>
      if (i % 97 == 0 && m.timestamp > 1) m.copy(timestamp = m.timestamp + 4e-9)
      else m
    }
    // eye clock at 120 Hz over the whole session; low-confidence span 30-32 s
    val pupils = (0 until (170 * 120)).map { i =>
      val t = i / 120.0
      // pupil follows the gaze target of the enclosing marker cluster when
      // inside an epoch; free noise elsewhere
      val (mx, my) =
        if (t < 60) { val c = math.min(24, (t / 2.4).toInt); (0.1 + 0.2 * (c % 5), 0.1 + 0.2 * (c / 5)) }
        else if (t >= 100 && t < 135.2) { val c = math.min(15, ((t - 100) / 2.2).toInt); (0.15 + 0.2 * (c % 4), 0.15 + 0.2 * (c / 4)) }
        else (0.5, 0.5)
      val (px, py) = pupilFor(mx, my)
      val conf = if (t >= 30 && t < 32) 0.3 else 0.9 + (i % 7) * 0.01
      (t, px + rng.nextGaussian() * 3e-4, py + rng.nextGaussian() * 3e-4, conf)
    }
    (drifted.toSeq, pupils)
  }

  // world clock: 0..170 s at 30 Hz
  def clock(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until (170 * 30)).map(i => i / fps).toDF("timestamp")
  }

  def markers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    markerRows.toDF()
  }

  def pupils(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pupilRows.toDF("timestamp", "norm_x", "norm_y", "confidence")
  }
}

/** The golden session pushed through the full pipeline
  *   filter_and_cluster → Calibrator.fit(tps_cv) → transform → ErrorMap
  * and checked against the planted ground truth (noise filtered exactly,
  * gaze error below the analytic bound).
  */
class GoldenSessionSpec extends SparkSpec {
  lazy val clock = GoldenSession.clock(spark)
  lazy val markers = GoldenSession.markers(spark)
  lazy val pupils = GoldenSession.pupils(spark)

  test("golden session: all noise filtered, gaze error below analytic bound") {
    val clustered = MarkerParsing.filterAndCluster(markers, clock,
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    val byEpoch = clustered.groupBy("epoch")
      .agg(countDistinct("marker_cluster_index").as("n"),
        min("timestamp").as("t0"), max("timestamp").as("t1"))
      .orderBy("t0").collect()
    assert(byEpoch.length == 2, s"epochs: ${byEpoch.mkString(",")}")
    assert(byEpoch(0).getAs[Long]("n") == 25) // oblique run filtered
    assert(byEpoch(1).getAs[Long]("n") == 16)
    // no spurious rows survive: oblique (aspect > 1.2), tiny (brief
    // detections), or anything in the oblique run's time window
    assert(clustered.filter(col("marker_aspect") > 1.2).count() == 0)
    assert(clustered.filter(col("marker_size") < 0.01).count() == 0)
    assert(clustered.filter(col("timestamp").between(60.0, 61.0)).count() == 0)

    val calEpoch = byEpoch(0).getAs[Long]("epoch")
    def named(df: org.apache.spark.sql.DataFrame) = df.select(
      col("timestamp"),
      element_at(col("norm_pos"), 1).as("norm_x"),
      element_at(col("norm_pos"), 2).as("norm_y"),
      col("marker_cluster_index"))
    val cal = named(clustered.filter(col("epoch") === calEpoch))
    val valM = named(clustered.filter(col("epoch") =!= calEpoch))

    val model = Calibrator.fit(cal, pupils).get
    val gaze = model.transform(pupils)
      .select(col("timestamp"), col("gaze_x").as("norm_x"),
        col("gaze_y").as("norm_y"), col("confidence"))
    val res = ErrorMap.compute(valM, gaze, ErrorMap.Config(resolution = (60, 80)))
    val sm = res.summary.collect()(0)
    // analytic bound: jitter 3e-4 norm ≈ 0.03°; calibration residual well
    // under 0.2° — fail loudly if the pipeline degrades
    assert(sm.getAs[Int]("n_points") == 16)
    assert(sm.getAs[Double]("err_median") < 0.2,
      s"median err ${sm.getAs[Double]("err_median")}")
    assert(sm.getAs[Double]("gaze_err_weighted") < 0.5)
  }

  test("pipeline_vedb: registered stages with memoized re-run and S7 short-circuit") {
    import graft.pipeline.{Pipeline, VedbPipeline}
    val root = java.nio.file.Files.createTempDirectory("vedb_pipe").toString
    val run1 = VedbPipeline.run(spark, root, markers, clock, pupils,
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    assert(run1.values.forall(_.state == Pipeline.Computed),
      run1.values.map(r => s"${r.name}=${r.state}").mkString(","))
    assert(run1("error").rows == 1)
    val errRow = spark.read.parquet(run1("error").path).collect()(0)
    assert(errRow.getAs[Double]("err_median") < 0.2)

    // S8: identical tags → every stage memoized from its Parquet artifact
    val run2 = VedbPipeline.run(spark, root, markers, clock, pupils,
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    assert(run2.values.forall(_.state == Pipeline.Memoized),
      run2.values.map(r => s"${r.name}=${r.state}").mkString(","))

    // S7: an impossible confidence gate starves the fit → calibration
    // fails, gaze and error short-circuit without executing
    val root3 = java.nio.file.Files.createTempDirectory("vedb_pipe_f").toString
    val run3 = VedbPipeline.run(spark, root3, markers, clock, pupils,
      cfg = graft.model.Calibrator.Config(minConfidence = 1.1),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    assert(run3("markers_filtered").state == Pipeline.Computed)
    assert(run3("calibration").state == Pipeline.Failed)
    assert(run3("gaze").state == Pipeline.SkippedUpstreamFailure)
    assert(run3("error").state == Pipeline.SkippedUpstreamFailure)
  }
}
