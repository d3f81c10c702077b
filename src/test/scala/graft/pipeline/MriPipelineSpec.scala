package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** pipeline_mri composition (pipelines.py:826-1041): golden 3-main-run /
  * 2-calibration-epoch layout → discovery, one calibration fanned over
  * every run, memoized re-run, mid-run failure short-circuit. */
class MriPipelineSpec extends SparkSpec {
  import spark.implicits._
  import Pipeline._

  /** Write the BIDS-ish layout with a planted-affine session:
    * 25 marker clusters on a 0.1..0.9 grid, pupils the known inverse
    * affine of their marker (same map as the m9 queries). */
  def writeLayout(base: String, goodCalibration: Boolean = true): Unit = {
    val subj = "sub01"; val ses = "a"
    val runDir = Paths.get(base, subj, s"ses-$ses", "runs")
    Files.createDirectories(runDir)
    val rng = new scala.util.Random(11)
    def sessionRows(t0: Double) = (0 until 500).map { n =>
      val c = n % 25
      val mx = 0.1 + 0.2 * (c % 5); val my = 0.1 + 0.2 * (c / 5)
      val jit = rng.nextGaussian() * 3e-4
      (t0 + n, mx + jit, my - jit, c.toLong)
    }
    val markerRows = sessionRows(0.0)
    markerRows.toDF("timestamp", "norm_x", "norm_y", "marker_cluster_index")
      .write.mode("overwrite").parquet(s"$base/calibration_markers.parquet")
    def pupilsOf(rows: Seq[(Double, Double, Double, Long)], conf: Double) =
      rows.map { case (t, mx, my, _) =>
        (t + 0.002,
          ((mx - 0.05) * 0.9 - (my - 0.03) * 0.1 / 0.9) / 0.8
            + rng.nextGaussian() * 3e-4,
          (my - 0.03) / 0.9 + rng.nextGaussian() * 3e-4,
          conf)
      }.toDF("timestamp", "norm_x", "norm_y", "confidence")
    def path(task: String, run: Int) =
      s"$runDir/${subj}_ses-${ses}_task-${task}_run-$run.parquet"
    // calibration epochs 0 (fit) and 1 (validation); a bad layout plants
    // sub-threshold confidence in epoch 0 so the fit rejects everything
    pupilsOf(markerRows, if (goodCalibration) 0.95 else 0.1)
      .write.mode("overwrite").parquet(path("calibration", 0))
    pupilsOf(markerRows, 0.95)
      .write.mode("overwrite").parquet(path("calibration", 1))
    // three main-task runs, off the marker timeline
    for (k <- 0 until 3)
      pupilsOf(sessionRows(10000.0 + 1000 * k), 0.95)
        .write.mode("overwrite").parquet(path("mri", k))
  }

  test("discovery parses tasks and run indices from the layout") {
    val base = Files.createTempDirectory("mri").toString
    writeLayout(base)
    val runs = MriPipeline.discoverRuns(base, "sub01", "a")
    assert(runs.count(_.task == "calibration") == 2)
    assert(runs.filter(_.task == "mri").map(_.run) == Seq(0, 1, 2))
  }

  test("discovery orders by the parsed run index, not lexicographically") {
    val base = Files.createTempDirectory("mri").toString
    val runDir = Paths.get(base, "sub01", "ses-a", "runs")
    Files.createDirectories(runDir)
    // 11 runs: a lexicographic listing would order 0, 1, 10, 2, …
    for (k <- 0 to 10)
      Files.createFile(runDir.resolve(s"sub01_ses-a_task-mri_run-$k.parquet"))
    val runs = MriPipeline.discoverRuns(base, "sub01", "a")
    assert(runs.map(_.run) == (0 to 10))
  }

  test("golden layout: one calibration fans out over all runs; memoized re-run") {
    val base = Files.createTempDirectory("mri").toString
    writeLayout(base)
    val r = MriPipeline.run(spark, base, "sub01", "a", task = "mri")
    assert(r.keySet == Set("calibration", "gaze_val_1",
      "gaze_main_0", "gaze_main_1", "gaze_main_2", "error_val_1"))
    assert(r.values.forall(_.state == Computed), r.toString)
    // each gaze table covers its run's full pupil stream
    for (k <- 0 until 3)
      assert(spark.read.parquet(r(s"gaze_main_$k").path).count() == 500)
    // validation error: planted construction → well under a degree
    val err = spark.read.parquet(r("error_val_1").path).collect()(0)
    assert(err.getAs[Double]("gaze_err_weighted") < 1.0, err.toString)
    // gaze of the first main run lands back on the marker grid
    val g = spark.read.parquet(r("gaze_main_0").path)
      .agg(min("norm_x"), max("norm_x")).collect()(0)
    assert(g.getDouble(0) > 0.05 && g.getDouble(1) < 0.95)
    // S8: re-run memoizes every stage
    val r2 = MriPipeline.run(spark, base, "sub01", "a", task = "mri")
    assert(r2.values.forall(_.state == Memoized), r2.toString)
    // evaluate_runs subset: only the chosen main runs appear
    val r3 = MriPipeline.run(spark, base, "sub01", "a", task = "mri",
      evaluateRuns = Some(Seq(1)), tags = Map("runs" -> "1"))
    assert(r3.keySet.filter(_.startsWith("gaze_main")) == Set("gaze_main_1"))
  }

  test("failed calibration short-circuits every downstream stage (S7)") {
    val base = Files.createTempDirectory("mri").toString
    writeLayout(base, goodCalibration = false)
    val r = MriPipeline.run(spark, base, "sub01", "a", task = "mri")
    assert(r("calibration").state == Failed, r("calibration").toString)
    assert(r.filterNot(_._1 == "calibration")
      .values.forall(_.state == SkippedUpstreamFailure), r.toString)
    // the sentinel persists: re-run stays failed without recompute
    val r2 = MriPipeline.run(spark, base, "sub01", "a", task = "mri")
    assert(r2("calibration").state == Failed &&
      r2("calibration").error.contains("failed sentinel"))
  }

  test("every MriPipeline stage reads back through _SCHEMA as by inference") {
    val base = Files.createTempDirectory("mri").toString
    writeLayout(base)
    val r = MriPipeline.run(spark, base, "sub01", "a", task = "mri")
    assert(r.size == 6)
    PipelineSpec.assertSidecarReads(spark, r)
  }
}
