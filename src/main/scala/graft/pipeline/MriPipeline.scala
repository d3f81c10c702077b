package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Calibrator, ErrorMap, GazeModelIO}

/** `pipeline_mri` as a registered [[Pipeline]] composition
  * (pipelines.py:826-1041): a structured folder layout is DISCOVERED
  * (glob + name parse), one calibration is fitted from a fixed external
  * marker table plus the calibration-epoch run, and the fitted model fans
  * out over every validation epoch and main-task run — the broadcast-model
  * reuse shape the reference demonstrates, with S7/S8 semantics at every
  * stage boundary.
  *
  * Layout (mirrors the reference's BIDS-ish folders, pipelines.py:851-864,
  * with detection tables in place of the container-blocked video decode —
  * the engine runs from detection tables onward):
  *
  *   <base>/calibration_markers.parquet       — clustered marker table
  *                                              (timestamp, norm_x, norm_y,
  *                                              marker_cluster_index)
  *   <base>/<subject>/ses-<session>/runs/
  *     <subject>_ses-<session>_task-calibration_run-0.parquet   — pupils
  *     <subject>_ses-<session>_task-calibration_run-1.parquet   — (epochs)
  *     <subject>_ses-<session>_task-<task>_run-0.parquet        — main runs
  *     ...
  *   <base>/<subject>/ses-<session>/gaze/     — all stage outputs
  *
  * Stage graph: `calibration` (fit on the `calibrationEpoch`-th
  * calibration run; a rejected fit raises → S7 Failed sentinel and every
  * downstream stage is skipped) → `gaze_val_<j>` per remaining
  * calibration epoch + `gaze_main_<k>` per main run (model-table apply) →
  * `error_val_<j>` per validation gaze vs the same marker table
  * (pipelines.py:1020-1034).
  */
object MriPipeline {
  import Pipeline.Stage

  /** One discovered run table. `run` is the index parsed from the file
    * name; discovery orders runs by the PARSED (task, run) — a
    * deliberate divergence from the reference's lexicographic sorted
    * glob (pipelines.py:897), which orders run-10 before run-2 and makes
    * positional selectors (calibration_epoch, evaluate_runs) pick the
    * wrong run once a task reaches 10 runs. */
  case class RunTable(task: String, run: Int, path: String)

  private val RunRe = """.*_task-([A-Za-z0-9]+)_run-(\d+)\.parquet$""".r

  /** List `<base>/<subject>/ses-<session>/runs` and parse (task, run)
    * from each parquet file name (pipelines.py:893-905). Files that do
    * not match the naming convention are ignored. Runs are ordered by the
    * PARSED (task, run index) — a lexicographic file sort would put
    * run-10 before run-2 and shift every positional selector
    * (calibrationEpoch, evaluateRuns). */
  def discoverRuns(baseDir: String, subjectId: String,
                   session: String): Seq[RunTable] = {
    val dir = Paths.get(baseDir, subjectId, s"ses-$session", "runs")
    if (!Files.isDirectory(dir)) return Nil
    val listing = Files.list(dir)
    val names =
      try listing.iterator().asScala.map(_.toString).toList
      finally listing.close()
    names.flatMap {
      case p @ RunRe(task, run) => Some(RunTable(task, run.toInt, p))
      case _ => None
    }.sortBy(r => (r.task, r.run))
  }

  /** Build the stage list from the discovered layout.
    *
    * `evaluateRuns`: optional positional subset of the main-task runs
    * (the reference's evaluate_runs filter, pipelines.py:903-905). */
  def stages(baseDir: String, subjectId: String, session: String,
             task: String,
             markerPath: Option[String] = None,
             calibrationEpoch: Int = 0,
             evaluateRuns: Option[Seq[Int]] = None,
             cfg: Calibrator.Config = Calibrator.Config(),
             errorResolution: (Int, Int) = (60, 80)): Seq[Stage] = {
    val markers = markerPath.getOrElse(s"$baseDir/calibration_markers.parquet")
    val all = discoverRuns(baseDir, subjectId, session)
    val cal = all.filter(_.task == "calibration")
    val mainAll = all.filter(_.task == task)
    val main = evaluateRuns match {
      case Some(js) => mainAll.zipWithIndex.collect {
        case (r, j) if js.contains(j) => r
      }
      case None => mainAll
    }
    require(cal.length > calibrationEpoch,
      s"need > $calibrationEpoch calibration runs, found ${cal.length}")

    def markerDf(s: SparkSession): DataFrame = s.read.parquet(markers)
    def gazeOf(model: DataFrame, pupils: DataFrame): DataFrame =
      GazeModelIO.fromDF(model).transform(pupils)
        .select(col("timestamp"), col("gaze_x").as("norm_x"),
          col("gaze_y").as("norm_y"), col("confidence"))

    val calStage = Stage("calibration", Nil, (s, _) => {
      val pupils = s.read.parquet(cal(calibrationEpoch).path)
      val model = Calibrator.fit(markerDf(s), pupils, cfg)
        .getOrElse(throw new IllegalStateException(
          "calibration rejected all points"))
      GazeModelIO.toDF(s, model)
    })
    val valEpochs = cal.indices.filterNot(_ == calibrationEpoch)
    val gazeVal = valEpochs.map { j =>
      Stage(s"gaze_val_$j", Seq("calibration"), (s, in) =>
        gazeOf(in("calibration"), s.read.parquet(cal(j).path)))
    }
    val gazeMain = main.map { r =>
      Stage(s"gaze_main_${r.run}", Seq("calibration"), (s, in) =>
        gazeOf(in("calibration"), s.read.parquet(r.path)))
    }
    val errors = valEpochs.map { j =>
      Stage(s"error_val_$j", Seq(s"gaze_val_$j"), (s, in) =>
        ErrorMap.summary(markerDf(s), in(s"gaze_val_$j"),
          ErrorMap.Config(resolution = errorResolution)))
    }
    (calStage +: gazeVal) ++ gazeMain ++ errors
  }

  /** Run the full composition; outputs land under
    * `<base>/<subject>/ses-<session>/gaze` (the reference's output_dir,
    * pipelines.py:895). Returns the per-stage status map. */
  def run(spark: SparkSession, baseDir: String, subjectId: String,
          session: String, task: String,
          markerPath: Option[String] = None,
          calibrationEpoch: Int = 0,
          evaluateRuns: Option[Seq[Int]] = None,
          cfg: Calibrator.Config = Calibrator.Config(),
          tags: Map[String, String] = Map.empty): Map[String, Pipeline.StageResult] =
    Pipeline.run(spark, s"$baseDir/$subjectId/ses-$session/gaze",
      stages(baseDir, subjectId, session, task, markerPath,
        calibrationEpoch, evaluateRuns, cfg),
      tags)
}
