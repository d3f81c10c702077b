package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Calibrator, ErrorMap, GazeModelIO}
import graft.operators.MarkerParsing

/** `pipeline_vedb` as a registered [[Pipeline]] composition
  * (pipelines.py:557-819): detection tables in → error summary out, with
  * the orchestrator's S8 memoization and S7 failure short-circuit at every
  * stage boundary.
  *
  * Stage graph (each stage a Parquet artifact under the run root):
  *
  *   markers_filtered  — filter_and_cluster (A1→W3→P7→W2→A7→A3)
  *   ├─ markers_cal    — earliest surviving epoch (calibration epoch)
  *   └─ markers_val    — remaining epochs (validation)
  *   calibration       — Calibrator.fit on markers_cal: match, gate and
  *                       cluster-reduce in one task, driver-side fit
  *                       (model table row; a rejected fit raises → S7
  *                       Failed sentinel)
  *   gaze              — model table → distributed Column apply on pupils
  *   error             — ErrorMap.summary vs markers_val: one task from
  *                       match to summary row (too few points raise → S7)
  *
  * The calibration artifact is the [[GazeModelIO]] typed one-row layout,
  * so a memoized re-run reconstructs the model from Parquet without
  * refitting — the reference's .npz reuse semantics.
  */
object VedbPipeline {
  import Pipeline.Stage

  private def named(df: DataFrame): DataFrame = df.select(
    col("timestamp"),
    element_at(col("norm_pos"), 1).as("norm_x"),
    element_at(col("norm_pos"), 2).as("norm_y"),
    col("marker_cluster_index"))

  /** Epoch id of the earliest epoch (the session's calibration epoch). */
  private def calEpoch(f: DataFrame): Long =
    f.groupBy("epoch").agg(min("timestamp").as("t0"))
      .orderBy("t0").select("epoch").limit(1).collect()
      .headOption.map(_.getLong(0))
      .getOrElse(throw new IllegalStateException(
        "no epochs survived marker filtering"))

  /** Ref/Stop consumption (r5): when the detection table carries the
    * `marker_type` classification ([[graft.multimodal.VisionOps]] typed
    * markers, circle_detector.py:339-452), only "Ref" markers are
    * calibration/validation material — "Stop" markers are epoch
    * DELIMITERS (the session operator shows one to close an epoch) and
    * must not enter clustering or fitting. Dropping them BEFORE the gap
    * split both removes them from the fit and widens the time gap at
    * their position, which is exactly how a delimiter splits epochs under
    * the W2 gap rule. Untyped tables pass through unchanged. */
  private def refOnly(markers: DataFrame): DataFrame =
    if (markers.columns.contains("marker_type"))
      markers.filter(col("marker_type") === "Ref").drop("marker_type")
    else markers

  def stages(markers: DataFrame, clock: DataFrame, pupils: DataFrame,
             cfg: Calibrator.Config = Calibrator.Config(),
             epochDuration: (Double, Double) = (30.0, 150.0),
             clusterDuration: (Double, Double) = (0.2, 5.0),
             errorResolution: (Int, Int) = (60, 80)): Seq[Stage] = Seq(
    Stage("markers_filtered", Nil, (_, _) =>
      MarkerParsing.filterAndCluster(refOnly(markers), clock,
        epochDuration = epochDuration, clusterDuration = clusterDuration)),
    Stage("markers_cal", Seq("markers_filtered"), (_, in) => {
      val f = in("markers_filtered")
      f.filter(col("epoch") === calEpoch(f))
    }),
    // derives the calibration epoch from the (tiny) markers_cal artifact
    // instead of re-running the epoch-min aggregation over the full
    // filtered table a second time
    Stage("markers_val", Seq("markers_filtered", "markers_cal"), (_, in) => {
      val cal = in("markers_cal").select("epoch").limit(1).collect()
        .headOption.map(_.getLong(0))
        .getOrElse(throw new IllegalStateException("empty calibration epoch"))
      in("markers_filtered").filter(col("epoch") =!= cal)
    }),
    calibrationStage("calibration", "markers_cal", pupils, cfg),
    gazeStage("gaze", "calibration", pupils),
    Stage("error", Seq("gaze", "markers_val"), (_, in) =>
      ErrorMap.summary(named(in("markers_val")), in("gaze"),
        ErrorMap.Config(resolution = errorResolution))))

  /** Run the full composition; returns the per-stage status map. */
  def run(spark: SparkSession, root: String, markers: DataFrame,
          clock: DataFrame, pupils: DataFrame,
          cfg: Calibrator.Config = Calibrator.Config(),
          epochDuration: (Double, Double) = (30.0, 150.0),
          clusterDuration: (Double, Double) = (0.2, 5.0),
          tags: Map[String, String] = Map.empty): Map[String, Pipeline.StageResult] =
    Pipeline.run(spark, root,
      stages(markers, clock, pupils, cfg, epochDuration, clusterDuration),
      tags)

  /** Calibration-fit stage shared by both branches: a rejected fit
    * raises → S7 Failed sentinel. */
  private def calibrationStage(name: String, markersStage: String,
                               pupils: DataFrame,
                               cfg: Calibrator.Config): Stage =
    Stage(name, Seq(markersStage), (s, in) => {
      val model = Calibrator.fit(named(in(markersStage)), pupils, cfg)
        .getOrElse(throw new IllegalStateException(
          "calibration rejected all points"))
      GazeModelIO.toDF(s, model)
    })

  /** Gaze-apply stage shared by both branches. */
  private def gazeStage(name: String, calibStage: String,
                        pupils: DataFrame): Stage =
    Stage(name, Seq(calibStage), (_, in) =>
      GazeModelIO.fromDF(in(calibStage)).transform(pupils)
        .select(col("timestamp"), col("gaze_x").as("norm_x"),
          col("gaze_y").as("norm_y"), col("confidence")))

  /** The MANUAL-epoch branch of pipeline_vedb: when the session carries a
    * curated `marker_times.yaml`, the reference scans exactly those frame
    * ranges instead of gap-splitting and fits on ONE selected calibration
    * epoch (`calibrationEpoch` index, default 0 — pipelines.py:635-651),
    * with one validation pass PER validation epoch (:672-693).
    *
    * Stage graph (names carry the `_manual` discriminator so the S8
    * memoization namespace can NEVER collide with the automatic branch's
    * artifacts on a shared run root, and every calibration-dependent
    * stage additionally carries `e<calibrationEpoch>` so switching the
    * selected epoch recomputes instead of serving the other epoch's
    * memoized fit; epoch-range edits should still go into `tags` — e.g.
    * `Map("marker_times" -> <file hash>)` — mirroring the reference's
    * input-hashed filenames, pipelines.py:604-612):
    *
    *   markers_frames_manual     — ONE searchsorted frame-index pass over
    *                               markers vs the world clock (J6; the
    *                               single-partition sort inherent to one
    *                               session runs once, not once per epoch)
    *   markers_cal_manual_e<c>   — selected calibration range → cluster
    *   markers_val_manual_<j>    — each validation range → cluster
    *                               (independent per-range slices, so
    *                               overlapping curated ranges contribute
    *                               to every epoch they cover, like the
    *                               reference's per-range scans; epoch-
    *                               independent, so reusable across
    *                               calibration selections)
    *   calibration_manual_e<c> → gaze_manual_e<c> → error_manual_e<c>_<j>
    *
    * Epoch-duration gates are skipped — the curated ranges ARE the epochs
    * (the internal gap split still runs and is the identity on a
    * contiguous range). */
  def manualStages(markers: DataFrame, clock: DataFrame, pupils: DataFrame,
                   calEpochs: Seq[ManualEpochs.Epoch],
                   valEpochs: Seq[ManualEpochs.Epoch],
                   calibrationEpoch: Int = 0,
                   cfg: Calibrator.Config = Calibrator.Config(),
                   clusterDuration: (Double, Double) = (0.2, 5.0),
                   errorResolution: (Int, Int) = (60, 80)): Seq[Pipeline.Stage] = {
    require(calibrationEpoch >= 0 && calibrationEpoch < calEpochs.length,
      s"calibrationEpoch $calibrationEpoch out of range for " +
        s"${calEpochs.length} calibration epochs")
    val calEp = calEpochs(calibrationEpoch)
    val ce = s"e$calibrationEpoch"
    def rangeOf(in: Map[String, DataFrame], e: ManualEpochs.Epoch) =
      in("markers_frames_manual").filter(
        col("frame_index") >= e.startFrame && col("frame_index") < e.endFrame)
    def cluster(sub: DataFrame) =
      MarkerParsing.filterAndCluster(
        sub.drop("frame_index"), clock,
        epochDuration = (0.0, Double.MaxValue),
        clusterDuration = clusterDuration)
    val frameStage = Stage("markers_frames_manual", Nil, (_, _) =>
      graft.operators.TimeSeriesOps.searchSorted(
        refOnly(markers), clock.select(col("timestamp")), "timestamp",
        "timestamp"))
    val calStage = Stage(s"markers_cal_manual_$ce", Seq("markers_frames_manual"),
      (_, in) => cluster(rangeOf(in, calEp)))
    val valStages = valEpochs.flatMap { e =>
      Seq(
        Stage(s"markers_val_manual_${e.epoch}", Seq("markers_frames_manual"),
          (_, in) => cluster(rangeOf(in, e))),
        Stage(s"error_manual_${ce}_${e.epoch}",
          Seq(s"gaze_manual_$ce", s"markers_val_manual_${e.epoch}"),
          (_, in) => ErrorMap.summary(
            named(in(s"markers_val_manual_${e.epoch}")), in(s"gaze_manual_$ce"),
            ErrorMap.Config(resolution = errorResolution))))
    }
    Seq(frameStage, calStage,
      calibrationStage(s"calibration_manual_$ce", s"markers_cal_manual_$ce",
        pupils, cfg),
      gazeStage(s"gaze_manual_$ce", s"calibration_manual_$ce", pupils)) ++ valStages
  }
}
