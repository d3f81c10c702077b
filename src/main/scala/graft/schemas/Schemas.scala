package graft.schemas

import org.apache.spark.sql.types._

/** SURVEY §1.2: the reference's de-facto row types frozen as `StructType`s
  * — the catalog a user integrating real session data codes against.
  *
  * Reference producers (file:line relative to /root/reference/vedb_gaze):
  *  - pupil:              pupil_detection_pl.py:114-133
  *  - marker (circles):   marker_detection.py:29-47, 147-155
  *  - marker (checkerboard): marker_detection.py:243-258
  *  - clustered marker:   marker_parsing.py:406
  *  - gaze / binocular:   calibration.py:651-666; gaze_mappers.py:50-56
  *  - error:              error_computation.py:216-225
  *  - calibration artifact: calibration.py:675-690 (persisted typed, not
  *    pickled — see [[graft.model.GazeModelIO]])
  *  - odometry:           odometry.py:58, 96-101
  *  - blink/saccade segments: labeling.py:430-441, 670-676
  */
object Schemas {

  /** Nested detector-ellipse dict (`_opencv_ellipse_to_dict`,
    * marker_detection.py:14-26). */
  val ellipse: StructType = StructType(Seq(
    StructField("center", ArrayType(DoubleType)),
    StructField("axes", ArrayType(DoubleType)),
    StructField("angle", DoubleType)))

  /** One row per eye-video frame. `id`: 0 = right/eye0, 1 = left/eye1. */
  val pupil: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("confidence", DoubleType),
    StructField("diameter", DoubleType),
    StructField("ellipse", ellipse),
    StructField("luminance", DoubleType),
    StructField("id", IntegerType)))

  /** Optional pylids keypoint columns (labeling.py:184-188, 270-272). */
  val pupilPylids: StructType =
    Seq(("dlc_kpts_x", ArrayType(DoubleType): DataType),
      ("dlc_kpts_y", ArrayType(DoubleType): DataType),
      ("dlc_confidence", DoubleType: DataType))
      .foldLeft(pupil) { case (s, (n, t)) => s.add(n, t) }

  /** Concentric-circle marker: 0..n rows per world frame. */
  val markerCircles: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("location", ArrayType(DoubleType)),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("size", ArrayType(DoubleType))))

  /** Checkerboard marker: 0..1 row per frame; corner grids plus centroid. */
  val markerCheckerboard: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("location_full_checkerboard", ArrayType(ArrayType(DoubleType))),
    StructField("norm_pos_full_checkerboard", ArrayType(ArrayType(DoubleType))),
    StructField("location", ArrayType(DoubleType)),
    StructField("norm_pos", ArrayType(DoubleType))))

  /** Marker rows after A7 clustering (marker_parsing.py:406). */
  val clusteredMarker: StructType =
    markerCircles.add("marker_cluster_index", LongType)

  /** Monocular gaze row (calibration.py:651-666). */
  val gaze: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("confidence", DoubleType)))

  /** Binocular merge output adds the topic routing and contributing pupils
    * (gaze_mappers.py:50-56). */
  val gazeBinocular: StructType = gaze
    .add("topic", StringType)
    .add("base_data", ArrayType(pupil))

  /** Error summary row — the scalar fields of the reference's error dict;
    * the vres×hres image is the long-form [[errorGrid]] table instead of a
    * 2-D blob. */
  val errorSummary: StructType = StructType(Seq(
    StructField("gaze_err_weighted", DoubleType),
    StructField("gaze_fraction_excluded", DoubleType),
    StructField("n_matched", LongType)))

  /** Long-form (y, x, err) error surface (gaze_err_image). */
  val errorGrid: StructType = StructType(Seq(
    StructField("y", IntegerType),
    StructField("x", IntegerType),
    StructField("err", DoubleType)))

  /** Per-point matched error rows (gaze_err / gaze_err_angle / gaze_time). */
  val errorPoints: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("gaze_err", DoubleType),
    StructField("gaze_err_angle", DoubleType)))

  /** Calibration artifact (typed Parquet; GazeModelIO layout). */
  val calibrationModel: StructType = StructType(Seq(
    StructField("model_type", StringType),
    StructField("n", IntegerType),
    StructField("cx", ArrayType(DoubleType)),
    StructField("cy", ArrayType(DoubleType)),
    StructField("anchors_x", ArrayType(ArrayType(DoubleType))),
    StructField("theta_x", ArrayType(DoubleType)),
    StructField("anchors_y", ArrayType(ArrayType(DoubleType))),
    StructField("theta_y", ArrayType(DoubleType))))

  /** Odometry row (odometry.py:58, 96-101), incl. the derived columns. */
  val odometry: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("tracker_confidence", DoubleType),
    StructField("position", ArrayType(DoubleType)),
    StructField("orientation", ArrayType(DoubleType)),
    StructField("linear_velocity", ArrayType(DoubleType)),
    StructField("angular_velocity", ArrayType(DoubleType)),
    StructField("linear_acceleration", ArrayType(DoubleType)),
    StructField("angular_acceleration", ArrayType(DoubleType)),
    StructField("absolute_linear_velocity", DoubleType),
    StructField("roll", DoubleType),
    StructField("pitch", DoubleType),
    StructField("yaw", DoubleType)))

  /** Blink / saccade segment rows (labeling.py:430-441, 670-676). */
  val segment: StructType = StructType(Seq(
    StructField("onset", DoubleType),
    StructField("offset", DoubleType),
    StructField("duration", DoubleType)))
}
