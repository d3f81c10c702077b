package graft.model

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

// encoders need top-level case classes (no outer-instance capture)
case class CalM(timestamp: Double, norm_x: Double, norm_y: Double,
                marker_cluster_index: Long)
case class CalP(timestamp: Double, norm_x: Double, norm_y: Double,
                confidence: Double)

/** End-to-end synthetic session: markers on a grid with clustered repeats,
  * pupils = known smooth map of marker positions + jitter; the fitted model
  * must map pupils back to marker positions (SURVEY §5.2 golden test). */
class CalibratorSpec extends SparkSpec {
  import spark.implicits._

  val rng = new scala.util.Random(3)

  // true pupil→gaze map (what calibration must recover, roughly affine+warp)
  def trueGaze(px: Double, py: Double): (Double, Double) =
    (0.8 * px + 0.1 * py + 0.05, 0.9 * py - 0.05 * px + 0.03)
  // inverse direction used for data gen: marker → pupil (invertible affine)
  def pupilFor(mx: Double, my: Double): (Double, Double) = {
    // solve the 2x2 system for (px,py) given trueGaze(px,py)=(mx,my)
    val (a, b, c) = (0.8, 0.1, 0.05)
    val (d, e, f) = (-0.05, 0.9, 0.03)
    val det = a * e - b * d
    val px = ((mx - c) * e - b * (my - f)) / det
    val py = (a * (my - f) - (mx - c) * d) / det
    (px, py)
  }

  // 5x5 marker grid, each "cluster" dwelled on for 20 frames at 30 Hz
  lazy val (markerDf, pupilDf) = {
    val ms = scala.collection.mutable.ArrayBuffer[CalM]()
    val ps = scala.collection.mutable.ArrayBuffer[CalP]()
    var t = 0.0
    var cluster = 0L
    for (i <- 0 until 5; j <- 0 until 5) {
      val mx = 0.1 + 0.2 * i; val my = 0.1 + 0.2 * j
      for (_ <- 0 until 20) {
        ms += CalM(t, mx + rng.nextGaussian() * 1e-3,
          my + rng.nextGaussian() * 1e-3, cluster)
        // pupil samples at 4x rate around each marker frame
        for (k <- 0 until 4) {
          val (px, py) = pupilFor(mx, my)
          ps += CalP(t + (k - 1.5) * 0.008, px + rng.nextGaussian() * 5e-4,
            py + rng.nextGaussian() * 5e-4, 0.9 + rng.nextDouble() * 0.1)
        }
        t += 1.0 / 30.0
      }
      cluster += 1
      t += 0.5
    }
    (ms.toSeq.toDF(), ps.toSeq.toDF())
  }

  test("monocular_tps_cv fit maps pupils to gaze within tolerance") {
    val model = Calibrator.fit(markerDf, pupilDf,
      Calibrator.Config(calibrationType = "monocular_tps_cv")).get
    val gaze = model.transform(pupilDf)
    assert(gaze.columns.toSet == Set("timestamp", "confidence", "gaze_x", "gaze_y"))
    // compare mapped gaze vs the true map of each pupil position
    val rows = model.transform(
        pupilDf.withColumn("tx", col("norm_x")).withColumn("ty", col("norm_y")))
      .collect()
    val check = pupilDf.collect().zip(gaze.collect())
    check.take(500).foreach { case (p, g) =>
      val (ex, ey) = trueGaze(p.getAs[Double]("norm_x"), p.getAs[Double]("norm_y"))
      assert(math.abs(g.getAs[Double]("gaze_x") - ex) < 0.01)
      assert(math.abs(g.getAs[Double]("gaze_y") - ey) < 0.01)
    }
  }

  test("monocular_pl (two-pass poly) also recovers the map") {
    val model = Calibrator.fit(markerDf, pupilDf,
      Calibrator.Config(calibrationType = "monocular_pl")).get
    val gaze = model.transform(pupilDf).collect()
    pupilDf.collect().zip(gaze).take(200).foreach { case (p, g) =>
      val (ex, ey) = trueGaze(p.getAs[Double]("norm_x"), p.getAs[Double]("norm_y"))
      assert(math.abs(g.getAs[Double]("gaze_x") - ex) < 0.01)
      assert(math.abs(g.getAs[Double]("gaze_y") - ey) < 0.01)
    }
  }

  test("tps Column expression matches driver-side Tps.z exactly") {
    val anchors = Array.tabulate(9)(i => Array((i % 3) / 2.0, (i / 3) / 2.0))
    val vals = anchors.map(a => a(0) * 0.7 + math.sin(a(1)))
    val theta = Tps.fit(anchors, vals, 1e-3)
    val pts = Seq((0.15, 0.35), (0.5, 0.5), (0.9, 0.1))
    val df = pts.toDF("px", "py")
      .withColumn("z", TpsMapModel.tpsCol(col("px"), col("py"), anchors, theta))
    df.collect().foreach { r =>
      val expected = Tps.z(r.getDouble(0), r.getDouble(1), anchors, theta)
      assert(math.abs(r.getDouble(2) - expected) < 1e-12)
    }
  }

  // ---- calibration kernel parity: Calibrator.calibrationPoints against
  // the operator composition Calibrator.fit used before it ran as one task

  /** The former `Calibrator.matchedPoints`, verbatim. */
  def composed(markers: DataFrame, pupils: DataFrame, cfg: Calibrator.Config): DataFrame = {
    // NEAREST-frame matching: the executed calibration path calls
    // match_time_points with window=None (calibration.py:534 →
    // utils.py:78-105) — argmin |t_pupil − t_marker| per marker row, all
    // pupil fields taken from that single row. The confidence gate then
    // applies to the MATCHED rows (calibration.py:555-560). The
    // windowed-median variant (marker_parsing.py:554-556) sits in a branch
    // that raises NotImplementedError and is deliberately not used here.
    // Same J2 union-sort idiom as ErrorMap.compute.
    val matched = AsOfJoin.nearest(
        markers,
        pupils.select(col("timestamp"), col("norm_x").as("pnx"),
          col("norm_y").as("pny"), col("confidence")),
        "timestamp", "timestamp", Nil, rightPrefix = "p_")
      .filter(col("p_confidence") > cfg.minConfidence)
      .withColumnRenamed("p_pnx", "px").withColumnRenamed("p_pny", "py")

    if (cfg.clusterReduce && matched.columns.contains("marker_cluster_index"))
      matched.groupBy(col("marker_cluster_index")).agg(
        expr("percentile(norm_x, 0.5)").as("mx"),
        expr("percentile(norm_y, 0.5)").as("my"),
        expr("percentile(px, 0.5)").as("px"),
        expr("percentile(py, 0.5)").as("py"))
    else
      matched.select(col("norm_x").as("mx"), col("norm_y").as("my"),
        col("px"), col("py"))
  }

  /** Kernel points == composed points bit for bit (as multisets; kernel
    * rows in cluster order), and the two fits predict the same gaze on a
    * grid to 1e-9. */
  def parity(markers: DataFrame, pupils: DataFrame,
             cfg: Calibrator.Config = Calibrator.Config()): Unit = {
    val old = composed(markers, pupils, cfg)
    val byCluster = old.columns.contains("marker_cluster_index")
    val oldRows = old.select(((if (byCluster) Seq("marker_cluster_index") else Nil) ++
      Seq("mx", "my", "px", "py")).map(col): _*).collect()
    val newRows = Calibrator.calibrationPoints(markers, pupils, cfg)
    def bits(vs: Seq[Any]): String = vs.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case o => String.valueOf(o)
    }.mkString(",")
    assert(oldRows.nonEmpty)
    assert(newRows.map(r => bits(r.toSeq.drop(if (byCluster) 0 else 1))).sorted.toSeq ==
      oldRows.map(r => bits(r.toSeq)).sorted.toSeq)
    if (byCluster) {
      val ids = newRows.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(ids == ids.sorted, s"kernel points out of cluster order: $ids")
    } else assert(newRows.forall(_.isNullAt(0)))

    val off = if (byCluster) 1 else 0
    val oldModel = Calibrator.fitPoints(
      oldRows.map(r => Array(r.getDouble(off + 2), r.getDouble(off + 3))),
      oldRows.map(_.getDouble(off)), oldRows.map(_.getDouble(off + 1)), cfg).get
    val newModel = Calibrator.fit(markers, pupils, cfg).get
    val grid = (for (i <- 0 to 10; j <- 0 to 10) yield (0.0, i / 10.0, j / 10.0, 1.0))
      .toDF("timestamp", "norm_x", "norm_y", "confidence")
    oldModel.transform(grid).collect().zip(newModel.transform(grid).collect())
      .foreach { case (a, b) =>
        for (c <- Seq("gaze_x", "gaze_y"))
          assert(math.abs(a.getAs[Double](c) - b.getAs[Double](c)) <= 1e-9,
            s"$c: composed ${a.getAs[Double](c)} vs kernel ${b.getAs[Double](c)}")
      }
  }

  test("calibration kernel == composition: golden session calibration epoch") {
    val clustered = graft.operators.MarkerParsing.filterAndCluster(
      graft.GoldenSession.markers(spark), graft.GoldenSession.clock(spark),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    val first = clustered.agg(min("epoch")).head().getLong(0)
    val cal = clustered.filter(col("epoch") === first).select(col("timestamp"),
      element_at(col("norm_pos"), 1).as("norm_x"),
      element_at(col("norm_pos"), 2).as("norm_y"), col("marker_cluster_index"))
    parity(cal, graft.GoldenSession.pupils(spark))
  }

  // the 5x5 session above plus planted edge rows, each its own cluster at
  // a target off the base grid, with pupils from the planted map:
  //  90: a marker before the first pupil;
  //  91: two markers, the first equidistant (0.25 s) from two pupils;
  //  92: a pupil at exactly the marker's timestamp;
  //  93: one marker whose nearest pupil has confidence == minConfidence
  //      (gated out), one with 0.9;
  //  94: a marker after the last pupil.
  def edgeMarkers: Seq[(Option[Double], Double, Double, Long)] = Seq(
    (Some(-5.0), 0.2, 0.4, 90L),
    (Some(100.0), 0.4, 0.2, 91L), (Some(100.5), 0.4, 0.2, 91L),
    (Some(110.0), 0.6, 0.8, 92L),
    (Some(120.0), 0.8, 0.6, 93L), (Some(121.0), 0.8, 0.6, 93L),
    (Some(3000.0), 0.6, 0.2, 94L))
  def edgePupils: Seq[(Option[Double], Double, Double, Double)] = {
    def p(t: Double, mx: Double, my: Double, dx: Double, c: Double) = {
      val (px, py) = pupilFor(mx, my); (Option(t), px + dx, py, c)
    }
    Seq(p(-4.0, 0.2, 0.4, 0, 0.9),
      p(99.75, 0.4, 0.2, 1e-3, 0.9), p(100.25, 0.4, 0.2, -1e-3, 0.9),
      p(109.9, 0.6, 0.8, 1e-3, 0.9), p(110.0, 0.6, 0.8, 0, 0.9),
      p(110.1, 0.6, 0.8, -1e-3, 0.9),
      p(120.0, 0.8, 0.6, 1e-3, 0.75), p(121.0, 0.8, 0.6, 0, 0.9),
      p(2000.0, 0.6, 0.2, 0, 0.9))
  }
  def withEdges(ms: Seq[(Option[Double], Double, Double, Long)],
                ps: Seq[(Option[Double], Double, Double, Double)]): (DataFrame, DataFrame) =
    (markerDf.select(col("timestamp"), col("norm_x"), col("norm_y"),
        col("marker_cluster_index"))
      .union(ms.toDF("timestamp", "norm_x", "norm_y", "marker_cluster_index")),
     pupilDf.select(col("timestamp"), col("norm_x"), col("norm_y"), col("confidence"))
      .union(ps.toDF("timestamp", "norm_x", "norm_y", "confidence")))

  test("calibration kernel == composition: ties, equal ts, out-of-range markers, confidence at the gate") {
    val (m, p) = withEdges(edgeMarkers, edgePupils)
    parity(m, p)
    // the planted edges resolve as nearest() documents
    val pts = Calibrator.calibrationPoints(m, p, Calibrator.Config())
      .map(r => r.getLong(0) -> r).toMap
    val (px, _) = pupilFor(0.4, 0.2)
    assert(pts(91L).getDouble(3) == 0.5 * (px + 1e-3) + 0.5 * (px - 1e-3)) // tie → prev
    assert(pts(92L).getDouble(3) == pupilFor(0.6, 0.8)._1) // equal ts wins
    assert(pts(93L).getDouble(3) == pupilFor(0.8, 0.6)._1) // 0.75 gated out
    assert(pts(90L).getDouble(3) == pupilFor(0.2, 0.4)._1)
    assert(pts(94L).getDouble(3) == pupilFor(0.6, 0.2)._1)
  }

  test("calibration kernel == composition: clusterReduce = false and no cluster column") {
    val (m, p) = withEdges(edgeMarkers, edgePupils)
    parity(m, p, Calibrator.Config(clusterReduce = false))
    parity(m.drop("marker_cluster_index"), p)
  }

  test("calibration kernel == composition: null-ts and NaN-ts rows") {
    // a null-ts and a NaN-ts pupil next to the timed ones, plus a null-ts
    // marker (nearest() gives it the earliest pupil) and a NaN-ts marker
    // (it takes the last row in Spark order, the NaN-ts pupil)
    val (px, py) = pupilFor(0.6, 0.2)
    val (m, p) = withEdges(
      edgeMarkers ++ Seq((None, 0.2, 0.4, 90L), (Some(Double.NaN), 0.6, 0.2, 94L)),
      edgePupils ++ Seq((None, 0.5, 0.5, 0.9), (Some(Double.NaN), px, py + 1e-3, 0.9)))
    parity(m, p)
    val pts = Calibrator.calibrationPoints(m, p, Calibrator.Config())
      .map(r => r.getLong(0) -> r).toMap
    assert(pts(94L).getDouble(4) == 0.5 * py + 0.5 * (py + 1e-3))
  }

  test("cluster median == Spark percentile(v, 0.5) bit for bit") {
    val big = Double.MaxValue
    val tiny = Double.MinPositiveValue
    val sets: Seq[Seq[java.lang.Double]] = Seq(
      Seq(0.3, 0.1, 0.2), Seq(0.1, 0.4, 0.2, 0.3), Seq(0.7),
      Seq(0.1, null, 0.2), Seq(0.1, Double.NaN, 0.2, 0.3), Seq(null, null),
      Seq(big, big * 0.9), Seq(tiny, 2 * tiny), Seq(-0.5, 1e-17, 0.25, 3.0))
    sets.zipWithIndex.foreach { case (vs, g) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          vs.map(v => org.apache.spark.sql.Row(g, v))),
        org.apache.spark.sql.types.StructType.fromDDL("g INT, v DOUBLE"))
      val r = df.groupBy("g").agg(expr("percentile(v, 0.5)")).head()
      val m = SessionPoints.median(vs)
      if (r.isNullAt(1)) assert(m == null, s"$vs")
      else assert(java.lang.Double.doubleToRawLongBits(m) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"$vs: $m vs ${r.getDouble(1)}")
    }
  }
}
