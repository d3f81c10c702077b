package graft.model

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

case class SesM(session: String, timestamp: Double, norm_x: Double,
                norm_y: Double, marker_cluster_index: Long)
case class SesP(session: String, timestamp: Double, norm_x: Double,
                norm_y: Double, confidence: Double)

/** Multi-session fan-out: three sessions with DIFFERENT planted maps;
  * every session's pupils must map through its own model. */
class SessionCalibratorSpec extends SparkSpec {
  import spark.implicits._

  val rng = new scala.util.Random(29)
  // per-session affine pupil→gaze maps (ax, bx, cx, ay, by, cy)
  val maps = Map(
    "s1" -> (0.8, 0.1, 0.05, -0.05, 0.9, 0.03),
    "s2" -> (0.7, 0.0, 0.10, 0.00, 0.8, 0.08),
    "s3" -> (0.9, -0.1, 0.02, 0.05, 0.85, 0.05))
  def gazeOf(s: String, px: Double, py: Double): (Double, Double) = {
    val (a, b, c, d, e, f) = maps(s)
    (a * px + b * py + c, d * px + e * py + f)
  }
  def pupilFor(s: String, mx: Double, my: Double): (Double, Double) = {
    val (a, b, c, d, e, f) = maps(s)
    val det = a * e - b * d
    (((mx - c) * e - b * (my - f)) / det, (a * (my - f) - (mx - c) * d) / det)
  }

  lazy val (markers, pupils) = {
    val ms = scala.collection.mutable.ArrayBuffer[SesM]()
    val ps = scala.collection.mutable.ArrayBuffer[SesP]()
    for (s <- maps.keys) {
      var t = 0.0; var cl = 0L
      for (i <- 0 until 4; j <- 0 until 4) {
        val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
        for (_ <- 0 until 12) {
          ms += SesM(s, t, mx, my, cl)
          val (px, py) = pupilFor(s, mx, my)
          ps += SesP(s, t + 0.003, px + rng.nextGaussian() * 3e-4,
            py + rng.nextGaussian() * 3e-4, 0.9)
          t += 1.0 / 30.0
        }
        cl += 1; t += 0.4
      }
    }
    (ms.toSeq.toDF(), ps.toSeq.toDF())
  }

  test("per-session models fit distributed and fan out via the model table") {
    val reduced = SessionCalibrator.reducedPoints(markers, pupils,
      "session", window = 1.0 / 30.0, minConfidence = 0.75)
    assert(reduced.groupBy("session").count().collect()
      .forall(_.getLong(1) == 16)) // 16 clusters per session
    val models = SessionCalibrator.fitModels(spark, reduced, "session")
    assert(models.count() == 3)
    val gaze = SessionCalibrator.transform(pupils, models, "session")
    val rows = gaze.collect()
    assert(rows.length == pupils.count())
    // join back against the per-session planted truth
    val pup = pupils.collect()
    val byKey = rows.map(r => (r.getString(0), r.getDouble(1)) ->
      (r.getDouble(2), r.getDouble(3))).toMap
    pup.take(600).foreach { p =>
      val s = p.getAs[String]("session")
      val (ex, ey) = gazeOf(s, p.getAs[Double]("norm_x"), p.getAs[Double]("norm_y"))
      val (gx, gy) = byKey((s, p.getAs[Double]("timestamp")))
      assert(math.abs(gx - ex) < 0.01, s"$s gx")
      assert(math.abs(gy - ey) < 0.01, s"$s gy")
    }
  }

  test("sessions with too few clusters are dropped, others unaffected") {
    val tiny = Seq(SesM("s0", 0.0, 0.5, 0.5, 0L), SesM("s0", 0.1, 0.5, 0.5, 0L))
      .toDF().unionByName(markers)
    val tinyP = Seq(SesP("s0", 0.001, 0.4, 0.4, 0.9)).toDF().unionByName(pupils)
    val out = SessionCalibrator.fitTransform(tiny, tinyP, "session",
      window = 1.0 / 30.0)
    assert(out.filter(col("session") === "s0").count() == 0)
    assert(out.select("session").distinct().count() == 3)
  }

  test("model join survives past the broadcast gate (forced keyed join)") {
    val reduced = SessionCalibrator.reducedPoints(markers, pupils,
      "session", window = 1.0 / 30.0, minConfidence = 0.75)
    val models = graft.CacheRegistry.persistTracked(
      SessionCalibrator.fitModels(spark, reduced, "session"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaBroadcast = SessionCalibrator.transform(pupils, models, "session")
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "gate under threshold must broadcast")
    val expected = rows(viaBroadcast)
    // past the gate AND with Spark's own auto-broadcast off: the join must
    // degrade gracefully to a keyed shuffle join with identical results
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.get(autoKey)
    val prevAqe = spark.conf.getOption(aqeKey)
    try {
      spark.conf.set(autoKey, "-1")
      spark.conf.set(aqeKey, "-1")
      val keyed = SessionCalibrator.transform(pupils, models, "session",
        maxBroadcastSessions = 0L)
      assert(!keyed.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "gate at 0 must not broadcast")
      assert(rows(keyed) == expected)
    } finally {
      spark.conf.set(autoKey, prevAuto)
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
      graft.CacheRegistry.releaseAll()
    }
  }

  /** The keyed as-of + percentile composition `reducedPoints` ran before
    * it ran one SessionPoints per session, verbatim: the parity reference. */
  def composed(markers: DataFrame, pupils: DataFrame,
               sessionCol: String, window: Double,
               minConfidence: Double): DataFrame = {
    import graft.operators.AsOfJoin
    val matched = AsOfJoin.nearest(
      markers.select(col(sessionCol), col("timestamp"), col("norm_x"),
        col("norm_y"), col("marker_cluster_index")),
      pupils.select(col(sessionCol), col("timestamp"),
        col("norm_x").as("pnx"), col("norm_y").as("pny"), col("confidence")),
      "timestamp", "timestamp", Seq(sessionCol), rightPrefix = "p_",
      tolerance = Some(window))
      .filter(col("p_confidence") > minConfidence)
      .withColumnRenamed("p_pnx", "px").withColumnRenamed("p_pny", "py")
    matched.groupBy(col(sessionCol), col("marker_cluster_index")).agg(
      expr("percentile(norm_x, 0.5)").as("mx"),
      expr("percentile(norm_y, 0.5)").as("my"),
      expr("percentile(px, 0.5)").as("px"),
      expr("percentile(py, 0.5)").as("py"))
  }

  /** A row's fields, doubles as their raw bits. */
  def bits(r: Row): String = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case o => String.valueOf(o)
  }.mkString(",")

  // window 1/64 s, so a match exactly at the window is exact arithmetic
  val edgeWindow = 1.0 / 64
  // edge rows, each in its own cluster of session s1 (marker and pupil
  // rows: session, ts, x, y, cluster | confidence):
  //  90: a marker equidistant (1/128 s) from two pupils;
  //  91: a pupil at exactly the marker's timestamp;
  //  92: a null-ts marker; 93: a NaN-ts marker (it meets the NaN-ts pupil);
  //  95: a pupil exactly `edgeWindow` away; 96: one just past it;
  //  97: a pupil with confidence == minConfidence, and one with 0.9.
  // Plus a null-ts pupil in s1; session "m" with markers and no pupils,
  // "p" with pupils and no markers, "n" whose only pupil has no
  // timestamp, and a null session key with markers and pupils.
  def edgeRows: (DataFrame, DataFrame) = {
    val past = java.lang.Math.nextUp(1030.0 + edgeWindow)
    val ms: Seq[(Option[String], Option[Double], Double, Double, Long)] = Seq(
      (Some("s1"), Some(1000.0), 0.3, 0.4, 90L),
      (Some("s1"), Some(1010.0), 0.4, 0.3, 91L),
      (Some("s1"), None, 0.5, 0.5, 92L),
      (Some("s1"), Some(Double.NaN), 0.5, 0.6, 93L),
      (Some("s1"), Some(1020.0), 0.6, 0.5, 95L),
      (Some("s1"), Some(1030.0), 0.6, 0.6, 96L),
      (Some("s1"), Some(1040.0), 0.7, 0.2, 97L), (Some("s1"), Some(1041.0), 0.7, 0.2, 97L),
      (Some("m"), Some(1.0), 0.5, 0.5, 0L), (Some("m"), Some(2.0), 0.6, 0.5, 1L),
      (Some("n"), Some(1.0), 0.5, 0.5, 0L),
      (None, Some(1.0), 0.2, 0.2, 0L), (None, Some(1.1), 0.2, 0.2, 0L),
      (None, Some(3.0), 0.8, 0.2, 1L))
    val ps: Seq[(Option[String], Option[Double], Double, Double, Double)] = Seq(
      (Some("s1"), Some(1000.0 - 1.0 / 128), 0.31, 0.41, 0.9),
      (Some("s1"), Some(1000.0 + 1.0 / 128), 0.32, 0.42, 0.9),
      (Some("s1"), Some(1009.99), 0.41, 0.31, 0.9), (Some("s1"), Some(1010.0), 0.42, 0.32, 0.9),
      (Some("s1"), Some(1010.01), 0.43, 0.33, 0.9),
      (Some("s1"), None, 0.5, 0.5, 0.9), (Some("s1"), Some(Double.NaN), 0.51, 0.61, 0.9),
      (Some("s1"), Some(1020.0 + edgeWindow), 0.61, 0.51, 0.9),
      (Some("s1"), Some(past), 0.61, 0.61, 0.9),
      (Some("s1"), Some(1040.001), 0.71, 0.21, 0.75), (Some("s1"), Some(1041.001), 0.72, 0.22, 0.9),
      (Some("p"), Some(1.0), 0.5, 0.5, 0.9),
      (Some("n"), None, 0.5, 0.5, 0.9),
      (None, Some(1.001), 0.21, 0.21, 0.9), (None, Some(1.101), 0.22, 0.22, 0.9),
      (None, Some(3.001), 0.81, 0.21, 0.9))
    (markers.unionByName(ms.toDF("session", "timestamp", "norm_x", "norm_y",
        "marker_cluster_index")),
      pupils.unionByName(ps.toDF("session", "timestamp", "norm_x", "norm_y",
        "confidence")))
  }

  test("reducedPoints == the keyed as-of + percentile composition, bit for bit, edge rows included") {
    val (m, p) = edgeRows
    val got = SessionCalibrator.reducedPoints(m, p, "session", edgeWindow, 0.75)
    val want = composed(m, p, "session", edgeWindow, 0.75)
    assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
    val rows = got.collect()
    assert(rows.map(bits).sorted.toSeq == want.collect().map(bits).sorted.toSeq)
    // the edges resolve as nearest() documents, so the parity is not vacuous
    val s1 = rows.filter(_.getAs[String]("session") == "s1")
      .map(r => r.getAs[Long]("marker_cluster_index") -> r).toMap
    assert(s1(90L).getAs[Double]("px") == 0.31) // tie → the earlier pupil
    assert(s1(91L).getAs[Double]("px") == 0.42) // equal ts wins
    assert(s1(95L).getAs[Double]("px") == 0.61) // at the window: kept
    assert(s1(97L).getAs[Double]("px") == 0.72) // at the gate: gated out
    assert(Seq(92L, 93L, 96L).forall(c => !s1.contains(c)))
    assert(s1.size == 16 + 4)
    val sessions = rows.map(r => Option(r.getAs[String]("session"))).toSet
    assert(sessions == Set(Some("s1"), Some("s2"), Some("s3"), None))
    assert(rows.count(_.isNullAt(0)) == 2)
  }

  test("fitModels rejects a calibration type it does not fit") {
    val reduced = SessionCalibrator.reducedPoints(markers, pupils,
      "session", window = 1.0 / 30.0, minConfidence = 0.75)
    for (t <- Seq("monocular_pl", "monocular_tps", "monocular_rbf_cv", "bogus")) {
      val e = intercept[IllegalArgumentException](SessionCalibrator.fitModels(
        spark, reduced, "session", Calibrator.Config(calibrationType = t)))
      assert(e.getMessage.contains(t), e.getMessage)
    }
  }

  test("native TPS eval is bit-equal to the HOF formulation and the scalar kernel") {
    val anchors = Array.tabulate(9)(i => Array((i % 3) / 2.0, (i / 3) / 2.0))
    val theta = Tps.fit(anchors, anchors.map(a => a(0) * 0.6 + a(1)), 1e-3)
    val df = Seq((0.3, 0.7), (0.05, 0.9)).toDF("px", "py")
      .withColumn("ax", typedLit(anchors.map(_(0)).toSeq))
      .withColumn("ay", typedLit(anchors.map(_(1)).toSeq))
      .withColumn("th", typedLit(theta.toSeq))
    // the interpreted HOF formulation the native TpsEval replaced — kept
    // inline here as the bit-parity reference
    val hof = {
      val nIdx = size(col("ax"))
      val warp = aggregate(sequence(lit(1), nIdx), lit(0.0), (acc, i) => {
        val dx = col("px") - element_at(col("ax"), i)
        val dy = col("py") - element_at(col("ay"), i)
        val r = sqrt(dx * dx + dy * dy)
        acc + element_at(col("th"), i) * r * r * log(r + lit(1e-6))
      })
      element_at(col("th"), nIdx + 1) + element_at(col("th"), nIdx + 2) * col("px") +
        element_at(col("th"), nIdx + 3) * col("py") + warp
    }
    val lit1 = TpsMapModel.tpsCol(col("px"), col("py"), anchors, theta)
    val dat = TpsMapModel.tpsColFromColumns(col("px"), col("py"),
      col("ax"), col("ay"), col("th"))
    val rows = df.select(hof.as("h"), lit1.as("a"), dat.as("b"),
      col("px"), col("py")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1) && r.getDouble(1) == r.getDouble(2))
      // and against the driver-side scalar kernel
      val z = Tps.z(r.getDouble(3), r.getDouble(4), anchors, theta)
      assert(math.abs(r.getDouble(2) - z) < 1e-12)
    }
  }
}
