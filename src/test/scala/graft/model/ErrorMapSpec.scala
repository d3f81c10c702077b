package graft.model

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class ErrorMapSpec extends SparkSpec {
  import spark.implicits._

  val rng = new scala.util.Random(11)

  // markers on a 4x4 grid; gaze = marker + constant pixel offset
  val offsetNorm = 0.01 // in normalized x units → 2048*0.01 ≈ 20.5 px
  lazy val (markers, gaze) = {
    val ms = scala.collection.mutable.ArrayBuffer[CalM]()
    val gs = scala.collection.mutable.ArrayBuffer[CalP]()
    var t = 0.0; var c = 0L
    for (i <- 0 until 4; j <- 0 until 4) {
      val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
      for (_ <- 0 until 10) {
        ms += CalM(t, mx, my, c)
        gs += CalP(t + 0.001, mx + offsetNorm, my, 0.95)
        t += 1.0 / 30.0
      }
      c += 1; t += 0.3
    }
    (ms.toSeq.toDF(), gs.toSeq.toDF())
  }

  test("constant-offset gaze yields the analytic angular error") {
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val res = ErrorMap.compute(markers, gaze, cfg)
    val ppd = ErrorMap.pixelsPerDegree(cfg)
    val expectedDeg = offsetNorm * 2048.0 / ppd
    val pts = res.points.select("err_deg").collect().map(_.getDouble(0))
    assert(pts.length == 16)
    pts.foreach(e => assert(math.abs(e - expectedDeg) < 1e-9,
      s"point err $e vs $expectedDeg"))
    val sm = res.summary.collect()(0)
    assert(math.abs(sm.getAs[Double]("gaze_err_weighted") - expectedDeg) < 0.05)
    assert(sm.getAs[Double]("gaze_fraction_excluded") >= 0.0)
    // grid has full resolution and nulls outside the marker hull
    assert(res.grid.count() == 60L * 80L)
    assert(res.grid.filter(col("err").isNull).count() > 0)
    val inside = res.grid.filter(col("x").between(0.2, 0.7) &&
      col("y").between(0.2, 0.7) && col("err").isNotNull)
    inside.select("err").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - expectedDeg) < 0.2)
    }
  }

  test("summaryBySession == compute().summary per session (distributed parity)") {
    // two sessions with DIFFERENT planted offsets: the cogrouped form
    // must reproduce the single-session driver form's summary for each,
    // to fp tolerance (anchor order inside the TPS solve is the only
    // difference between the two paths)
    val offs = Map("sA" -> 0.01, "sB" -> 0.02)
    val ms = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    for ((sess, off) <- offs) {
      var t = 0.0; var c = 0L
      for (i <- 0 until 4; j <- 0 until 4) {
        val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
        for (_ <- 0 until 5) {
          ms += ((sess, t, mx, my, c))
          gs += ((sess, t + 0.001, mx + off, my, 0.95))
          t += 1.0 / 30.0
        }
        c += 1; t += 0.3
      }
    }
    val mdf = ms.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val gdf = gs.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val bySession = ErrorMap.summaryBySession(mdf, gdf, "session", cfg)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(bySession.keySet == offs.keySet)
    for (sess <- offs.keys) {
      val single = ErrorMap.compute(
        mdf.filter(col("session") === sess),
        gdf.filter(col("session") === sess),
        cfg.copy(matchKeys = Seq("session"))).summary.collect()(0)
      val r = bySession(sess)
      assert(r.getAs[Long]("n_points") ==
        single.getAs[Int]("n_points").toLong ||
        r.getAs[Long]("n_points") == single.getAs[Number]("n_points").longValue,
        s"$sess n_points")
      for (c <- Seq("err_median", "err_mean", "gaze_err_weighted",
          "gaze_fraction_excluded")) {
        val a = r.getAs[Double](c); val b = single.getAs[Double](c)
        assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
          s"$sess $c: distributed $a vs single $b")
      }
      graft.CacheRegistry.releaseAll()
    }
    // the planted offsets actually differ between sessions — the
    // per-session isolation is load-bearing, not vacuous
    assert(math.abs(bySession("sB").getAs[Double]("err_median") -
      2 * bySession("sA").getAs[Double]("err_median")) < 1e-6)
  }

  test("summaryBySession honors clusterReduce=false, mci-less markers, zero-gaze sessions, and rejects matchKeys") {
    // one session, 4x4 anchor grid, 3 samples per anchor, constant offset
    val ms = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    var t = 0.0; var c = 0L
    for (i <- 0 until 4; j <- 0 until 4) {
      val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
      for (_ <- 0 until 3) {
        ms += (("s1", t, mx, my, c))
        gs += (("s1", t + 0.001, mx + 0.015, my, 0.95))
        t += 1.0 / 30.0
      }
      c += 1; t += 0.3
    }
    val mdf = ms.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val gdf = gs.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg = ErrorMap.Config(resolution = (60, 80))
    def parity(m: org.apache.spark.sql.DataFrame, cc: ErrorMap.Config): Unit = {
      val dist = ErrorMap.summaryBySession(m, gdf, "session", cc).collect()(0)
      val single = ErrorMap.compute(m, gdf, cc).summary.collect()(0)
      assert(dist.getAs[Long]("n_points") ==
        single.getAs[Number]("n_points").longValue)
      for (col <- Seq("err_median", "err_mean", "gaze_err_weighted",
          "gaze_fraction_excluded")) {
        val a = dist.getAs[Double](col); val b = single.getAs[Double](col)
        assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
          s"$col: distributed $a vs single $b")
      }
      graft.CacheRegistry.releaseAll()
    }
    // 1. clusterReduce=false: every matched point its own anchor (48),
    // same numbers as compute for the same Config — previously the
    // config was silently ignored and the numbers were the reduced ones
    parity(mdf, cfg.copy(clusterReduce = false))
    // 2. markers WITHOUT marker_cluster_index: the compute() column-
    // presence fallback, not an AnalysisException
    parity(mdf.drop("marker_cluster_index"), cfg)
    // 3. zero in-frame gaze: the fit succeeded (>= 4 points), so the row
    // EXISTS with null weighted fields — absence stays reserved for the
    // too-few-points failure
    val gOut = gdf.withColumn("norm_x", col("norm_x") + 1.5)
    val zr = ErrorMap.summaryBySession(mdf, gOut, "session",
      cfg.copy(outlierStds = None)).collect()
    assert(zr.length == 1, "zero-gaze session lost its summary row")
    assert(zr(0).getAs[Long]("n_points") == 16L)
    assert(!zr(0).isNullAt(zr(0).fieldIndex("err_median")))
    assert(zr(0).isNullAt(zr(0).fieldIndex("gaze_err_weighted")) &&
      zr(0).isNullAt(zr(0).fieldIndex("gaze_fraction_excluded")),
      "weighted fields must be null when there is no gaze to weight")
    // 4. matchKeys would be silently ignored — reject loudly
    intercept[IllegalArgumentException] {
      ErrorMap.summaryBySession(mdf, gdf, "session",
        cfg.copy(matchKeys = Seq("session")))
    }
  }

  /** The keyed as-of + percentile + DataFrame-binning composition
    * `summaryBySession` ran before it ran one SessionPoints per session,
    * verbatim: the parity reference. */
  def composedBySession(markers: DataFrame, gaze: DataFrame,
                        sessionCol: String,
                        cfg: ErrorMap.Config = ErrorMap.Config()): DataFrame = {
    import ErrorMap.{pixelsPerDegree, sessionSummary}
    import graft.operators.AsOfJoin
    val spark = markers.sparkSession
    import spark.implicits._
    val ppd = pixelsPerDegree(cfg)
    val (vres, hres) = cfg.resolution
    val (iw, ih) = cfg.imageResolution

    // sessionCol IS the match key of this form (the per-session analog
    // of compute's matchKeys); extra keys would silently change the
    // reduction grain, so reject them loudly rather than ignore them
    require(cfg.matchKeys.isEmpty,
      s"summaryBySession keys by '$sessionCol'; Config.matchKeys " +
        s"(${cfg.matchKeys.mkString(",")}) would be silently ignored — " +
        "fold them into the session column instead")
    // cluster reduction mirrors [[compute]] step 2 exactly: reduce only
    // when configured AND the column exists; otherwise every matched
    // point is its own anchor (same numbers as compute for the same
    // Config + input shape)
    val doReduce = cfg.clusterReduce &&
      markers.columns.contains("marker_cluster_index")
    val markerCols = Seq(col(sessionCol), col("timestamp"),
      col("norm_x"), col("norm_y")) ++
      (if (doReduce) Seq(col("marker_cluster_index")) else Nil)
    val matched = AsOfJoin.nearest(
        markers.select(markerCols: _*),
        gaze.select(col(sessionCol), col("timestamp"),
          col("norm_x").as("gx"), col("norm_y").as("gy"),
          col("confidence")),
        "timestamp", "timestamp", Seq(sessionCol), rightPrefix = "g_")
      .filter(col("g_confidence") > cfg.minPupilConfidence)
      .withColumnRenamed("g_gx", "gx").withColumnRenamed("g_gy", "gy")
    val reduced =
      if (doReduce) matched
        .groupBy(col(sessionCol), col("marker_cluster_index")).agg(
          expr("percentile(norm_x, 0.5)").as("mx"),
          expr("percentile(norm_y, 0.5)").as("my"),
          expr("percentile(gx, 0.5)").as("gx"),
          expr("percentile(gy, 0.5)").as("gy"))
      else matched.select(col(sessionCol), col("norm_x").as("mx"),
        col("norm_y").as("my"), col("gx"), col("gy"))
    val exPix = (col("gx") - col("mx")) * iw
    val eyPix = (col("gy") - col("my")) * ih
    val pts = reduced
      .select(col(sessionCol).cast("string"), col("mx"), col("my"),
        (sqrt(exPix * exPix + eyPix * eyPix) / ppd).as("err_deg"))
      .as[(String, Double, Double, Double)]
      .groupByKey(_._1)

    // occupied histogram cells only (the [[compute]] step-7 binning)
    val cells = gaze
      .filter(col("norm_x").between(0, 1) && col("norm_y").between(0, 1))
      .select(col(sessionCol).cast("string"),
        least(floor(col("norm_x") * hres), lit(hres - 1)).cast("long").as("ix"),
        least(floor(col("norm_y") * vres), lit(vres - 1)).cast("long").as("iy"))
      .groupBy(sessionCol, "ix", "iy").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)

    pts.cogroup(cells) { (session, ptIt, cellIt) =>
      sessionSummary(ptIt.map(r => (r._2, r._3, r._4)).toArray,
        cellIt.map(c => (c._2, c._3, c._4)), cfg) match {
        // row ABSENCE is the too-few-points failure
        case Left(_) => Iterator.empty
        case Right(s) => Iterator((session, s.nPoints.toLong, s.errMedian,
          s.errMean, s.weighted, s.excluded))
      }
    }.toDF(sessionCol, "n_points", "err_median", "err_mean",
      "gaze_err_weighted", "gaze_fraction_excluded")
  }

  /** Three planted sessions (4x4 anchors, 3 samples each, gaze = marker +
    * a per-session offset at +1 ms) plus edge rows, each in its own
    * cluster of session sA:
    *  90: a marker equidistant (1/128 s) from two gaze rows;
    *  91: a gaze row at exactly the marker's timestamp;
    *  92: a null-ts marker (it takes the earliest gaze row);
    *  93: a NaN-ts marker (it takes the NaN-ts gaze row);
    *  95: a gaze row 1/64 s away; 96: one just past 1/64 s;
    *  97: a gaze row with confidence == minPupilConfidence, and one above.
    * Plus an in-frame null-ts gaze row in sA; session "m" with markers
    * and no gaze, "g" with gaze and no markers, "few" with one cluster,
    * and a null session key with a planted grid. */
  def edgeSessions: (DataFrame, DataFrame) = {
    val ms = scala.collection.mutable.ArrayBuffer[(Option[String], Option[Double], Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(Option[String], Option[Double], Double, Double, Double)]()
    for ((sess, off, nClusters) <- Seq((Some("sA"), 0.01, 16), (Some("sB"), 0.02, 16),
        (Some("sC"), -0.015, 16), (None, 0.012, 16), (Some("few"), 0.01, 1))) {
      var t = 0.0
      for (c <- 0 until nClusters) {
        val mx = 0.15 + 0.2 * (c / 4); val my = 0.15 + 0.2 * (c % 4)
        for (k <- 0 until 3) {
          ms += ((sess, Some(t), mx, my, c.toLong))
          gs += ((sess, Some(t + 0.001), mx + off, my + 0.002 * k, 0.95))
          t += 1.0 / 30.0
        }
        t += 0.3
      }
    }
    val a = Some("sA")
    ms ++= Seq((a, Some(1000.0), 0.3, 0.45, 90L), (a, Some(1010.0), 0.45, 0.3, 91L),
      (a, None, 0.5, 0.62, 92L), (a, Some(Double.NaN), 0.62, 0.5, 93L),
      (a, Some(1020.0), 0.4, 0.55, 95L), (a, Some(1030.0), 0.55, 0.4, 96L),
      (a, Some(1040.0), 0.7, 0.65, 97L), (a, Some(1041.0), 0.7, 0.65, 97L),
      (Some("m"), Some(1.0), 0.5, 0.5, 0L))
    gs ++= Seq((a, Some(1000.0 - 1.0 / 128), 0.31, 0.45, 0.95),
      (a, Some(1000.0 + 1.0 / 128), 0.33, 0.45, 0.95),
      (a, Some(1009.99), 0.47, 0.3, 0.95), (a, Some(1010.0), 0.46, 0.3, 0.95),
      (a, Some(1010.01), 0.48, 0.3, 0.95),
      (a, None, 0.5, 0.5, 0.95), (a, Some(Double.NaN), 0.63, 0.5, 0.95),
      (a, Some(1020.0 + 1.0 / 64), 0.41, 0.55, 0.95),
      (a, Some(java.lang.Math.nextUp(1030.0 + 1.0 / 64)), 0.56, 0.4, 0.95),
      (a, Some(1040.001), 0.9, 0.9, 0.6), (a, Some(1041.001), 0.71, 0.65, 0.95),
      (Some("g"), Some(1.0), 0.5, 0.5, 0.95))
    (ms.toSeq.toDF("session", "timestamp", "norm_x", "norm_y", "marker_cluster_index"),
      gs.toSeq.toDF("session", "timestamp", "norm_x", "norm_y", "confidence"))
  }

  test("summaryBySession == the keyed as-of + percentile + binning composition, bit for bit") {
    val (m, g) = edgeSessions
    // resolution (3, 4): the only grid nodes a hull inside the unit square
    // can hold are (1/3, 1/2) and (2/3, 1/2), so the gaze-weighted sum has
    // at most two terms and the reference's shuffle-dependent cell order
    // cannot move a bit
    val cfg = ErrorMap.Config(resolution = (3, 4))
    for ((mm, cc) <- Seq((m, cfg), (m, cfg.copy(outlierStds = None)),
        (m, cfg.copy(clusterReduce = false)), (m.drop("marker_cluster_index"), cfg))) {
      val got = ErrorMap.summaryBySession(mm, g, "session", cc)
      val want = composedBySession(mm, g, "session", cc)
      assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
      val rows = got.collect()
      def bits(r: Row) = r.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
        case o => String.valueOf(o)
      }.mkString(",")
      assert(rows.map(bits).sorted.toSeq == want.collect().map(bits).sorted.toSeq, s"$cc")
      // absent: "m", "g" and "few"; present: the planted sessions and the
      // null key, with their gaze weighted inside the hull
      assert(rows.map(r => Option(r.getString(0))).toSet ==
        Set(Some("sA"), Some("sB"), Some("sC"), None), s"$cc")
      assert(rows.forall(r => !r.isNullAt(r.fieldIndex("gaze_err_weighted"))))
    }
    // the edge clusters reach the points: 16 planted + 90, 91, 92, 93,
    // 95, 96, 97 (97 through its second marker only)
    val sA = ErrorMap.summaryBySession(m, g, "session", cfg.copy(outlierStds = None))
      .filter(col("session") === "sA").head()
    assert(sA.getAs[Long]("n_points") == 23L)
  }

  test("in-frame gaze entirely outside the hull: weighted error null (compute parity), excluded fraction 1.0") {
    // anchors confined to a corner patch so the hull covers almost
    // nothing; gaze lands IN frame but far outside it → total > 0,
    // inside == 0. The weighted mean is over an empty set: compute()'s
    // SQL sum over an empty when-set is null, and the distributed path
    // must match — 0.0/0.0 would be NaN and break null-aware downstream
    // gates (qc err_weighted_ok).
    val ms2 = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs2 = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    var t2 = 0.0; var c2 = 0L
    for (i <- 0 until 3; j <- 0 until 3) {
      val mx = 0.10 + 0.06 * i; val my = 0.10 + 0.06 * j
      for (_ <- 0 until 3) {
        ms2 += (("s1", t2, mx, my, c2))
        gs2 += (("s1", t2 + 0.001, 0.85, 0.85, 0.95))
        t2 += 1.0 / 30.0
      }
      c2 += 1; t2 += 0.3
    }
    val m2 = ms2.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val g2 = gs2.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg2 = ErrorMap.Config(resolution = (60, 80), outlierStds = None)
    val r = ErrorMap.summaryBySession(m2, g2, "session", cfg2).collect()(0)
    assert(r.getAs[Long]("n_points") == 9L)
    assert(r.isNullAt(r.fieldIndex("gaze_err_weighted")),
      "empty-inside weighted error must be null, not NaN")
    assert(r.getAs[Double]("gaze_fraction_excluded") == 1.0)
    val s = ErrorMap.compute(m2, g2, cfg2).summary.collect()(0)
    assert(s.isNullAt(s.fieldIndex("gaze_err_weighted")),
      "compute() contract drifted: expected null for empty inside-set")
    graft.CacheRegistry.releaseAll()
  }

  test("convex hull is correct and masks outside points") {
    val square = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(1.0, 1.0),
      Array(0.0, 1.0), Array(0.5, 0.5))
    val hull = ErrorMap.convexHull(square)
    assert(hull.length == 4)
    val df = Seq((0.5, 0.5), (1.5, 0.5), (-0.1, 0.2)).toDF("x", "y")
      .withColumn("in", ErrorMap.hullPredicate(square, col("x"), col("y"), false))
    assert(df.collect().map(_.getBoolean(2)).toSeq == Seq(true, false, false))
  }

  // ---- ErrorMap.summary (one task) against compute(...).summary

  /** Same schema, n_points exactly, every other field to 1e-9 relative
    * with nulls in the same places. */
  def summaryParity(m: DataFrame, g: DataFrame, cfg: ErrorMap.Config): Row = {
    val kernel = ErrorMap.summary(m, g, cfg)
    val ref = ErrorMap.compute(m, g, cfg).summary
    assert(kernel.schema == ref.schema, s"${kernel.schema} vs ${ref.schema}")
    val (a, b) = (kernel.collect(), ref.collect())
    assert(a.length == 1 && b.length == 1)
    assert(a(0).getAs[Int]("n_points") == b(0).getAs[Int]("n_points"))
    for (c <- Seq("gaze_err_weighted", "gaze_fraction_excluded", "err_median",
        "err_mean")) {
      val i = a(0).fieldIndex(c)
      assert(a(0).isNullAt(i) == b(0).isNullAt(i), s"$c: ${a(0)} vs ${b(0)}")
      if (!b(0).isNullAt(i)) {
        val (x, y) = (a(0).getDouble(i), b(0).getDouble(i))
        assert(math.abs(x - y) <= 1e-9 * math.abs(y), s"$c: summary $x vs compute $y")
      }
    }
    graft.CacheRegistry.releaseAll()
    a(0)
  }

  /** One session: 4x4 anchor grid, `n` samples per anchor, gaze = marker
    * + (off, 0) at +1 ms. */
  def grid4(off: Double, n: Int, t0: Double = 0.0): (DataFrame, DataFrame) = {
    val ms = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    var t = t0; var c = 0L
    for (i <- 0 until 4; j <- 0 until 4) {
      val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
      for (_ <- 0 until n) {
        ms += ((t, mx, my, c)); gs += ((t + 0.001, mx + off, my, 0.95))
        t += 1.0 / 30.0
      }
      c += 1; t += 0.3
    }
    (ms.toSeq.toDF("timestamp", "norm_x", "norm_y", "marker_cluster_index"),
      gs.toSeq.toDF("timestamp", "norm_x", "norm_y", "confidence"))
  }

  test("summary == compute().summary: planted offsets and the golden session") {
    val cfg = ErrorMap.Config(resolution = (60, 80))
    summaryParity(markers, gaze, cfg)
    for (off <- Seq(0.01, 0.02)) {
      val (m, g) = grid4(off, 5)
      summaryParity(m, g, cfg)
    }
    // golden session: validation epoch vs the gaze of the calibration fit
    import graft.GoldenSession
    val clustered = graft.operators.MarkerParsing.filterAndCluster(
      GoldenSession.markers(spark), GoldenSession.clock(spark),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))
    val first = clustered.agg(min("epoch")).head().getLong(0)
    def named(df: DataFrame) = df.select(col("timestamp"),
      element_at(col("norm_pos"), 1).as("norm_x"),
      element_at(col("norm_pos"), 2).as("norm_y"), col("marker_cluster_index"))
    val pupils = GoldenSession.pupils(spark)
    val model = Calibrator.fit(named(clustered.filter(col("epoch") === first)), pupils).get
    val g = model.transform(pupils).select(col("timestamp"),
      col("gaze_x").as("norm_x"), col("gaze_y").as("norm_y"), col("confidence"))
    val r = summaryParity(named(clustered.filter(col("epoch") =!= first)), g, cfg)
    assert(r.getAs[Int]("n_points") == 16)
  }

  test("summary == compute().summary: per-row points, no cluster column, no in-frame gaze, gaze outside the hull") {
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val (m, g) = grid4(0.015, 3)
    summaryParity(m, g, cfg.copy(clusterReduce = false))
    summaryParity(m.drop("marker_cluster_index"), g, cfg)
    // every gaze sample out of frame: null weighted fields
    val z = summaryParity(m, g.withColumn("norm_x", col("norm_x") + 1.5),
      cfg.copy(outlierStds = None))
    assert(z.isNullAt(0) && z.isNullAt(1) && z.getAs[Int]("n_points") == 16)
    // in-frame gaze, all of it outside the anchors' hull
    val g2 = g.withColumn("norm_x", lit(0.99)).withColumn("norm_y", lit(0.99))
    val m2 = m.withColumn("norm_x", col("norm_x") * 0.2)
      .withColumn("norm_y", col("norm_y") * 0.2)
    val h = summaryParity(m2, g2, cfg.copy(outlierStds = None))
    assert(h.isNullAt(0) && h.getAs[Double]("gaze_fraction_excluded") == 1.0)
  }

  test("summary: fewer than 4 points raise compute's Too few points requirement") {
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val (m0, g) = grid4(0.01, 3)
    val m = m0.filter(col("marker_cluster_index") < 3)
    val expected = intercept[IllegalArgumentException](ErrorMap.compute(m, g, cfg))
    graft.CacheRegistry.releaseAll()
    val e = intercept[Exception](ErrorMap.summary(m, g, cfg).collect())
    var root: Throwable = e
    while (root.getCause != null) root = root.getCause
    assert(root.isInstanceOf[IllegalArgumentException], root.toString)
    assert(root.getMessage == expected.getMessage &&
      root.getMessage.contains("Too few points"), root.getMessage)
  }
}
