package graft.operators

import graft.{GoldenSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class MarkerParsingSpec extends SparkSpec {
  import spark.implicits._

  test("snapTimestamps repairs float drift within 1e-8 (J5)") {
    val clock = Seq(1.0, 2.0, 3.0).toDF("timestamp")
    val m = Seq(1.0 + 4e-9, 2.0, 2.5).toDF("timestamp")
    val out = MarkerParsing.snapTimestamps(m, clock, "timestamp", "timestamp")
      .select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(out.toSeq == Seq(1.0, 2.0, 2.5))
  }

  test("removeBriefDetections drops dup-ts rows and short runs (W3)") {
    // clock at 10 Hz; markers present for 1.0 s (kept), 0.2 s (dropped),
    // plus a duplicated timestamp (both copies dropped)
    val clock = (0 until 100).map(_ * 0.1).toDF("timestamp")
    val longRun = (10 to 20).map(_ * 0.1) // 1.0 s
    val shortRun = (50 to 52).map(_ * 0.1) // 0.2 s
    val dup = Seq(8.0, 8.0)
    val markers = (longRun ++ shortRun ++ dup).toDF("timestamp")
      .withColumn("v", col("timestamp") * 10)
    val out = MarkerParsing.removeBriefDetections(
        markers, clock, "timestamp", "timestamp", 0.6)
      .select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(out.length == longRun.length)
    assert(math.abs(out.head - 1.0) < 1e-9 && math.abs(out.last - 2.0) < 1e-9)
  }

  test("sizeAspect + removeSmallDetections gates size and aspect (P5/P7)") {
    val rows = Seq.tabulate(40)(i =>
      (i.toDouble, Seq(0.05, 0.05))) ++ // round, normal size
      Seq((40.0, Seq(0.08, 0.05)), // oblique: aspect 1.6 > 1.2
        (41.0, Seq(0.002, 0.002))) // tiny
    val df = rows.toDF("timestamp", "size")
    val out = MarkerParsing.removeSmallDetections(df, "size",
      sizeStdThreshold = Some(2.0), bimodalStdThreshold = None)
    val kept = out.select("timestamp").collect().map(_.getDouble(0))
    assert(!kept.contains(40.0)) // oblique dropped
    assert(!kept.contains(41.0)) // small dropped
    assert(kept.length == 40)
  }

  test("conjunctive masks: std floor comes from the FULL set, not post-bimodality") {
    // bimodal sizes: 30 big (~0.06) + 10 small (~0.01). The full-set std
    // (~0.022) puts the k=1 floor at median−std ≈ 0.038: small mode dropped
    // by BOTH masks. A sequential composition would recompute std over the
    // big mode only (~0.001) and keep every big row regardless — same here —
    // but with k large enough the full-set floor keeps all 40 while the
    // bimodality mask still cuts: intersection ≠ composition is covered by
    // asserting the exact kept set under both thresholds.
    val rows = Seq.tabulate(30)(i => (i.toDouble, Seq(0.06 + 1e-4 * i, 0.06))) ++
      Seq.tabulate(10)(i => (100.0 + i, Seq(0.01 + 1e-4 * i, 0.01)))
    val df = rows.toDF("timestamp", "size")
    val out = MarkerParsing.removeSmallDetections(df, "size",
      sizeStdThreshold = Some(1.0), bimodalStdThreshold = Some(2.5),
      aspectThreshold = None)
    val kept = out.select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(kept.length == 30 && kept.forall(_ < 100.0))
    // replicate the reference's mask arithmetic on the driver
    val sizes = rows.map { case (_, s) => (s(0) + s(1)) / 2.0 }
    val med = sizes.sorted.apply(20 - 1) // n=40 → median = avg of 20th/21st
    val med2 = (med + sizes.sorted.apply(20)) / 2.0
    val mu = sizes.sum / sizes.length
    val sd = math.sqrt(sizes.map(v => (v - mu) * (v - mu)).sum / sizes.length)
    val floor = med2 - sd * 1.0
    assert(sizes.count(_ > floor) == 30) // full-set floor alone cuts the small mode
  }

  test("grouped bimodality equals the driver split per group (A6 scale form)") {
    // g1 bimodal (keeps the large mode), g2 unimodal (kept whole)
    val g1 = Seq.tabulate(30)(i => ("g1", 0.06 + 1e-4 * i)) ++
      Seq.tabulate(10)(i => ("g1", 0.01 + 1e-4 * i))
    val g2 = Seq.tabulate(20)(i => ("g2", 0.05 + 1e-4 * i))
    val df = (g1 ++ g2).toDF("g", "v")
    val grouped = graft.operators.ClusterOps
      .bimodalitySplitGrouped(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    val expected = (
      graft.operators.ClusterOps.bimodalitySplit(g1.toDF("g", "v"), "v")
        .collect().map(r => (r.getString(0), r.getDouble(1))) ++
      graft.operators.ClusterOps.bimodalitySplit(g2.toDF("g", "v"), "v")
        .collect().map(r => (r.getString(0), r.getDouble(1)))).sorted
    assert(grouped.toSeq == expected.toSeq)
    assert(grouped.count(_._1 == "g1") == 30 && grouped.count(_._1 == "g2") == 20)
  }

  test("grouped bimodality gates NULL group keys (null-safe join-back)") {
    // the null-key group is bimodal: its small mode must drop, exactly
    // like a named group — a plain equi-join would never match the cut
    // row back and every null-key row would silently pass
    val rows = (Seq.tabulate(30)(i => (None: Option[String], 0.06 + 1e-4 * i)) ++
      Seq.tabulate(10)(i => (None: Option[String], 0.01 + 1e-4 * i)) ++
      Seq.tabulate(20)(i => (Some("g2"), 0.05 + 1e-4 * i)))
      .toDF("g", "v")
    val kept = graft.operators.ClusterOps
      .bimodalitySplitGrouped(rows, Seq("g"), "v")
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1)))
    assert(kept.count(_._1.isEmpty) == 30) // null-key small mode dropped
    assert(kept.filter(_._1.isEmpty).forall(_._2 > 0.05))
    assert(kept.count(_._1.contains("g2")) == 20) // unimodal group intact
  }

  test("checkerboard session end-to-end: corner-ptp size feeds the full pipeline") {
    // markerCheckerboard rows: corner grid around each center, no `size`
    // column — the pipeline must derive it from the corner ptp with the
    // x extent scaled by the 4/3 image aspect (marker_parsing.py:148-156)
    val fps = 30.0
    def corners(cx: Double, cy: Double, hx: Double, hy: Double) =
      Seq(Seq(cx - hx, cy - hy), Seq(cx + hx, cy - hy),
        Seq(cx - hx, cy + hy), Seq(cx + hx, cy + hy))
    // square boards: x-ptp 0.045·(4/3) = 0.06, y-ptp 0.06 → aspect 1.0
    def epoch(t0: Double, xa: Double, xb: Double) = {
      val a = (0 until 600).map(i => (t0 + i / fps,
        Seq(xa, 0.4), corners(xa, 0.4, 0.0225, 0.03)))
      val b = (600 until 1200).map(i => (t0 + i / fps,
        Seq(xb, 0.6), corners(xb, 0.6, 0.0225, 0.03)))
      a ++ b
    }
    // oblique boards (x-ptp 0.045·4/3 = 0.06 vs y 0.03 → aspect 2.0 > 1.2;
    // mean size 0.045 — the SMALLER mode, so the bimodality gate agrees
    // with the aspect gate instead of fighting it) planted throughout
    // epoch 1: the masks must remove every one
    val oblique = (0 until 600).map(i => (0.013 + i / fps,
      Seq(0.5, 0.5), corners(0.5, 0.5, 0.0225, 0.015)))
    val markers = (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7) ++ oblique)
      .toDF("timestamp", "norm_pos", "norm_pos_full_checkerboard")
    val clock = ((0 until 5000).map(_ / fps) ++
      (0 until 600).map(0.013 + _ / fps)).toDF("timestamp")
    val out = MarkerParsing.filterAndClusterCheckerboard(markers, clock,
      clusterDuration = (1.0, 60.0))
    assert(out.count() > 0)
    // derived size/aspect columns carry the reference arithmetic
    val first = out.orderBy("timestamp").select("marker_size", "marker_aspect")
      .collect()(0)
    assert(math.abs(first.getDouble(0) - 0.06) < 1e-9)
    assert(math.abs(first.getDouble(1) - 1.0) < 1e-9)
    // obliques are gone; both epochs and their spatial clusters survive
    assert(out.filter(element_at(col("norm_pos"), 1) === 0.5).count() == 0)
    assert(out.select("epoch").distinct().count() == 2)
    out.groupBy("epoch").agg(countDistinct("marker_cluster_index").as("n"))
      .collect().foreach(r => assert(r.getAs[Long]("n") >= 2))
    // the corner arrays ride through to the clustered output
    assert(out.columns.contains("norm_pos_full_checkerboard"))
  }

  test("filterAndCluster end-to-end on a planted two-epoch session") {
    // two epochs 60 s apart, each with 2 spatial clusters at 30 Hz
    val fps = 30.0
    def epoch(t0: Double, xa: Double, xb: Double) = {
      val a = (0 until 600).map(i => (t0 + i / fps, Seq(xa, 0.4), Seq(0.05, 0.05)))
      val b = (600 until 1200).map(i => (t0 + i / fps, Seq(xb, 0.6), Seq(0.05, 0.05)))
      a ++ b
    }
    val markers = (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7))
      .toDF("timestamp", "norm_pos", "size")
    val clock = (0 until 5000).map(_ / fps).toDF("timestamp")
    val out = MarkerParsing.filterAndCluster(markers, clock,
      clusterDuration = (1.0, 60.0))
    assert(out.count() > 0)
    val epochs = out.select("epoch").distinct().count()
    assert(epochs == 2)
    // each epoch: 2 clusters (plus possible noise label filtered by gate)
    val clustersPerEpoch = out.groupBy("epoch")
      .agg(countDistinct("marker_cluster_index").as("n")).collect()
    clustersPerEpoch.foreach(r => assert(r.getAs[Long]("n") >= 2))
  }

  // ---- filterAndCluster kernel vs the step-by-step operator composition

  /** The declarative composition filterAndCluster ran before it became
    * one per-session kernel, kept verbatim as the parity reference. */
  def composed(markers: DataFrame, clock: DataFrame,
               tsCol: String = "timestamp",
               clockTs: String = "timestamp",
               sizeCol: String = "size",
               imageAspect: Double = 4.0 / 3.0,
               epochGap: Double = 15.0,
               epochDuration: (Double, Double) = (30.0, 150.0),
               dbscanEps: Double = 0.05,
               dbscanMinPoints: Int = 5,
               clusterDuration: (Double, Double) = (0.2, 5.0),
               minClusters: Int = 1,
               assumedEpochTime: Double = 90.0): DataFrame = {
    val cleaned = MarkerParsing.removeSmallDetections(
      MarkerParsing.removeBriefDetections(markers, clock, tsCol, clockTs), sizeCol)
    val epoched = TimeSeriesOps.sessionDurationFilter(
      TimeSeriesOps.sessionize(cleaned, tsCol, Nil, epochGap, "epoch"),
      tsCol, Nil, "epoch", epochDuration._1, epochDuration._2)
    // per-epoch normalized features (marker_parsing.py:366-378): t scaled
    // by the CONSTANT assumed epoch time of 90 s (the reference explicitly
    // comments out ptp so cluster spacing is consistent across epochs),
    // offset +2; x scaled by image aspect, y raw
    val w = Window.partitionBy(col("epoch"))
    val t = col(tsCol).cast("double")
    val tn = (t - min(t).over(w)) / assumedEpochTime + 2.0
    val feat = epoched
      .withColumn("_ft", tn)
      .withColumn("_fx", element_at(col("norm_pos"), 1) * imageAspect)
      .withColumn("_fy", element_at(col("norm_pos"), 2))
    val clustered = ClusterOps.dbscan(feat, Seq("epoch"),
      Seq("_ft", "_fx", "_fy"), tsCol, dbscanEps, dbscanMinPoints,
      "marker_cluster_index")
      .drop("_ft", "_fx", "_fy")
      // labels restart at 0 per epoch (the reference clusters each epoch
      // file separately) — make them globally unique before the gate,
      // keeping -1 = noise
      .withColumn("marker_cluster_index",
        when(col("marker_cluster_index") === -1, -1L)
          .otherwise(col("epoch") * 100000 + col("marker_cluster_index")))
    ClusterOps.clusterGate(clustered, "marker_cluster_index", tsCol,
      clusterDuration._1, clusterDuration._2, minClusters = minClusters)
  }

  /** Same columns (names and types) and the same rows, sorted by
    * timestamp, compared exactly; returns the row count. The kernel's
    * column order is the input's, then the four derived columns. The
    * composition's differs only when rows survive: its USING semi-join
    * in clusterGate moves marker_cluster_index to the front. */
  def assertParity(input: DataFrame, kernel: DataFrame, reference: DataFrame): Int = {
    def types(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types(kernel) == types(reference) && kernel.columns.length == reference.columns.length)
    assert(kernel.columns.toSeq == input.columns.toSeq ++
      Seq("marker_size", "marker_aspect", "epoch", "marker_cluster_index"))
    val ti = kernel.schema.fieldIndex("timestamp")
    def rows(df: DataFrame) = df.select(kernel.columns.toSeq.map(col): _*)
      .collect().toSeq.sortBy(_.getDouble(ti))
    val (k, r) = (rows(kernel), rows(reference))
    assert(k.length == r.length)
    k.zip(r).foreach { case (a, b) => assert(a == b, s"\nkernel    $a\nreference $b") }
    k.length
  }

  /** Two epochs 100 s apart, each with two spatial clusters at 30 Hz; the
    * size of row i comes from `size(i)`. */
  def twoEpochs(size: Int => Option[Seq[Double]]): DataFrame = {
    val fps = 30.0
    def epoch(t0: Double, xa: Double, xb: Double) =
      (0 until 1200).map(i =>
        (t0 + i / fps, Seq(if (i < 600) xa else xb, if (i < 600) 0.4 else 0.6)))
    (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7)).zipWithIndex
      .map { case ((t, p), i) => (t, p, size(i)) }
      .toDF("timestamp", "norm_pos", "size")
  }

  lazy val clock30 = (0 until 5000).map(_ / 30.0).toDF("timestamp")

  test("kernel parity: the golden session (every §A noise mode)") {
    val (m, c) = (GoldenSession.markers(spark), GoldenSession.clock(spark))
    val n = assertParity(m,
      MarkerParsing.filterAndCluster(m, c, clusterDuration = (0.5, 5.0)),
      composed(m, c, clusterDuration = (0.5, 5.0)))
    assert(n > 0)
  }

  test("kernel parity: the planted two-epoch session") {
    val m = twoEpochs(_ => Some(Seq(0.05, 0.05)))
    val n = assertParity(m,
      MarkerParsing.filterAndCluster(m, clock30, clusterDuration = (1.0, 60.0)),
      composed(m, clock30, clusterDuration = (1.0, 60.0)))
    assert(n > 0)
  }

  test("kernel parity: a brief run and a gated-out short epoch (epoch ids keep counting)") {
    // a 0.37 s run right after epoch 2 (W3 drops it; without the gate it
    // would be its own cluster), and a 3 s epoch between the two kept ones
    // (W2 drops it, yet it takes epoch id 1, so epoch 2 keeps id 2)
    val fps = 30.0
    val extra = ((0 until 12).map(i => (141.0 + i / fps, Seq(0.5, 0.9))) ++
      (0 until 90).map(i => (60.0 + i / fps, Seq(0.5, 0.5))))
      .map { case (t, p) => (t, p, Seq(0.05, 0.05)) }
      .toDF("timestamp", "norm_pos", "size")
    val m = twoEpochs(_ => Some(Seq(0.05, 0.05))).union(extra)
    val out = MarkerParsing.filterAndCluster(m, clock30, clusterDuration = (0.2, 60.0))
    val n = assertParity(m, out, composed(m, clock30, clusterDuration = (0.2, 60.0)))
    assert(n > 0)
    assert(out.select("epoch").distinct().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
  }

  test("kernel parity: the checkerboard session (corner arrays ride through)") {
    val fps = 30.0
    def corners(cx: Double, cy: Double, hx: Double, hy: Double) =
      Seq(Seq(cx - hx, cy - hy), Seq(cx + hx, cy - hy),
        Seq(cx - hx, cy + hy), Seq(cx + hx, cy + hy))
    def epoch(t0: Double, xa: Double, xb: Double) =
      (0 until 1200).map { i =>
        val (x, y) = if (i < 600) (xa, 0.4) else (xb, 0.6)
        (t0 + i / fps, Seq(x, y), corners(x, y, 0.0225, 0.03))
      }
    val oblique = (0 until 600).map(i => (0.013 + i / fps,
      Seq(0.5, 0.5), corners(0.5, 0.5, 0.0225, 0.015)))
    val m = (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7) ++ oblique)
      .toDF("timestamp", "norm_pos", "norm_pos_full_checkerboard")
    val c = ((0 until 5000).map(_ / fps) ++
      (0 until 600).map(0.013 + _ / fps)).toDF("timestamp")
    val n = assertParity(MarkerParsing.checkerboardSize(m),
      MarkerParsing.filterAndClusterCheckerboard(m, c, clusterDuration = (1.0, 60.0)),
      composed(MarkerParsing.checkerboardSize(m), c, clusterDuration = (1.0, 60.0)))
    assert(n > 0)
  }

  test("kernel parity: a bimodal size mix where the 2.5σ cut fires, with NaN and null sizes") {
    // every 10th row is a small detection (0.02 vs 0.05): the cut keeps
    // the large mode; one NaN-size and one null-size row ride along
    val m = twoEpochs { i =>
      if (i == 333) Some(Seq(Double.NaN, Double.NaN))
      else if (i == 777) None
      else if (i % 10 == 0) Some(Seq(0.02, 0.02))
      else Some(Seq(0.05, 0.05))
    }
    val sizes = (0 until 2400).filter(i => i != 333 && i != 777)
      .map(i => if (i % 10 == 0) 0.02 else 0.05).toArray
    assert(LocalDbscan.bimodalCut(sizes, 2.5).isDefined)
    val out = MarkerParsing.filterAndCluster(m, clock30, clusterDuration = (1.0, 60.0))
    val n = assertParity(m, out, composed(m, clock30, clusterDuration = (1.0, 60.0)))
    assert(n > 0 && out.filter(col("marker_size") < 0.04).count() == 0)
  }

  test("kernel parity: NaN and null sizes in a unimodal session") {
    val m = twoEpochs { i =>
      if (i == 333) Some(Seq(Double.NaN, 0.05))
      else if (i == 777) Some(Seq(0.05, Double.NaN))
      else if (i == 900) None
      else Some(Seq(0.05 + 1e-5 * (i % 7), 0.05))
    }
    assert(LocalDbscan.bimodalCut(
      (0 until 2400).map(i => 0.05 + 0.5e-5 * (i % 7)).toArray, 2.5).isEmpty)
    val n = assertParity(m,
      MarkerParsing.filterAndCluster(m, clock30, clusterDuration = (1.0, 60.0)),
      composed(m, clock30, clusterDuration = (1.0, 60.0)))
    assert(n > 0)
  }

  test("kernel parity: every cluster fails the duration gate → empty result") {
    val m = twoEpochs(_ => Some(Seq(0.05, 0.05)))
    val n = assertParity(m,
      MarkerParsing.filterAndCluster(m, clock30, clusterDuration = (100.0, 200.0)),
      composed(m, clock30, clusterDuration = (100.0, 200.0)))
    assert(n == 0)
  }
}
