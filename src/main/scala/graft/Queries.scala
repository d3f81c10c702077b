package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Calibrator, ErrorMap, Poly, PolyFeatures, PolyMapModel,
  Rbf, RbfMapModel, Tps, TpsMapModel}
import graft.operators.{AsOfJoin, ClusterOps, EllipseGeometry, GraphOps,
  LabelingOps, OdometryOps, RoiTracker, SampleOps, TextOps, TimeSeriesOps,
  VectorOps}
import graft.pipeline.{ManualEpochs, Pipeline}
import graft.sources.{IntrinsicsStore, PldataSource}

/** The engine's query surface over the driver testdata, one entry per
  * implemented operator from SURVEY.md §2 (+ the LLM-data-pipeline
  * extensions). Each query has a DuckDB oracle in [[Oracles]].
  *
  * Parity rules (Spark vs DuckDB on the same parquet):
  *  - time: `cast(ts as double)` (Spark, µs precision) == `epoch(ts)`
  *    (DuckDB truncates ns parquet to µs the same way);
  *  - every floating aggregate is rounded on both sides (sum order differs
  *    between engines in the low bits);
  *  - DuckDB `sum(int)` returns HUGEINT → always cast to BIGINT in oracles;
  *  - exact interpolated median: Spark `percentile(x, 0.5)` == DuckDB
  *    `median(x)` == numpy `median` (the reference's pervasive reducer).
  */
object Queries {

  /** Application-private base for derived index artifacts (LSH bands,
    * ANN index): created once per JVM, unguessable, never shared across
    * processes, removed at JVM exit (the artifacts are per-application
    * caches — deliberate cross-run sharing goes through the explicit
    * spark.graft.*.indexDir conf instead). */
  private[graft] lazy val privateIndexBase: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir.toString
  }

  /** Per-invocation fixture scratch dir, created UNDER
    * [[privateIndexBase]] so the JVM-exit hook removes it. Bare
    * `createTempDirectory` fixtures used to leak ~13 MB per query
    * invocation into /tmp and accumulate across every bench/verify run
    * of every round (found when the box hit its disk quota in r10). */
  private def fixtureTmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(privateIndexBase), tag).toString

  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once memo for a derived index artifact: the directory
    * `graft_<name>_<tag>` under [[privateIndexBase]] is keyed by the MD5
    * of `key` (the input dir plus every parameter the artifact depends
    * on, so a parameter change never reuses a stale index), and `build`
    * runs at most once per JVM per key. A `_BUILT` marker written after
    * `build` returns is what makes the directory reusable: a build that
    * throws part-way — a multi-step chain whose first step already wrote
    * `index/` — leaves no marker, so the next call clears the directory
    * (and any swap leftovers beside it) and builds again instead of
    * serving the partial artifact. Returns the artifact path. */
  private[graft] def memoIndex(s: SparkSession, name: String, key: String)(
      build: String => Unit): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val path = s"$privateIndexBase/graft_${name}_$tag"
    val marker = new java.io.File(path, "_BUILT")
    indexLocks.computeIfAbsent(path, _ => new Object).synchronized {
      if (!marker.exists()) {
        Seq(path, s"${path}_next", s"${path}_prev")
          .foreach(operators.ArtifactSwap.clearStale(s, _))
        build(path)
        java.nio.file.Files.createDirectories(marker.toPath.getParent)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
    }
    path
  }


  /** Partition count for driver-side fixture exports (s2/s4/s5): sorted
    * output goes through `repartitionByRange(n) + sortWithinPartitions`
    * (global order across partition index) so `toLocalIterator` pays n
    * jobs instead of one per shuffle partition, while still holding only
    * one partition on the driver at a time. */
  private val FixturePartitions = 8

  private def t(c: String = "ts"): Column = col(c).cast("double")

  /** Events with a numeric seconds column, the engine's canonical
    * time-series shape (reference tables carry double seconds natively). */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("t", t())

  // ---------------------------------------------------------------- scans

  /** S2/S3 + P2/P3: pushdown scan — projection + predicate reach parquet. */
  def scanPrune(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  /** P3 direct (r15 verdict #6): column-subset extraction as its own
    * named row — the reference pulls key subsets out of its arraydict
    * products (e.g. ('timestamp', 'norm_pos') from a gaze dict,
    * marker_parsing.py's data slicing); Spark-first this is `select`
    * over the wide pupil-datum frame, and Catalyst prunes the unread
    * columns all the way into the parquet ReadSchema (the s3_scan_prune
    * plan pin). Previously attested only via composition (j1/j2). */
  def p3ProjectPairs(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
        col("event_id").as("id"), col("t").as("timestamp"),
        (col("value") / 500.0).as("norm_x"),
        ((col("user_id") % 20) / 20.0).as("norm_y"),
        (col("value") / 1000.0).as("confidence"),
        col("event_type"))
      .select("id", "timestamp", "norm_x", "norm_y")

  /** O4 direct (r15 verdict #6): frame-range limit over a REAL frame
    * column — [[graft.pipeline.ManualEpochs.applyEpochs]] filters to the
    * epoch ranges and tags each surviving row with its epoch index
    * (split_time → per-epoch scan, pipelines.py:630-649). The range
    * disjunction reaches the parquet scan filter (PlanAuditSpec's
    * manual-epochs pin). Previously attested only inside s3_scan_prune. */
  def o4FrameRange(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.ManualEpochs
    val epochs = Seq(
      ManualEpochs.Epoch(0, 100L, 400L),
      ManualEpochs.Epoch(1, 1000L, 1500L),
      ManualEpochs.Epoch(2, 2500L, 2600L))
    ManualEpochs.applyEpochs(
      ev(s, dir).select(col("event_id"), col("value")), "event_id", epochs)
  }

  // ------------------------------------------------- projections / filters

  /** P1: pixel ↔ normalized coords with y-flip
    * (externals/methods.py:55-80 semantics on synthetic pixel coords). */
  def normalize(s: SparkSession, dir: String): DataFrame =
    // no rounding: identical scalar IEEE arithmetic on both engines yields
    // bit-identical doubles (rounding would INTRODUCE mismatches at exact
    // decimal ties, since power-of-two divisors terminate on '5').
    ev(s, dir).select(
      col("event_id"),
      (col("value") * 20 / 2048.0).as("norm_x"),
      (lit(1.0) - col("value") * 20 / 1536.0).as("norm_y"))

  /** P2: confidence-threshold filter. */
  def confidenceFilter(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(col("value") >= 75.0)
      .select(col("event_id"), col("user_id"), col("value"))

  /** P6: per-group z-score outlier filter (|z| <= 2), utils.py:545-578. */
  def zscoreFilter(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.zScoreFilter(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        "value", Seq("event_type"), 2.0)
      .select(col("event_id"), col("event_type"))

  /** P9: unit conversion (m/s → mph), odometry.py:197-224. */
  def unitConvert(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(col("event_id"), round(col("value") * 2.23694, 6).as("mph"))

  /** P10: rolling exact-median detrend (±10 rows), labeling.py:773-790. */
  def medianDetrend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id")).rowsBetween(-10, 10)
    ev(s, dir)
      .withColumn("med", expr("percentile(value, 0.5)").over(w))
      .select(col("event_id"),
        (round(col("value") - col("med"), 6) + 0.0).as("detrended"))
  }

  // ---------------------------------------------------------------- joins

  /** J1: windowed as-of join with in-window aggregation (match_time_points,
    * utils.py:67-132): per click, stats of purchases within ±600 s. */
  def asofWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t"))
    val right = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("value"))
    AsOfJoin.windowAgg(left, right, "t", "t", Seq("user_id"), 600.0, Seq(
        count(lit(1)).as("n_right"),
        round(avg(col("r_value")), 6).as("avg_value"),
        round(expr("percentile(r_value, 0.5)"), 6).as("med_value")))
      .select(col("event_id"), col("user_id"), col("n_right"),
        col("avg_value"), col("med_value"))
  }

  /** J2: nearest-neighbor as-of join with tolerance
    * (closest_matches_monocular, externals/data_processing.py:152-184):
    * nearest purchase per click, within 300 s; ties → earlier right row. */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t"))
    val right = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_event_id"), col("user_id"), col("t"))
    AsOfJoin.nearest(left, right, "t", "t", Seq("user_id"),
        rightPrefix = "m_", tolerance = Some(300.0))
      .select(col("event_id"), col("m_r_event_id").as("match_id"),
        round(col("m_dt"), 6).as("dt"))
  }

  /** J5: float-drift timestamp snap (1e-8) — events jittered by 4e-9 on
    * every third row, snapped back onto the event clock
    * (marker_parsing.py:83-102). */
  def snapTimestamps(s: SparkSession, dir: String): DataFrame = {
    val clock = ev(s, dir).select(col("t").as("timestamp"))
    val jittered = ev(s, dir).select(col("event_id"),
      (col("t") + when(col("event_id") % 3 === 0, 4e-9).otherwise(0.0)).as("ts"))
    operators.MarkerParsing.snapTimestamps(jittered, clock, "ts", "timestamp")
      .select(col("event_id"), col("ts"))
  }

  /** J6: frame-index lookup — numpy searchsorted('left') of click times
    * into the per-user event timeline (time_to_index, utils.py:216-239). */
  def searchSorted(s: SparkSession, dir: String): DataFrame = {
    val clock = ev(s, dir).select(col("user_id"), col("t"))
    val clicks = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t").as("qt"))
    TimeSeriesOps.searchSorted(clicks, clock, "qt", "t", Seq("user_id"))
      .select(col("event_id"), col("frame_index"))
  }

  /** W3: brief-detection removal — dense marker subset (value > 20) vs the
    * full event clock per user; single-frame runs drop (rows-only). */
  def removeBrief(s: SparkSession, dir: String): DataFrame =
    operators.MarkerParsing.removeBriefDetections(
      ev(s, dir).filter(col("value") > 20)
        .select(col("user_id"), col("event_id"), col("t")),
      ev(s, dir).select(col("user_id"), col("t")),
      "t", "t", durationThreshold = 0.6, keys = Seq("user_id"))

  /** P5+P7: marker size/aspect derivation + small/oblique filter over
    * synthetic size arrays (median−k·std floor + aspect gate; bimodality
    * off so the whole filter is declarative). */
  def smallFilter(s: SparkSession, dir: String): DataFrame =
    operators.MarkerParsing.removeSmallDetections(
        ev(s, dir).select(col("event_id"),
          array(col("value") / 100.0,
            (col("value") + col("user_id")) / 110.0).as("size")),
        "size", sizeStdThreshold = Some(1.0), bimodalStdThreshold = None,
        aspectThreshold = Some(1.2))
      .select(col("event_id"), col("marker_size"), col("marker_aspect"))

  /** A6: bimodality split via the GROUPED 2-means gate (the 2-means fit
    * runs inside `flatMapGroups`, not on driver-collected values; the
    * single planted group makes it equivalent to the reference's
    * one-marker-table form). The planted minority mode is 1-in-10: a
    * two-point mixture only exceeds k·σ separation when p(1−p) is small
    * (|m₂−m₁|/σ = 1/√(p(1−p)); 2.5σ needs p ≲ 0.19). */
  def bimodality(s: SparkSession, dir: String): DataFrame =
    ClusterOps.bimodalitySplitGrouped(
      ev(s, dir).select(col("event_id"),
        when(col("event_id") % 10 === 0, col("value") / 1000.0 + 10.0)
          .otherwise(col("value") / 1000.0).as("sz")),
      Nil, "sz", sigmas = 2.5)

  /** TPC-H-style multi-join aggregate (broadcast dims): revenue per
    * nation. The money sum runs in DECIMAL, not double: prices and
    * discounts are 2-decimal values by construction, so the casts are
    * exact and the sum is ORDER-INDEPENDENT — double summation drifts
    * with partition count and row order (measured: >0.01 absolute at the
    * 100× corpus's 2.4M rows/group, which broke the round-to-cents
    * oracle parity that holds at small sf by luck), while the decimal
    * sum is bit-identical at any scale and any plan. Output cast back to
    * double for the stable column shape. */
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val money = col("l_extendedprice").cast("decimal(14,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(money), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // --------------------------------------------------------- aggregations

  /** A1: duplicate-timestamp removal, mode='all' (find_duplicates,
    * marker_parsing.py:8-29): duplicates induced by flooring t to minutes. */
  def dedupTimestamps(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.dropDuplicateTimestamps(
        ev(s, dir).select(col("event_id"), col("user_id"),
          floor(col("t") / 60).cast("long").as("t_min")),
        "t_min", Seq("user_id"))
      .select(col("event_id"))

  /** A2: per-cluster stats with exact median + ptp (marker_cluster_stat,
    * marker_parsing.py:261-297). */
  def clusterStats(s: SparkSession, dir: String): DataFrame =
    ClusterOps.clusterStats(
      Tables.events(s, dir).select(col("event_type"), col("value")),
      "event_type", Seq(
        count(lit(1)).as("n"),
        round(avg(col("value")), 6).as("avg_value"),
        round(expr("percentile(value, 0.5)"), 6).as("med_value"),
        round(max(col("value")) - min(col("value")), 6).as("ptp_value"),
        round(stddev_samp(col("value")), 6).as("sd_value")))

  /** A4: 2-D histogram via floor-binning (histogram2d,
    * visualization.py:74-83). */
  def hist2d(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(floor(col("value") / 10).cast("long").as("bx"),
        floor(col("user_id") / 5).cast("long").as("by"))
      .agg(count(lit(1)).as("n"))

  /** A8: sliding event rate, count within ±300 s per user
    * (get_saccade_rate, labeling.py:508-524). */
  def slidingRate(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.slidingRate(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us")),
        "us", Seq("user_id"), 600000000L, "rate")
      .select(col("event_id"), col("rate"))

  // ------------------------------------------------------ window/sequence

  /** W1: run-length segments of value>80 runs per user (onoff_from_binary,
    * utils.py:135-192). */
  def rleSegments(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.rleSegments(
        ev(s, dir).select(col("user_id"), col("t"), col("value")),
        "t", col("value") > 80, Seq("user_id"))
      .select(col("user_id"), round(col("onset"), 6).as("onset"),
        round(col("offset"), 6).as("offset"),
        round(col("duration"), 6).as("duration"), col("n_rows"))

  /** W2: gap-based sessionization (gap > 900 s) + per-session stats
    * (split_timecourse, marker_parsing.py:187-258). */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.sessionize(
        ev(s, dir).select(col("user_id"), col("t"), col("value")),
        "t", Seq("user_id"), 900.0, "session_id")
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        round(max(col("t")) - min(col("t")), 6).as("duration"),
        round(avg(col("value")), 6).as("avg_value"))

  /** W4: central-difference gradient (compute_eye_velocity,
    * labeling.py:128-151). */
  def gradient(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gradient(
        ev(s, dir).select(col("event_id"), col("user_id"), col("t"), col("value")),
        "t", "value", Seq("user_id"), "velocity")
      .select(col("event_id"),
        (round(col("velocity") * 1e6, 6) + 0.0).as("velocity_u"))

  /** J4: cluster representative — the full row nearest the cluster centroid
    * (marker_cluster_stat(return_all_fields=True), marker_parsing.py:287-295).
    * Clusters here: events bucketed by (user_id, hour). */
  def clusterRepresentative(s: SparkSession, dir: String): DataFrame =
    ClusterOps.clusterRepresentative(
        ev(s, dir).select(col("event_id"), col("value"),
          concat_ws("|", col("user_id"),
            floor(col("t") / 3600).cast("long")).as("cl")),
        "cl", Seq("value"), tieBreak = "event_id", quantize = Some(6))
      .select(col("cl"), col("event_id"), col("value"))

  /** A3: cluster-quality gate — keep rows of clusters passing duration and
    * size gates, empty if < minClusters survive (marker_parsing.py:412-467). */
  def clusterGate(s: SparkSession, dir: String): DataFrame =
    ClusterOps.clusterGate(
        ev(s, dir).select(col("event_id"), col("t"),
          (col("user_id") % 50).cast("int").as("cluster_id")),
        "cluster_id", "t", minDur = 3600.0, maxDur = 3e7,
        extraAggs = Seq(count(lit(1)).as("_n")),
        gatePredicates = Seq(col("_n") >= 50), minClusters = 3)
      .select(col("event_id"), col("cluster_id"))

  /** W5: blink FSM over a deterministic planted eyelid-distance pattern
    * (period 33 ≙ one blink) — not SQL-expressible; rows-only check. */
  def blinkSegments(s: SparkSession, dir: String): DataFrame = {
    val pattern: Seq[Double] = Seq.fill(10)(1.4) ++
      Seq(1.15, 0.9, 0.65, 0.4, 0.15, 0.15) ++
      Seq(0.35, 0.55, 0.75, 0.95, 1.15, 1.35, 1.4) ++ Seq.fill(10)(1.4)
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val df = ev(s, dir).select(col("user_id"), col("t"))
      .withColumn("rn", row_number().over(w))
      .withColumn("d", element_at(typedLit(pattern), (col("rn") % 33) + 1))
    // thresholds scaled to the planted fixture's units (the detect_blinks
    // defaults ±0.02 are for real eyelid-distance series)
    LabelingOps.blinkSegments(df.select(col("user_id"), col("t"), col("d")),
      "t", "d", Seq("user_id"), fps = 120.0, negVel = -0.15, posVel = 0.15)
  }

  /** W6: saccade segments from the value gradient (rows-only check). */
  def saccadeSegments(s: SparkSession, dir: String): DataFrame =
    LabelingOps.saccadeSegments(
      TimeSeriesOps.gradient(
        ev(s, dir).select(col("user_id"), col("t"), col("value")),
        "t", "value", Seq("user_id"), "vel"),
      "t", "vel", Seq("user_id"), velThreshold = 5e-4, minFrames = 2)

  /** W7: uniform hourly resampling with linear interpolation (rows-only). */
  def resample(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.resampleLinear(
      ev(s, dir).select(col("user_id"), col("t"), col("value")),
      "t", Seq("value"), Seq("user_id"), step = 3600.0)

  /** A7: per-group DBSCAN (groups = event_type × day, bounding each local
    * clustering at ~10³ rows — the reference's per-epoch shape). Labels
    * are CANONICAL: each cluster is relabeled to the min member event_id
    * (label-permutation-invariant, so the result is hash-checkable against
    * the oracle's connected-components relabeling; noise stays −1). */
  def dbscan(s: SparkSession, dir: String): DataFrame = {
    val labeled = ClusterOps.dbscan(
      ev(s, dir).select(col("event_id"), col("event_type"),
        floor(col("t") / 86400).cast("long").as("day"),
        (col("value") / 200.0).as("fx"),
        ((col("user_id") % 100) / 100.0).as("fy")),
      Seq("event_type", "day"), Seq("fx", "fy"), "event_id",
      eps = 0.05, minPoints = 5)
    val w = Window.partitionBy(col("event_type"), col("day"), col("cluster_id"))
    labeled
      .withColumn("cluster_id",
        when(col("cluster_id") === -1, lit(-1L))
          .otherwise(min(col("event_id")).over(w)))
      .select(col("event_id"), col("cluster_id"))
  }

  // ------------------------------------------------------- sorts / setops

  /** O2: union-all of two filtered streams + dedup count (stack_arraydicts,
    * utils.py:255-269). */
  def unionStats(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    e.filter(col("event_type") === "click").select(col("user_id"), col("value"))
      .unionByName(e.filter(col("event_type") === "error")
        .select(col("user_id"), col("value")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
  }

  /** O5: order-free distinct (unique, utils.py:33-64). */
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id"), col("event_type")).distinct()

  // ------------------------------------------------------------ model fit

  /** M2: per-group least squares y = a·x + b, expressed declaratively as
    * covariance/variance aggregates (fit_poly_surface is SVD on the driver;
    * the 1-D analogue is exactly regr_slope/regr_intercept). x = seconds
    * since 2024-01-01 so slopes are O(1e-5). */
  def linregByGroup(s: SparkSession, dir: String): DataFrame = {
    val x = col("t") - 1704067200.0
    val y = col("value")
    ev(s, dir).groupBy(col("event_type"))
      .agg((covar_pop(x, y) / var_pop(x)).as("_slope"),
        avg(y).as("_my"), avg(x).as("_mx"))
      .select(col("event_type"),
        (round(col("_slope") * 1e9, 4) + 0.0).as("slope_n"),
        (round(col("_my") - col("_slope") * col("_mx"), 6) + 0.0).as("intercept"))
  }

  /** M4: polynomial gaze-map apply (make_map_function, calibrate_2d.py:
    * 250-409) with fixed n=7 coefficients over synthetic pupil coords —
    * the fitted-model fast path is pure codegen'd Column arithmetic. */
  val m4Cx: Array[Double] = Array(0.9, 0.1, 0.05, -0.02, 0.03, 0.01, 0.02)
  val m4Cy: Array[Double] = Array(-0.1, 1.1, 0.02, 0.06, -0.04, 0.02, -0.01)

  def polyApply(s: SparkSession, dir: String): DataFrame = {
    val model = PolyMapModel(m4Cx, m4Cy, 7)
    val pup = ev(s, dir).select(col("event_id"),
      (col("value") / 200.0).as("norm_x"),
      ((col("user_id") % 20) / 20.0).as("norm_y"))
    val (gx, gy) = model.mapCols(col("norm_x"), col("norm_y"))
    pup.select(col("event_id"), gx.as("gaze_x"), gy.as("gaze_y"))
  }

  /** M8: TPS gaze-map apply (_map_tps, calibration.py:329-344) with a fixed
    * deterministic fit — warp kernel evaluated via a higher-order aggregate
    * over literal anchors (no UDF). */
  val m8Anchors: Array[Array[Double]] =
    Array.tabulate(9)(i => Array((i % 3) / 2.0, (i / 3) / 2.0))
  val m8Theta: Array[Double] =
    Tps.fit(m8Anchors, m8Anchors.map(a => a(0) * 0.8 + a(1) * a(1) * 0.3), 1e-3)

  def tpsApply(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(col("event_id"),
        (col("value") / 200.0).as("px"),
        ((col("user_id") % 20) / 20.0).as("py"))
      // round: JVM Math.log and libm log differ in the last ulp, so the TPS
      // kernel is not bit-reproducible across engines
      .select(col("event_id"),
        round(TpsMapModel.tpsCol(col("px"), col("py"), m8Anchors, m8Theta), 6)
          .as("gaze_x"))

  /** Planted-session construction shared by the two m9 queries: markers on
    * a 5×5 grid (cluster = event_id % 25) with deterministic sub-milli
    * jitter, pupils = a known inverse affine of the marker + jitter. All
    * columns derive from event_id/value arithmetic — no row_number, no
    * keyless windows — so the construction itself is SQL-mirrorable and
    * the fitted map's output admits an ANALYTIC oracle: the TPS must
    * reproduce the planted affine to within the jitter bound. */
  private def m9Base(s: SparkSession, dir: String, session: Column): DataFrame =
    ev(s, dir)
      .select(col("event_id"), col("value"), session.as("session"))
      .withColumn("cluster", col("event_id") % 25)
      .withColumn("mx", lit(0.1) + (col("cluster") % 5) * 0.2)
      .withColumn("my", lit(0.1) + floor(col("cluster") / 5) * 0.2)
      // deterministic sub-milli jitter from the value column
      .withColumn("jit", (col("value") - 100.0) / 1e5)

  private def m9Markers(base: DataFrame): DataFrame = base.select(
    col("session"),
    col("event_id").cast("double").as("timestamp"),
    (col("mx") + col("jit")).as("norm_x"),
    (col("my") - col("jit")).as("norm_y"),
    col("cluster").cast("long").as("marker_cluster_index"))

  private def m9Pupils(base: DataFrame): DataFrame = base.select(
    col("session"),
    (col("event_id").cast("double") + 0.002).as("timestamp"),
    (((col("mx") - 0.05) * 0.9 - (col("my") - 0.03) * 0.1 / 0.9) / 0.8
      + col("jit")).as("norm_x"),
    ((col("my") - 0.03) / 0.9 - col("jit")).as("norm_y"),
    lit(0.95).as("confidence"))

  /** Forward affine the construction inverts: A(px, py) = the marker the
    * pupil row was derived from (up to jitter). */
  private def m9Affine(px: Column, py: Column): (Column, Column) =
    ((px * 0.8 + py * 0.1) / 0.9 + 0.05, py * 0.9 + 0.03)

  /** |gaze − A(pupil)| < tol on both axes. The fitted TPS reproduces the
    * planted affine to ~2e-4 (cluster-median jitter residual); 0.01 is
    * 50× that margin and 20× below the 0.2 grid spacing. */
  private val m9Tol = 0.01

  /** §7.3 minimum end-to-end slice — "given one session's markers and
    * pupils, what is the gaze time series and its weighted validation
    * error?" — routed through [[graft.model.SessionCalibrator]] with one
    * session (distributed reduce → flatMapGroups TPS fit → broadcast model
    * apply; every join/window keyed, no single-partition stages), then
    * ErrorMap (M11). Output is one row of ANALYTIC checks the oracle
    * mirrors: n_gaze (= event count), planted_ok (every gaze row within
    * [[m9Tol]] of the planted affine), err_weighted_ok (weighted
    * validation error below 1°— the planted construction's jitter maps to
    * ~0.1° of angular error, an order of magnitude inside the bound). */
  def gazePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{ErrorMap, SessionCalibrator}
    val base = m9Base(s, dir, lit("cal"))
    val markers = m9Markers(base)
    val pupils = m9Pupils(base)
    // persisted (tracked): the gaze stream feeds both the planted-affine
    // check and the ErrorMap histogram — two actions over the full
    // match + fit + apply lineage. px/py CARRY through the map apply
    // (SessionCalibrator.transform carry) instead of re-joining gaze
    // back onto pupils on (session, timestamp) — that join was a full
    // double shuffle of the corpus-sized pupil stream (r17, guide §2.4;
    // timestamps are per-session unique, so join ≡ carry row-for-row).
    val gaze = graft.CacheRegistry.persistTracked(
      SessionCalibrator.fitTransform(markers, pupils, "session",
        window = 1.0 / 60.0,
        carry = Seq("norm_x" -> "px", "norm_y" -> "py")))
    val (ax, ay) = m9Affine(col("px"), col("py"))
    val checked = gaze
      .withColumn("_ok",
        abs(col("gaze_x") - ax) < m9Tol && abs(col("gaze_y") - ay) < m9Tol)
    val summary = ErrorMap.compute(markers,
      gaze.select(col("session"), col("timestamp"),
        col("gaze_x").as("norm_x"), col("gaze_y").as("norm_y"),
        col("confidence")),
      ErrorMap.Config(resolution = (60, 80), matchKeys = Seq("session"))).summary
    checked.agg(
        count(lit(1)).as("n_gaze"),
        (count(lit(1)) === sum(when(col("_ok"), 1L).otherwise(0L)))
          .as("planted_ok"))
      .crossJoin(summary.select(
        (col("gaze_err_weighted") < 1.0).as("err_weighted_ok")))
  }

  /** STREAMING gaze mapping — the calibration.py:635-673 lifecycle as a
    * stream (r15 verdict #3): the model is FITTED IN BATCH from the
    * calibration slice (the reference persists `map_params` and replays
    * it over the session), then pupils arrive as a `readStream` and the
    * broadcast model table maps each micro-batch append-mode. The
    * mapping join is STATELESS (stream–static broadcast join + the
    * data-driven TPS columns): no state store rows, no watermark, so a
    * 100 TB/day pupil firehose maps with per-batch cost only.
    *
    * Attestation (the analytic m9 discipline): the planted construction
    * streams through TWO real micro-batches (two range-split parquet
    * files, maxFilesPerTrigger = 1) and the drained gaze must be
    * BIT-IDENTICAL to the batch [[gazePipeline]] apply over the same
    * pupils (same persisted model table, same expression — streaming
    * must not change a single ULP), every row within [[m9Tol]] of the
    * planted forward affine, with zero stateOperators in the progress
    * log. */
  def streamGazeMap(s: SparkSession, dir: String): DataFrame = {
    import graft.model.SessionCalibrator
    val base = m9Base(s, dir, lit("cal"))
    val markers = m9Markers(base)
    val pupils = m9Pupils(base)
    val reduced = SessionCalibrator.reducedPoints(markers, pupils,
      "session", 1.0 / 60.0, graft.model.Calibrator.Config().minConfidence)
    val models = CacheRegistry.persistTracked(
      SessionCalibrator.fitModels(s, reduced, "session"))
    // px/py carry through the batch apply (see gazePipeline; the
    // pupil-stream re-join was the corpus-sized shuffle — r17 §2.4)
    val batchGaze = SessionCalibrator.transform(pupils, models, "session",
      carry = Seq("norm_x" -> "px", "norm_y" -> "py"))
    // two real micro-batches: two range-split files, one file per trigger
    val src = fixtureTmp("graft_gaze_src")
    pupils.repartitionByRange(2, col("timestamp"))
      .write.mode("overwrite").parquet(src)
    val qn = dropStaleDrain(s, "graft_gaze_drain")
    val stream = s.readStream.option("maxFilesPerTrigger", 1)
      .schema(pupils.schema).parquet(src)
    val q = SessionCalibrator.transform(stream, models, "session")
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    val (nBatches, nStateOps) = try {
      q.processAllAvailable()
      (q.recentProgress.count(_.numInputRows > 0).toLong,
        q.recentProgress.map(_.stateOperators.length).max.toLong)
    } finally q.stop()
    val streamed = s.table(qn)
    val (ax, ay) = m9Affine(col("px"), col("py"))
    streamed.as("a")
      .join(batchGaze.select(col("session"), col("timestamp"),
        col("gaze_x").as("bx"), col("gaze_y").as("by"),
        col("px"), col("py")).as("b"),
        Seq("session", "timestamp"))
      .agg(
        count(lit(1)).as("n_gaze"),
        (count(lit(1)) === sum(when(
          col("gaze_x") === col("bx") && col("gaze_y") === col("by"),
          1L).otherwise(0L))).as("equal_batch"),
        (count(lit(1)) === sum(when(
          abs(col("gaze_x") - ax) < m9Tol &&
          abs(col("gaze_y") - ay) < m9Tol, 1L).otherwise(0L)))
          .as("planted_ok"))
      .withColumn("n_batches", lit(nBatches))
      .withColumn("stateless_ok", lit(nStateOps == 0L))
  }

  /** Multi-session calibration fan-out over the full session axis
    * (session = user_id mod 100): the same planted construction per
    * session, SessionCalibrator's distributed reduce → flatMapGroups TPS
    * fits → broadcast model-table apply. One row per calibrated session
    * with the ANALYTIC planted-affine check: n_gaze = the session's pupil
    * count and every gaze row within [[m9Tol]] of the planted affine —
    * hash-checked against the closed-form oracle (sessions below the
    * 4-reduced-cluster fit gate are dropped on both sides). */
  def multiSessionPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.model.SessionCalibrator
    val base = m9Base(s, dir, concat(lit("s"), col("user_id") % 100))
    val markers = m9Markers(base)
    val pupils = m9Pupils(base)
    // px/py carry through the map apply (see gazePipeline — the re-join
    // onto pupils was a corpus-sized double shuffle; r17, guide §2.4)
    val gaze = SessionCalibrator.fitTransform(markers, pupils, "session",
      window = 1.0 / 60.0,
      carry = Seq("norm_x" -> "px", "norm_y" -> "py"))
    val (ax, ay) = m9Affine(col("px"), col("py"))
    gaze
      .withColumn("_ok",
        abs(col("gaze_x") - ax) < m9Tol && abs(col("gaze_y") - ay) < m9Tol)
      .groupBy("session")
      .agg(count(lit(1)).as("n_gaze"),
        (count(lit(1)) === sum(when(col("_ok"), 1L).otherwise(0L)))
          .as("planted_ok"))
  }

  /** SESSION QC REPORT — the data products behind `plot_session_qc`
    * (visualization.py:804-1147: per-step status panels, per-eye pupil-
    * confidence histogram + %-kept, marker coverage, calibration, and
    * the per-eye 'Err: med, wt' panel), as ONE row per session over the
    * whole session corpus — the summary a user runs after every
    * pipeline sweep.
    *
    * Planted construction: the m9 affine-inverse geometry per eye
    * (eye R mirrors the jitter, rides t+0.004) with VARIED per-row
    * confidence (0.50..0.95 in exact 0.01 steps from event_id), over
    * sessions `user_id % 20`, with three planted per-step failures the
    * status cascade must report (the whole point of the QC plot):
    * s7 = no pupils at all, s13 = no markers, s3 = right eye dead.
    *
    * Status semantics are the reference's `check_status`/`check_failed`
    * (empty product = failed; downstream of a failure = not run).
    * Closed-form-replayable facts are emitted EXACTLY (counts, kept
    * fractions, exact confidence deciles, per-epoch coverage,
    * calibration/error point counts — all integer/step arithmetic the
    * oracle replays from `events`); TPS-dependent error statistics are
    * emitted as ANALYTIC BOUNDS (the m9 oracle discipline): median
    * error < 0.5°, weighted error < 1° (planted jitter maps to ~0.06°),
    * excluded fraction < 0.9 (boundary-node histogram cells fall
    * outside the anchor hull by construction, so the exclusion
    * machinery is exercised, not vacuous). The per-session error
    * summaries come from the DISTRIBUTED [[graft.model.ErrorMap
    * .summaryBySession]] (cogroup per session — no driver loop), with
    * `outlierStds = None` so error-row presence is the closed-form
    * `kept-clusters ≥ 4` condition the oracle can state. */
  def qcSessionReport(s: SparkSession, dir: String): DataFrame = {
    val base = m9Base(s, dir, concat(lit("s"), col("user_id") % 20))
      .withColumn("sn", expr("cast(substring(session, 2) as int)"))
    val markers = m9Markers(base.filter(col("sn") =!= 13))
    def eyeStream(conf: Column, jitSign: Int, dt: Double,
                  drop: Column): DataFrame =
      base.filter(!drop).select(
        col("session"),
        (col("event_id").cast("double") + dt).as("timestamp"),
        (((col("mx") - 0.05) * 0.9 - (col("my") - 0.03) * 0.1 / 0.9) / 0.8
          + col("jit") * jitSign).as("norm_x"),
        ((col("my") - 0.03) / 0.9 - col("jit") * jitSign).as("norm_y"),
        conf.as("confidence"))
    val confL = (col("event_id") * 13 % 46).cast("double") / 100.0 + 0.5
    val confR = (col("event_id") * 7 % 46).cast("double") / 100.0 + 0.5
    val pupL = eyeStream(confL, 1, 0.002, col("sn") === 7)
    val pupR = eyeStream(confR, -1, 0.004, col("sn") === 7 || col("sn") === 3)
    val sessions = base.select(col("session")).distinct()
    qcReportFrom(s, markers, pupL, pupR, sessions)
  }

  /** Core QC-report composition over pre-built streams — every stage
    * keyed by session (groupBys, SessionCalibrator cogroups,
    * ErrorMap.summaryBySession cogroup, left joins), so the session
    * axis scales by ADDING PARTITIONS; gazebench's `fleet_qc` runs this
    * lineage over planted sessions (its 10⁴-session standing is in
    * docs/SCALE.md). Inputs: markers (session, timestamp, norm_x, norm_y,
    * marker_cluster_index), per-eye pupil streams (session, timestamp,
    * norm_x, norm_y, confidence), and the session universe (failed
    * sessions appear here with their products absent). */
  def qcReportFrom(s: SparkSession, markers: DataFrame, pupL: DataFrame,
                   pupR: DataFrame, sessions: DataFrame): DataFrame = {
    import graft.model.{Calibrator, ErrorMap, SessionCalibrator}

    // marker coverage per epoch (cluster): raw count, epoch-gated
    // "filtered" count (clusters with >= 3 detections — the find_epochs
    // too-few-in-epoch gate), cluster count, min/max per-epoch coverage
    val perCluster = markers.groupBy("session", "marker_cluster_index")
      .agg(count(lit(1)).as("n"))
    val mStats = perCluster.groupBy("session").agg(
      sum(col("n")).as("n_markers_raw"),
      sum(when(col("n") >= 3, col("n")).otherwise(0L))
        .as("n_markers_filtered"),
      count(lit(1)).as("n_clusters"),
      min(col("n")).as("cov_min"), max(col("n")).as("cov_max"))

    // Deciles are emitted as 11 SCALAR columns (conf_dec_0 … conf_dec_10)
    // rather than one array column: the driver's oracle comparator sorts
    // rows by every column before hashing and cannot sort LIST cells, so
    // a multi-row result must stay fully scalar (Verify lints this).
    val decilePs = (0 to 10).map(_ / 10.0).mkString("array(", "D, ", "D)")
    def pupilStats(pup: DataFrame, sfx: String): DataFrame =
      pup.groupBy("session").agg(
          count(lit(1)).as(s"n_pupils_$sfx"),
          (round(avg(when(col("confidence") > 0.7, 1.0).otherwise(0.0)), 6)
            + 0.0).as(s"pct_kept_$sfx"),
          expr(s"percentile(confidence, $decilePs)").as("_dec"))
        .select(Seq(col("session"), col(s"n_pupils_$sfx"),
          col(s"pct_kept_$sfx")) ++
          (0 to 10).map(i =>
            (round(element_at(col("_dec"), i + 1), 6) + 0.0)
              .as(s"conf_dec_${i}_$sfx")): _*)

    val calCfg = Calibrator.Config()
    def eyeChain(pup: DataFrame, sfx: String): DataFrame = {
      val reduced = CacheRegistry.persistTracked(
        SessionCalibrator.reducedPoints(markers, pup, "session",
          1.0 / 60.0, calCfg.minConfidence))
      val calPts = reduced.groupBy("session")
        .agg(count(lit(1)).as(s"n_cal_points_$sfx"))
      val models = CacheRegistry.persistTracked(
        SessionCalibrator.fitModels(s, reduced, "session", calCfg))
      // px/py carry through the map apply (see gazePipeline — the
      // re-join onto the pupil stream was a corpus-sized double shuffle
      // PER EYE here; r17, guide §2.4)
      val gaze = CacheRegistry.persistTracked(
        SessionCalibrator.transform(pup, models, "session",
          carry = Seq("norm_x" -> "px", "norm_y" -> "py")))
      val (ax, ay) = m9Affine(col("px"), col("py"))
      val gStats = gaze
        .groupBy("session").agg(
          count(lit(1)).as(s"n_gaze_$sfx"),
          (count(lit(1)) === sum(when(
            abs(col("gaze_x") - ax) < m9Tol &&
            abs(col("gaze_y") - ay) < m9Tol, 1L).otherwise(0L)))
            .as(s"planted_ok_$sfx"))
      val err = ErrorMap.summaryBySession(markers,
          gaze.select(col("session"), col("timestamp"),
            col("gaze_x").as("norm_x"), col("gaze_y").as("norm_y"),
            col("confidence")),
          "session",
          ErrorMap.Config(resolution = (60, 80), outlierStds = None))
        .select(col("session"),
          col("n_points").as(s"n_error_points_$sfx"),
          (col("err_median") < 0.5).as(s"err_median_ok_$sfx"),
          (col("gaze_err_weighted") < 1.0).as(s"err_weighted_ok_$sfx"),
          (col("gaze_fraction_excluded") < 0.9).as(s"excl_frac_ok_$sfx"))
      calPts.join(gStats, Seq("session"), "left")
        .join(err, Seq("session"), "left")
    }

    def status(ok: Column, upstreamOk: Column): Column =
      when(!upstreamOk, "not run").when(ok, "ok").otherwise("failed")

    val joined = sessions
      .join(mStats, Seq("session"), "left")
      .join(pupilStats(pupL, "l"), Seq("session"), "left")
      .join(pupilStats(pupR, "r"), Seq("session"), "left")
      .join(eyeChain(pupL, "l"), Seq("session"), "left")
      .join(eyeChain(pupR, "r"), Seq("session"), "left")
    val mkOk = col("n_markers_raw").isNotNull
    def eyeCols(sfx: String): Seq[Column] = {
      val pupOk = col(s"n_pupils_$sfx").isNotNull
      val calOk = coalesce(col(s"n_cal_points_$sfx"), lit(0L)) >= 4
      val gazeOk = pupOk && mkOk && calOk
      val errOk = col(s"n_error_points_$sfx").isNotNull
      Seq(
        when(pupOk, "ok").otherwise("failed").as(s"status_pupil_$sfx"),
        coalesce(col(s"n_pupils_$sfx"), lit(0L)).as(s"n_pupils_$sfx"),
        coalesce(col(s"pct_kept_$sfx"), lit(0.0)).as(s"pct_kept_$sfx")) ++
      (0 to 10).map(i =>
        coalesce(col(s"conf_dec_${i}_$sfx"), lit(0.0))
          .as(s"conf_dec_${i}_$sfx")) ++
      Seq(
        status(calOk, pupOk && mkOk).as(s"status_calibration_$sfx"),
        coalesce(col(s"n_cal_points_$sfx"), lit(0L))
          .as(s"n_cal_points_$sfx"),
        status(gazeOk, pupOk && mkOk && calOk).as(s"status_gaze_$sfx"),
        coalesce(col(s"n_gaze_$sfx"), lit(0L)).as(s"n_gaze_$sfx"),
        coalesce(col(s"planted_ok_$sfx"), lit(false))
          .as(s"planted_ok_$sfx"),
        status(errOk, gazeOk).as(s"status_error_$sfx"),
        coalesce(col(s"n_error_points_$sfx"), lit(0L))
          .as(s"n_error_points_$sfx"),
        coalesce(col(s"err_median_ok_$sfx"), lit(false))
          .as(s"err_median_ok_$sfx"),
        coalesce(col(s"err_weighted_ok_$sfx"), lit(false))
          .as(s"err_weighted_ok_$sfx"),
        coalesce(col(s"excl_frac_ok_$sfx"), lit(false))
          .as(s"excl_frac_ok_$sfx"))
    }
    joined.select((Seq(
      col("session"),
      when(mkOk, "ok").otherwise("failed").as("status_markers"),
      coalesce(col("n_markers_raw"), lit(0L)).as("n_markers_raw"),
      coalesce(col("n_markers_filtered"), lit(0L)).as("n_markers_filtered"),
      coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
      coalesce(col("cov_min"), lit(0L)).as("cov_min"),
      coalesce(col("cov_max"), lit(0L)).as("cov_max")) ++
      eyeCols("l") ++ eyeCols("r")): _*)
  }

  /** Forward affine planted into the EYE1 stream of `m9_binocular`
    * (eye0 reuses [[m9Affine]]): A1(px, py) = (0.7·px + 0.12,
    * 0.85·py + 0.05). */
  private def m9bAffine1(px: Column, py: Column): (Column, Column) =
    (px * 0.7 + 0.12, py * 0.85 + 0.05)

  /** M9 BINOCULAR end-to-end (r7 verdict #5) — the composition the
    * reference runs across gaze_mappers.py:38-66 + calibration.py:516-536
    * and no previous round attested as ONE lineage:
    * W10 merge ([[graft.streaming.BinocularMerge.mergeBatch]]) →
    * binocular calibration ([[graft.model.Calibrator.fitBinocular]]: J3
    * triple-match, n=13 joint fit + n=7 per-eye fallbacks, two-pass
    * robust cut) → model apply on the merged stream
    * ([[graft.streaming.BinocularMerge.applyModels]]: binocular rows take
    * the 4-input map, monocular rows their eye's fallback) → ErrorMap.
    *
    * PLANTED two-eye construction: markers on the m9 5×5 grid; eye0 =
    * [[m9Affine]]⁻¹(marker) + jitter at t+0.002; eye1 =
    * [[m9bAffine1]]⁻¹(marker) + independent jitter at t+0.004 (the
    * independent jitters keep the n=13 design full-rank — with exactly
    * collinear eyes the joint fit's pseudoinverse is undefined). The
    * merge FSM's schedule is CLOSED-FORM under this timing: the intra-
    * event eye gap (0.002 s) sits inside the constant pairing cutoff
    * (2·EMA = 1/60 s — queues never hold two same-eye points, so the EMA
    * never moves off its 1/120 s init) and the inter-event gap (≥ 1 s)
    * outside it, so each event emits one binocular pair and each
    * leftover eye1 point drains monocularly when the next event arrives:
    * n_bino = N, n_mono = N−1, n_gaze = 2N−1 (BinocularMergeSpec pins
    * the schedule against the pure FSM). The analytic oracle checks the
    * counts and that every mapped row — binocular AND fallback —
    * reproduces its planted forward affine within [[m9Tol]], plus the
    * weighted validation error bound, exactly the `m9_gaze_pipeline`
    * discipline. */
  /** The planted per-eye input construction [[binocularPipeline]] fits
    * and merges: (markers, eye0 pupils, eye1 pupils). Shared with the
    * query's [[fixtureFrames]] entry so the bench attributes the
    * events-scan + synthesis lineage separately from the
    * fit/merge/error-map engine work it feeds. */
  private[graft] def m9bInputs(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) = {
    // NOT persisted: measured in r12 — caching this base moves
    // m9_binocular by nothing (6.7 vs 6.65 s at sf0.1, inside noise),
    // because the synthesis is cheap column arithmetic and the engine
    // time lives in the fit/merge/error-map phase downstream
    val base = m9Base(s, dir, lit("cal"))
      .withColumn("jit1", ((col("event_id") * 7 % 11) - 5) / 1e4)
      .withColumn("jit2", ((col("event_id") * 3 % 13) - 6) / 1e4)
    val markers = m9Markers(base)
    // eye0: the m9 inverse-affine pupils (jitter jit1) at t + 0.002
    val pupils0 = base.select(
      col("session"),
      (col("event_id").cast("double") + 0.002).as("timestamp"),
      (((col("mx") - 0.05) * 0.9 - (col("my") - 0.03) * 0.1 / 0.9) / 0.8
        + col("jit1")).as("norm_x"),
      ((col("my") - 0.03) / 0.9 - col("jit1")).as("norm_y"),
      lit(0.95).as("confidence"))
    // eye1: the A1 inverse (jitter jit2) at t + 0.004
    val pupils1 = base.select(
      col("session"),
      (col("event_id").cast("double") + 0.004).as("timestamp"),
      ((col("mx") - 0.12) / 0.7 + col("jit2")).as("norm_x"),
      ((col("my") - 0.05) / 0.85 - col("jit2")).as("norm_y"),
      lit(0.95).as("confidence"))
    (markers, pupils0, pupils1)
  }

  def binocularPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BinocularMerge
    import s.implicits._
    val (markers, pupils0, pupils1) = m9bInputs(s, dir)
    val models = Calibrator.fitBinocular(markers, pupils0, pupils1)
      .getOrElse(throw new IllegalStateException(
        "binocular calibration rejected all points"))
    def asPupil(df: DataFrame, id: Int) = df.select(
      col("session"), col("timestamp"), lit(id).as("id"),
      col("norm_x").as("x"), col("norm_y").as("y"), col("confidence"))
    val merged = BinocularMerge.mergeBatch(
      asPupil(pupils0, 0).unionByName(asPupil(pupils1, 1))
        .as[BinocularMerge.Pupil])
    // persisted (tracked): the mapped stream feeds the planted check AND
    // the ErrorMap histogram
    val mapped = CacheRegistry.persistTracked(BinocularMerge.applyModels(
      merged.toDF(), models.bino, models.eye0, models.eye1))
    val (a0x, a0y) = m9Affine(col("x0"), col("y0"))
    val (a1x, a1y) = m9bAffine1(col("x1"), col("y1"))
    // binocular rows must reproduce the eye0 forward affine (both eyes
    // derive from the same marker); monocular fallbacks their own eye's
    val expX = when(col("binocular") || col("topic") === "gaze.2d.0.", a0x)
      .otherwise(a1x)
    val expY = when(col("binocular") || col("topic") === "gaze.2d.0.", a0y)
      .otherwise(a1y)
    val checked = mapped.withColumn("_ok",
      abs(col("gaze_x") - expX) < m9Tol && abs(col("gaze_y") - expY) < m9Tol)
    val summary = ErrorMap.compute(markers,
      checked.select(col("session"), col("timestamp"),
        col("gaze_x").as("norm_x"), col("gaze_y").as("norm_y"),
        col("confidence")),
      ErrorMap.Config(resolution = (60, 80), matchKeys = Seq("session"))).summary
    checked.agg(
        count(lit(1)).as("n_gaze"),
        sum(when(col("binocular"), 1L).otherwise(0L)).as("n_bino"),
        (count(lit(1)) === sum(when(col("_ok"), 1L).otherwise(0L)))
          .as("planted_ok"))
      .crossJoin(summary.select(
        (col("gaze_err_weighted") < 1.0).as("err_weighted_ok")))
  }

  /** W10: binocular merge over per-eye streams synthesized from events
    * (eye id = event_id % 2), batch FSM per user (rows-only check). */
  def binocularMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BinocularMerge
    import s.implicits._
    val pupils = ev(s, dir).select(
        concat(lit("u"), col("user_id")).as("session"),
        col("t").as("timestamp"),
        (col("event_id") % 2).cast("int").as("id"),
        (col("value") / 200.0).as("x"),
        ((col("user_id") % 20) / 20.0).as("y"),
        when(col("event_type") === "error", 0.3).otherwise(0.9).as("confidence"))
      .as[BinocularMerge.Pupil]
    BinocularMerge.mergeBatch(pupils).toDF()
      .select(col("session"), col("timestamp"), col("topic"),
        col("confidence"), col("binocular"))
  }

  /** Multimodal: pack documents as binary media, stub-decode features,
    * aggregate per media row (rows-only check — the decode seam is a
    * deterministic byte-histogram stand-in, see MultimodalOps). */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.MultimodalOps
    val docs = Tables.documents(s, dir)
    val media = MultimodalOps.packAsMedia(docs, "doc_id", "text")
    // byte length joined back so the bin count un-normalizes exactly:
    // round(hist[3] · n) recovers the integer byte count, giving the
    // oracle an exact value to match (float32 noise < rounding slack)
    val lens = docs.select(col("doc_id").cast("long").as("media_id"),
      octet_length(col("text")).cast("double").as("_n"))
    MultimodalOps.extractFeatures(media)
      .join(lens, "media_id")
      .select(col("media_id"), size(col("features")).as("dim"),
        round(aggregate(col("features"), lit(0.0d),
          (a, x) => a + x.cast("double")), 4).as("feat_sum"),
        round(element_at(col("features"), 4).cast("double") * col("_n"))
          .cast("long").as("bin3_count"))
  }

  // -------------------------------------------- LLM-data-pipeline surface

  /** Dedup (exact): hash-groupBy on document text; keeper = min doc_id
    * (the canonical 100 TB exact-dedup shape: one shuffle on the hash). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Text analysis: per-document token counts (whitespace + BPE-ish regex
    * pre-tokenizer), mean token length, stopword ratio. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), " ")
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val isStop = (c: Column) => stop.map(w => c === w).reduce(_ || _)
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      TextOps.bpeTokenCount(col("text")).as("bpe_tokens"),
      round(aggregate(toks, lit(0.0), (acc, x) => acc + length(x))
        / size(toks), 6).as("avg_token_len"),
      round(size(filter(toks, isStop)).cast("double") / size(toks), 6)
        .as("stopword_ratio"))
  }

  /** Dedup (MinHash + LSH): 3-shingles → 16 md5-minhash sigs → 4 bands →
    * band-join candidates with estimated Jaccard. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    TextOps.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Cross-SOURCE duplication matrix — the mixing-report consumer of
    * the pair tier ("who duplicates whom": licensing triage, crawl-
    * overlap pricing, which source to dedup against which): minhash
    * near-dup pairs joined onto the (doc, source) dim on each side,
    * rolled up per UNORDERED source pair (least/greatest, so the
    * matrix is one triangle). Scale shape: two pairs-sized equi-joins
    * + one ≤|sources|²-row aggregate — nothing beyond what the pair
    * query already shuffles. */
  def dedupCrossSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = TextOps.minhashLshPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    val src = docs.select(col("doc_id").cast("long").as("doc"), col("source"))
    pairs
      .join(src.select(col("doc").as("doc_a"), col("source").as("_sa")),
        "doc_a")
      .join(src.select(col("doc").as("doc_b"), col("source").as("_sb")),
        "doc_b")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Dedup (n-gram Jaccard ≥ 0.2): MinHash/LSH band candidates → exact
    * array_intersect verification — the scale shape; the all-pairs
    * shingle equi-join remains in TextOps as the verification baseline. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramJaccardPairsGated(Tables.documents(s, dir), "doc_id", "text")

  /** Dedup (SimHash, 60-bit): token ±1 bit votes → per-doc fingerprint. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    TextOps.simhash(Tables.documents(s, dir), "doc_id", "text")

  /** SimHash near-dup pairs ([[operators.TextOps.simhashNearDupPairs]],
    * 6 bands × 10 bits, Hamming ≤ 5 = the pigeonhole-complete regime):
    * the bag-of-words near-dup family next to the shingle-based LSH. */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    TextOps.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Text analysis: stopword-marker language ID with deterministic argmax. */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables.documents(s, dir), "doc_id", "text")

  /** Text analysis: winnowing-style 4-gram rolling-hash fingerprint. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprintDf(Tables.documents(s, dir), "doc_id", "text")

  /** Text analysis: quality heuristics + composite keep/drop score. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text")

  /** Decontamination: docs from source 'src0' stand in for the eval
    * benchmark; every other doc is checked for 3-gram shingle overlap
    * against the broadcast benchmark set. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.decontaminate(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text")
  }

  /** Model-based quality gate ([[operators.TextOps.centroidClassifier]]):
    * nearest-centroid classifier trained on the planted 20% split
    * (doc_id % 5 == 0) with labels from the composite quality rule,
    * applied corpus-wide. The oracle replays train (conditional-mean
    * centroids, the only rounded aggregates) AND apply (exact distance
    * arithmetic) in SQL. */
  def qualityClassify(s: SparkSession, dir: String): DataFrame =
    TextOps.centroidClassifier(Tables.documents(s, dir), "doc_id", "text",
      isTrain = col("doc_id") % 5 === 0,
      label = TextOps.qualityCol(col("text")) >= 0.8)

  /** Logistic-regression quality gate ([[operators.TextOps
    * .logregClassifier]]): train-split standardization + full-batch GD
    * on the logistic loss, same planted 20% split and quality-rule
    * labels as `quality_classify`, 50 iterations at lr 1 (measured:
    * 96.8% accuracy, 42/58 negatives recovered at sf0.01 — non-trivial
    * both ways; unstandardized the intercept dominates and every doc
    * scores the base rate). The oracle UNROLLS the descent (the
    * bpe_train/Lloyd-replay technique): standardization aggregates and
    * per-iteration weight updates are quantized to 6 dp on BOTH sides,
    * so the two loops walk the identical trajectory despite
    * sum-order/exp ulps. */
  val logregIters: Int = 50
  val logregLr: Double = 1.0

  /** Gopher rule-set quality gate ([[operators.TextOps.gopherRules]],
    * Rae et al. 2021 App. A): every published rule as its own attested
    * column. On this synthetic non-prose corpus the word-count rule
    * splits 277/500 and the stop-word rule correctly fails everything
    * (1 distinct stop word in the whole vocabulary) — the oracle pins
    * both behaviors. */
  def textGopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(Tables.documents(s, dir), "doc_id", "text")

  /** WARC ingest ([[functions.WarcParse]]): documents are packed into 50
    * multi-record WARC blobs (grouped by `doc_id % 50`, records in
    * doc_id order) and parsed back out. Every payload EMBEDS the
    * `\r\n\r\n` record delimiter plus a fake `WARC/1.0` line, so only a
    * correct Content-Length-framed parser recovers the planted records —
    * a split-on-delimiter parser shreds every one. The oracle knows the
    * answer in closed form (the planted fields; record_idx = the doc's
    * rank within its blob), so the hash attests pack→frame→parse
    * end-to-end. The PACK side (collect_list per group) is fixture
    * synthesis only — production ingest reads EXISTING archives as
    * binary blobs (one ~1 GB file per row via binaryFile) and runs just
    * the parse, which is the row-local half this oracle pins. */
  def webWarcParse(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    val payload = concat(col("text"),
      lit("\r\n\r\nWARC/1.0 fake\r\n\r\nEMBEDDED:"), id.cast("string"))
    val uri = concat(lit("http://ex"), (id % 7).cast("string"),
      lit(".com/"), id.cast("string"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    val blobs = Tables.documents(s, dir)
      .select((id % 50).as("group_id"), struct(id.as("i"), rec.as("r")).as("_s"))
      .groupBy("group_id")
      .agg(array_join(transform(array_sort(collect_list(col("_s"))),
        s0 => s0.getField("r")), "").as("_blob"))
    blobs.select(col("group_id"),
        posexplode(graft.functions.WarcParse.warc_records(col("_blob")))
          .as(Seq("record_idx", "rec")))
      .select(col("group_id"), col("record_idx").cast("long").as("record_idx"),
        col("rec.warc_type").as("warc_type"), col("rec.uri").as("uri"),
        col("rec.content_length").as("content_length"),
        col("rec.payload").as("payload"))
  }

  /** The `.warc.gz` chain ([[functions.Gzip]] + [[functions.WarcParse]]):
    * same planted records as `web_warc_parse`, but each record is its
    * own GZIP MEMBER and the blob is the member concatenation — exactly
    * how CommonCrawl archives are laid out — then
    * `gunzip → warc_records` recovers them (GZIPInputStream reads across
    * member boundaries). Same oracle SQL verbatim: the chain must be a
    * content identity, so any compression/framing interaction breaks
    * the shared hash. */
  def webWarcGzParse(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Gzip, WarcParse}
    val id = col("doc_id").cast("long")
    val payload = concat(col("text"),
      lit("\r\n\r\nWARC/1.0 fake\r\n\r\nEMBEDDED:"), id.cast("string"))
    val uri = concat(lit("http://ex"), (id % 7).cast("string"),
      lit(".com/"), id.cast("string"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    val blobs = Tables.documents(s, dir)
      .select((id % 50).as("group_id"),
        struct(id.as("i"), Gzip.gzip(rec.cast("binary")).as("r")).as("_s"))
      .groupBy("group_id")
      .agg(aggregate(transform(array_sort(collect_list(col("_s"))),
          s0 => s0.getField("r")),
        typedLit(Array.empty[Byte]), (acc, m) => concat(acc, m)).as("_gz"))
    blobs.select(col("group_id"),
        posexplode(WarcParse.warc_records(Gzip.gunzip(col("_gz"))))
          .as(Seq("record_idx", "rec")))
      .select(col("group_id"), col("record_idx").cast("long").as("record_idx"),
        col("rec.warc_type").as("warc_type"), col("rec.uri").as("uri"),
        col("rec.content_length").as("content_length"),
        col("rec.payload").as("payload"))
  }

  /** The planted HTML page for the [[webHtmlExtract]]/[[webWetExtract]]
    * oracles — one full page per document, every extraction-contract
    * clause made load-bearing:
    *  - a `<script>` whose string literal embeds `</p><div>…</div>` —
    *    a tag-stripper that does not remove scripts FIRST shreds the
    *    block structure and leaks "trap" into the text;
    *  - a `<style>` block and an HTML comment wrapping a fake `<p>` —
    *    both must vanish;
    *  - a `<title>` with an entity and padding whitespace;
    *  - a nav bar, a link-only paragraph, and a link-heavy footer with
    *    REAL non-anchor text ("Copyright", density 25/35) — all three
    *    must drop under the 0.5 link-density rule, each exercising a
    *    different density regime;
    *  - an entity paragraph covering the whole decoded set (named +
    *    numeric quotes + `&nbsp;` collapse), whose decoded `<b>` must
    *    survive as TEXT (decode-after-strip ordering);
    *  - the document text as the main content paragraph;
    *  - a LINK-FARM paragraph (all-anchor, dropped by density) whose
    *    five hrefs vary per doc and cover every [[operators.HtmlOps
    *    .resolveUrl]] branch — absolute cross-host, protocol-relative,
    *    dot-segment relative, `mailto:`, fragment-only — the
    *    `web_link_graph` fixture riding inside the same page.
    * Expected extraction (the closed-form oracle): title
    * `Doc & Title {id}`, text = heading + text + entity line, 3 blocks
    * kept, 4 dropped. */
  private def plantedHtml(id: Column, text: Column): Column = concat(
    lit("<html><head><title> Doc &amp; Title "), id.cast("string"),
    lit(" </title>\n<style type=\"text/css\"> .menu{color:#fff} </style>\n" +
      "<script type=\"text/javascript\">var s=\"</p><div>trap</div>\";" +
      "</script>\n</head>\n<body>\n" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/more\">More pages here</a></nav>\n<h1>Heading "),
    (id % 10).cast("string"),
    lit("</h1>\n<div class=\"content\"><p>"), text,
    lit("</p>\n<p>Entities &lt;b&gt; &quot;q&quot; &#39;s&#39; " +
      "&nbsp;&amp; tail "),
    id.cast("string"),
    lit("</p></div>\n<!-- <p>comment trap</p> -->\n" +
      "<p><a href=\"/x\">link only block</a></p>\n<p><a href=\"http://ex"),
    ((id + 1) % 7).cast("string"), lit(".com/p"), ((id * 3) % 1000).cast("string"),
    lit("\">n1</a> <a href='//ex"), ((id + 2) % 7).cast("string"),
    lit(".com/q"), (id % 10).cast("string"),
    lit("'>n2</a> <a href=\"../d"), (id % 5).cast("string"),
    lit("/./g"), (id % 3).cast("string"),
    lit("\">n3</a> <a href=\"mailto:u"), id.cast("string"),
    lit("@ex.com\">n4</a> <a href=\"#frag\">n5</a></p>\n" +
      "<footer>Copyright <a href=\"/tos\">Terms</a> " +
      "<a href=\"/priv\">Privacy</a> <a href=\"/c\">Contact</a> " +
      "<a href=\"/d\">D</a> <a href=\"/e\">E</a></footer>\n</body></html>"))

  /** HTML → text extraction ([[operators.HtmlOps.htmlExtract]]): every
    * document rendered into the planted full-page HTML and extracted
    * back. The oracle states the expected title/text/counts in CLOSED
    * FORM from the documents table (the `web_warc_parse` technique), so
    * the hash attests the whole contract — script/comment removal
    * ordering, block segmentation, strip-then-decode, whitespace
    * normalization, and the link-density boilerplate rule — end to end;
    * any deviation on any clause shifts the text of every row. */
  def webHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val pages = Tables.documents(s, dir).select(
      col("doc_id").cast("long").as("doc"),
      plantedHtml(col("doc_id").cast("long"), col("text")).as("html"))
    operators.HtmlOps.htmlExtract(pages, "html")
  }

  /** COMPOSED WET chain — the Common Crawl derived-text path on one
    * plan: the planted HTML pages packed as Content-Length-framed WARC
    * response records ([[webWarcParse]]'s blob builder, html payloads),
    * parsed back ([[functions.WarcParse.warc_records]]), then text-
    * extracted ([[operators.HtmlOps.htmlExtract]]) into WET-style rows
    * `(group_id, record_idx, uri, title, text, n_blocks, n_dropped)`.
    * The payloads embed multi-line HTML with CRLF-free `\n` newlines
    * AND the entity paragraph, so Content-Length framing must deliver
    * the page byte-exactly for the extraction hash to survive — the
    * archive→payload→text identity, attested by one closed-form
    * oracle. */
  /** The planted WARC blob table (group_id, _blob) with HTML payloads —
    * shared by the batch chain and its streaming twin. */
  private def wetBlobs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    val payload = plantedHtml(id, col("text"))
    val uri = concat(lit("http://ex"), (id % 7).cast("string"),
      lit(".com/"), id.cast("string"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    Tables.documents(s, dir)
      .select((id % 50).as("group_id"), struct(id.as("i"), rec.as("r")).as("_s"))
      .groupBy("group_id")
      .agg(array_join(transform(array_sort(collect_list(col("_s"))),
        s0 => s0.getField("r")), "").as("_blob"))
  }

  /** blob → WARC records → extracted WET rows: per-blob row-local, so
    * the SAME lineage runs on a batch frame or a readStream. */
  private def wetRows(blobs: DataFrame): DataFrame = {
    val recs = blobs.select(col("group_id"),
        posexplode(graft.functions.WarcParse.warc_records(col("_blob")))
          .as(Seq("record_idx", "rec")))
      .select(col("group_id"), col("record_idx").cast("long").as("record_idx"),
        col("rec.uri").as("uri"), col("rec.payload").as("html"))
    operators.HtmlOps.htmlExtract(recs, "html")
  }

  def webWetExtract(s: SparkSession, dir: String): DataFrame =
    wetRows(wetBlobs(s, dir))

  /** STREAMING WET extraction drained end-to-end — archive blobs as they
    * LAND: the planted blobs exported to a file-stream source dir
    * (8 files), read back with `readStream` in REAL micro-batches
    * (maxFilesPerTrigger = 2 ⇒ 4 batches), parsed + extracted on the
    * stream ([[wetRows]] — Content-Length framing, block segmentation,
    * entity decode, link-density rule all per-blob row-local: no state
    * store, no watermark, no shuffle), drained to a memory sink. The
    * oracle is [[webWetExtract]]'s closed form VERBATIM — a record
    * clipped at a batch boundary or a re-delivered file breaks the
    * shared hash. The continuous twin of the batch chain: a crawler's
    * archive writer drops `.warc` files, this lineage tails them. */
  def streamWetExtract(s: SparkSession, dir: String): DataFrame = {
    val blobs = wetBlobs(s, dir)
    val src = fixtureTmp("graft_wet_src")
    blobs.repartition(8).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(blobs.schema)
      .option("maxFilesPerTrigger", 2).parquet(src)
    val qn = dropStaleDrain(s, "graft_wet_drain")
    val q = wetRows(stream).writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** OUTLINK GRAPH ([[operators.HtmlOps.extractLinks]]): every anchor of
    * every planted page, in document order, each href resolved against
    * the page URL — the frontier-discovery stage that feeds the crawl
    * scheduler ([[webFetchSchedule]]) and, aggregated to (src_host,
    * dst_host) edges, the [[webPagerank]] graph tier. The planted link
    * farm varies five hrefs per doc across every resolution branch
    * (absolute cross-host, protocol-relative, dot-segment relative,
    * mailto, fragment-only), and nav/footer links exercise the
    * path-absolute branch — the oracle states all 14 rows per doc in
    * closed form, so the hash attests element extraction order, quote
    * handling, and every resolution rule at once. */
  def webLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    val pages = Tables.documents(s, dir).select(
      id.as("doc"),
      concat(lit("http://ex"), (id % 7).cast("string"), lit(".com/"),
        id.cast("string")).as("page_url"),
      plantedHtml(id, col("text")).as("html"))
    operators.HtmlOps.extractLinks(pages, "html", "page_url")
  }

  /** HOST-GRAPH edge rollup over the extracted outlinks — the table the
    * graph tier consumes: resolvable links only (null urls audited out
    * upstream), grouped to `(src_host, dst_host, n_links)`. One
    * map-side-combined shuffle on the host pair — host-pair-bounded at
    * any corpus size; this output IS [[webPagerank]]/[[GraphOps]]'s
    * input shape, closing extract → edges → rank on attested stages.
    * The oracle states the edge weights in closed form from the planted
    * link counts (10 own-host + one to each of the two planted
    * cross-host neighbors, per page). */
  def webHostGraph(s: SparkSession, dir: String): DataFrame =
    webLinkGraph(s, dir).filter(col("dst_host").isNotNull)
      .select(lower(regexp_extract(col("page_url"),
          "(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)).as("src_host"),
        col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n_links"))

  /** Planted frontier page: five hrefs per doc, each exercising a
    * resolution branch the admission fixture must attest — a DIRECTORY
    * link (trailing slash preserved, RFC 3986 §5.2.4), a QUERY-ONLY
    * self link (full base path kept, §5.3), a `data-href` decoy beside
    * the real single-quoted href (attribute-key matching), a cross-host
    * absolute, and a fragment (resolves null — never a candidate). */
  private def frontierHtml(id: Column): Column = concat(
    lit("<body><p><a href=\"/p"), (id % 10).cast("string"),
    lit("/\">dir</a> <a href=\"?page="), (id % 3).cast("string"),
    lit("\">self</a> <a data-href=\"/ghost\" href='/q"),
    (id % 5).cast("string"),
    lit("'>q</a> <a href=\"http://ex"), ((id + 1) % 7).cast("string"),
    lit(".com/x"), (id % 4).cast("string"),
    lit("\">x</a> <a href=\"#top\">f</a></p></body>"))

  /** CRAWL-FRONTIER ADMISSION ([[operators.HtmlOps.frontierFilter]],
    * r13 verdict #3 — the crawl loop's last unattested stage): outlinks
    * extracted and resolved from the planted pages, rolled up to one
    * row per distinct URL with its reference count, then the URLs the
    * crawler has ALREADY fetched anti-joined away. The planted crawled
    * set (every even `/q{j}` page on every host) makes the survivor set
    * closed-form: the oracle re-derives every candidate URL from
    * doc_id arithmetic and excludes exactly the crawled pattern — a
    * resolution bug (lost trailing slash, query-only mis-base,
    * data-href ghost) or an anti-join bug (dropped survivor, admitted
    * duplicate) shifts rows and breaks the hash. Plan-pinned: the
    * rollup and the anti-join share one hash partitioning on `url`
    * (single exchange on the candidate side), and the join is equi —
    * never a nested loop. */
  /** The frontier fixture's page and crawled-set tables — shared by the
    * exact, Bloom-fronted, and streaming admission queries so the three
    * attestations run over one planted world. */
  private def frontierPages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    Tables.documents(s, dir).select(
      id.as("doc"),
      concat(lit("http://ex"), (id % 7).cast("string"), lit(".com/"),
        id.cast("string")).as("page_url"),
      frontierHtml(id).as("html"))
  }

  private def frontierCrawled(s: SparkSession): DataFrame =
    s.range(21).select(
      concat(lit("http://ex"), (col("id") % 7).cast("string"),
        lit(".com/q"), (floor(col("id") / 7).cast("long") * 2)
          .cast("string")).as("url"))

  def webFrontier(s: SparkSession, dir: String): DataFrame =
    operators.HtmlOps.frontierFilter(
      operators.HtmlOps.extractLinks(frontierPages(s, dir), "html",
        "page_url"),
      frontierCrawled(s), "url")

  /** The same admission through the BLOOM-FRONTED plan ([[operators
    * .HtmlOps.frontierFilterBloom]]) — bit-identical output (no Bloom
    * false negatives; the maybe-sliver is exactly verified), so the
    * SAME oracle SQL attests both plans, the
    * `text_decontaminate`/`text_decontaminate_bloom` pairing applied to
    * the crawl loop. */
  def webFrontierBloom(s: SparkSession, dir: String): DataFrame =
    operators.HtmlOps.frontierFilterBloom(
      operators.HtmlOps.extractLinks(frontierPages(s, dir), "html",
        "page_url"),
      frontierCrawled(s), "url")

  /** STREAMING frontier admission drained end-to-end
    * ([[streaming.FrontierStream.admittedStream]]): the planted pages
    * exported to a file-stream source dir (8 files), read back in REAL
    * micro-batches (maxFilesPerTrigger = 2 ⇒ 4 batches), outlinks
    * extracted on the stream, crawled urls dropped by the stream-static
    * anti-join, each surviving url admitted exactly once through the
    * first-seen state — every crawl stage now has a batch lineage and a
    * streaming twin. The oracle is [[webFrontier]]'s survivor set
    * (url, dst_host — admissions, not reference totals): a url emitted
    * twice across batch boundaries, a crawled url leaking through, or
    * a lost admission breaks the shared closed form. */
  def streamWebFrontier(s: SparkSession, dir: String): DataFrame = {
    val pages = frontierPages(s, dir)
    val src = fixtureTmp("graft_frontier_src")
    pages.repartition(8).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 2).parquet(src)
    val qn = dropStaleDrain(s, "graft_frontier_drain")
    val q = streaming.FrontierStream
      .admittedStream(stream, "html", "page_url", frontierCrawled(s), "url")
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** The BOUNDED-STATE streaming admission loop drained end-to-end
    * ([[streaming.FrontierStream.admittedStreamBloom]] +
    * [[streaming.FrontierStream.snapshotAdmitted]] — the 100 TB shape
    * the r14 verdict demanded as code, not a comment): the planted
    * pages split into TWO EPOCHS (even docs, then odd docs), each
    * drained in real micro-batches through the Bloom-fronted stream —
    * crawled urls die row-locally at the sketch probe, the maybe-sliver
    * verifies exactly, first-seen state admits once — and between the
    * epochs the admitted set is SNAPSHOT into the crawled table, so
    * epoch 2 starts with empty state and its Bloom/verify absorb every
    * epoch-1 admission. The union of the two epochs' admissions must be
    * EXACTLY [[webFrontier]]'s survivor set (shared closed-form oracle):
    * a url re-admitted across the snapshot boundary (drain leak), a
    * crawled url surviving the sketch+verify pair, or a lost admission
    * all break the shared hash. FrontierStreamSpec pins the state-size
    * bound itself (epoch-2 state rows = epoch-2 admissions, not the
    * corpus). */
  def streamWebFrontierBloom(s: SparkSession, dir: String): DataFrame = {
    val pages = frontierPages(s, dir)
    val srcA = fixtureTmp("graft_frontier_bloom_srcA")
    val srcB = fixtureTmp("graft_frontier_bloom_srcB")
    val crawledPath = fixtureTmp("graft_frontier_bloom_crawled")
    pages.filter(col("doc") % 2 === 0).repartition(4)
      .write.mode("overwrite").parquet(srcA)
    pages.filter(col("doc") % 2 =!= 0).repartition(4)
      .write.mode("overwrite").parquet(srcB)
    frontierCrawled(s).write.mode("overwrite").parquet(crawledPath)
    def epoch(src: String, qn: String): DataFrame = {
      val stream = s.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val name = dropStaleDrain(s, qn)
      val q = streaming.FrontierStream
        .admittedStreamBloom(stream, "html", "page_url", crawledPath)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }
    val e1 = epoch(srcA, "graft_frontier_bloom_d1")
    // the state drain: epoch-1 admissions become crawled-set rows, so
    // the next epoch's sketch+verify own them and its state starts empty
    streaming.FrontierStream.snapshotAdmitted(s, e1, crawledPath)
    val e2 = epoch(srcB, "graft_frontier_bloom_d2")
    e1.unionByName(e2)
  }

  /** STREAMING DEDUP ADMISSION drained end-to-end
    * ([[streaming.DedupAdmitStream]] — the ingest-side twin of the batch
    * LSH dedup tier): the documents table split into TWO EPOCHS (even
    * doc_ids, then odd), each drained as one real micro-batch; per
    * batch, the doc's LSH bands (the `dedup_minhash_lsh` chain,
    * UNCAPPED — admission needs every band) probe the persisted
    * seen-band table through a Bloom front with exact sliver verify,
    * the batch's own rows resolve by first-owner window on the global
    * order key `(epoch·10⁸ + doc)`, and the batch's bands SNAPSHOT
    * into the seen table so the next epoch's Bloom/verify own them —
    * the [[streamWebFrontierBloom]] bounded-state discipline applied
    * to dedup-at-ingest.
    *
    * Admission is NON-recursive (the seen set accrues every earlier
    * doc's bands, admitted or not), so the drained result is CLOSED
    * FORM: admitted(d) ⟺ every band of d has its first owner (min
    * `ord` over the band key) at d itself; shingle-less docs admit
    * trivially with 0 bands. The oracle replays the shared minhash
    * band CTEs plus that window law — a doc re-admitted across the
    * snapshot boundary, a seen band surviving the Bloom+verify pair,
    * or a first-owner tie-break drift all break the hash.
    * DedupAdmitStreamSpec pins Bloom exactness at fpp 0.5, the
    * non-recursive family rule, and the compaction crash window
    * (DedupStreamSpec covers the separate candidatesStream operator). */
  def streamDedupAdmit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc"), col("text"))
    val srcA = fixtureTmp("graft_dedup_admit_srcA")
    val srcB = fixtureTmp("graft_dedup_admit_srcB")
    val seenPath = fixtureTmp("graft_dedup_admit_state") + "/seen"
    val outPath = fixtureTmp("graft_dedup_admit_state") + "/out"
    docs.filter(col("doc") % 2 === 0).repartition(4)
      .write.mode("overwrite").parquet(srcA)
    docs.filter(col("doc") % 2 =!= 0).repartition(4)
      .write.mode("overwrite").parquet(srcB)
    val big = 100000000L
    // the order key is epoch·big + doc, and the ORACLE replays it as
    // (doc % 2)·big + doc — both silently wrong if a doc_id reaches
    // the stride. Fail loudly instead of hash-mismatching opaquely.
    val maxDoc = docs.agg(max(col("doc"))).head().getLong(0)
    require(maxDoc < big,
      s"doc_id $maxDoc >= epoch stride $big: the order key would alias")
    def epoch(src: String, ep: Int): Unit = {
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 4).parquet(src)
      val sink = (bdf: DataFrame, _: Long) => {
        val ordered = bdf
          .withColumn("ord", lit(ep.toLong) * big + col("doc")).persist()
        val bands = streaming.DedupAdmitStream
          .bandsWithOrd(ordered, "doc", "text", "ord").persist()
        try {
          streaming.DedupAdmitStream
            .admitBatch(s, ordered.select(col("doc"), col("ord")), bands,
              "ord", seenPath)
            .write.mode("append").parquet(outPath)
          streaming.DedupAdmitStream.snapshotSeen(s, bands, seenPath)
          ()
        } finally { bands.unpersist(); ordered.unpersist(); () }
      }
      val q = stream.writeStream.foreachBatch(sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    epoch(srcA, 0)
    epoch(srcB, 1)
    s.read.parquet(outPath)
      .select(col("doc"), col("admitted"), col("n_bands"))
  }

  /** FRONTIER → FETCH SCHEDULE — the composition that finishes the
    * crawl loop's control plane on one plan: admitted frontier URLs
    * ([[webFrontier]]'s lineage) ranked per host by PRIORITY (`n_refs`
    * DESC — most-referenced pages first, ties lexicographic on url) and
    * stamped with the politeness start offset `(rank−1)·delay` against
    * a planted per-host Crawl-delay table ([[webFetchSchedule]]'s
    * arithmetic — exact scalars: delays are multiples of 0.5, ranks
    * small ints, every offset binary-exact). Discover → admit →
    * schedule now runs end-to-end on attested stages. Scale shape: the
    * frontier's single url exchange, then one host-keyed window over
    * the admitted set (host-bounded partitions) and a broadcast of the
    * host-table-sized delay side. */
  def webFrontierSchedule(s: SparkSession, dir: String): DataFrame = {
    val frontier = webFrontier(s, dir)
    val delays = s.range(7).select(
      concat(lit("ex"), col("id").cast("string"), lit(".com")).as("dst_host"),
      ((col("id") % 3).cast("double") * 0.5).as("crawl_delay"))
    val w = Window.partitionBy(col("dst_host"))
      .orderBy(col("n_refs").desc, col("url"))
    frontier.join(broadcast(delays), Seq("dst_host"))
      .withColumn("fetch_rank", row_number().over(w).cast("long"))
      .select(col("dst_host"), col("url"), col("n_refs"), col("fetch_rank"),
        ((col("fetch_rank") - 1) * col("crawl_delay"))
          .as("start_offset_sec"))
  }

  /** CAPSTONE WET curation — crawl ARCHIVE BYTES to training verdicts on
    * one plan, the composition a real web pipeline runs end to end:
    * Content-Length-framed WARC records ([[webWetExtract]]'s chain) →
    * HTML text extraction ([[operators.HtmlOps.htmlExtract]]) → language
    * ID + quality heuristics + token estimate computed over the
    * EXTRACTED text (not the raw page) → per-doc verdict with fixed
    * precedence (`low_quality` / `short` / `kept`). The judgment
    * columns see boilerplate-free text only — scoring raw HTML would
    * count nav/footer anchors as words, which is exactly the mistake
    * this composition exists to avoid.
    *
    * Oracle: the extracted text is CLOSED FORM (the planted-page
    * identity), so the whole lineage replays in SQL — the extraction
    * stated directly, the langid/quality/token arithmetic over it with
    * the shared constants. Scale shape: extraction and scoring are all
    * row-local projections; the only exchange is the fixture pack. */
  def wetCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val wet = webWetExtract(s, dir)
    val doc = regexp_extract(col("uri"), "/([0-9]+)$", 1).cast("long")
    val base = wet.select(doc.as("doc"), col("text").as("_t"))
    val q = TextOps.qualityCol(col("_t"))
    val est = TextOps.estTokensCol(col("_t"))
    base.select(col("doc"),
      TextOps.langPredCol(col("_t")).as("lang_pred"),
      round(q, 6).as("quality"),
      est.as("est_tokens"),
      when(q < 0.8, "low_quality")
        .when(est < 60, "short")
        .otherwise("kept").as("verdict"))
  }

  /** Heavy-hitter bigrams ([[operators.TextOps.frequentNgrams]], the
    * count-min sketch-prefilter two-pass): exact corpus-wide bigram
    * counts at `minCount` 35 — 189 of 916 distinct bigrams at sf0.01,
    * so the threshold is non-trivial both ways. The sketch is a
    * bounded-shuffle prefilter with NO effect on the result (count-min
    * only overestimates; the exact pass removes false positives), so
    * the oracle is the plain exact HAVING. */
  val frequentNgramMinCount: Long = 35L

  def textFrequentNgrams(s: SparkSession, dir: String): DataFrame =
    TextOps.frequentNgrams(Tables.documents(s, dir), "doc_id", "text",
      n = 2, minCount = frequentNgramMinCount)

  /** Top-K bigrams per source ([[operators.TextOps.topNgramsPerSource]])
    * — the heavy-hitter consumer shape (r10 verdict #4): the same
    * count-min prefilter, then exact per-(source, gram) counts at a
    * per-source minCount 3 (120-220 qualifiers per source at sf0.01 —
    * non-trivial heads) and a rank-5 head (ties (cnt DESC, gram))
    * that compiles to the map-side WindowGroupLimit partial top-k. */
  def textTopNgramsPerSource(s: SparkSession, dir: String): DataFrame =
    TextOps.topNgramsPerSource(Tables.documents(s, dir), "source", "text",
      n = 2, k = 5, minCount = 3)

  def qualityClassifyLogreg(s: SparkSession, dir: String): DataFrame =
    TextOps.logregClassifier(Tables.documents(s, dir), "doc_id", "text",
      isTrain = col("doc_id") % 5 === 0,
      label = TextOps.qualityCol(col("text")) >= 0.8,
      iters = logregIters, lr = logregLr)

  /** MEASURED OPERATING POINT for the logreg quality classifier (r13
    * verdict #7 — the ANN recall-audit discipline applied to curation):
    * the classifier ships scores, this row states what they are WORTH
    * on the held-out split (doc_id % 5 ≠ 0 — never seen by the
    * gradient loop). One row: held-out size and positive count,
    * rank-statistic AUC (Mann-Whitney with average ranks over tied
    * scores), precision/recall/F1 at the default 0.5 cut, and the
    * BEST-F1 threshold chosen on the held-out curve (ties broken to the
    * higher threshold — the conservative cut) — the number a curation
    * deployment actually sets its gate with.
    *
    * All arithmetic runs on the ROUND-6 score (the classifier's own
    * output quantization, mirrored by the oracle), so every group
    * statistic is integer-exact: rank sums are multiples of ½ (exact in
    * doubles at any corpus size), the F1 argmax compares single-division
    * ratios of small integers — bit-identical across engines. The
    * oracle replays the full training chain (the shared logreg CTEs)
    * and states the same statistics in SQL. Scale shape: one groupBy
    * on score, then windows/aggregates over AT MOST 10⁶+1 rows (the
    * round-6 score domain) — corpus-size-independent after the first
    * aggregate, which is why the keyless window is admissible here. */
  def qualityClassifyAudit(s: SparkSession, dir: String): DataFrame =
    qualityClassifyAuditFrom(s, dir, qualityClassifyLogreg(s, dir))

  /** The audit body over a PRE-SCORED frame, so a composition that
    * consumes both the scores and their measured operating point
    * ([[curationPipelineTuned]]) fits the model once. */
  private def qualityClassifyAuditFrom(s: SparkSession, dir: String,
                                       scored: DataFrame): DataFrame = {
    val docs = Tables.documents(s, dir)
    val truth = docs.select(col("doc_id").cast("long").as("doc"),
      (TextOps.qualityCol(col("text")) >= 0.8).as("y"))
    val ho = scored.filter(!col("is_train"))
      .join(truth, "doc").select(col("score"), col("y"))
    val g = ho.groupBy("score").agg(
      count(lit(1)).as("n"),
      sum(when(col("y"), 1L).otherwise(0L)).as("np"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_np", sum("np").over(w))
      .crossJoin(g.agg(sum("n").as("t_n"), sum("np").as("t_p")))
    val stats = cum.agg(
      max(col("t_n")).as("t_n"), max(col("t_p")).as("t_p"),
      sum(col("np").cast("double") * (col("cum_n") - col("n")).cast("double")
        + col("np").cast("double") * (col("n") + 1).cast("double") / 2.0)
        .as("rank_sum"),
      sum(when(col("score") >= 0.5, col("np")).otherwise(0L)).as("tp05"),
      sum(when(col("score") >= 0.5, col("n") - col("np")).otherwise(0L))
        .as("fp05"))
    val best = cum.select(col("score"),
        (lit(2.0) * (col("t_p") - col("cum_np") + col("np")).cast("double")
          / ((col("t_n") - col("cum_n") + col("n")) + col("t_p"))
            .cast("double")).as("f1"))
      .orderBy(col("f1").desc, col("score").desc).limit(1)
    stats.crossJoin(best).select(
      col("t_n").as("n_eval"), col("t_p").as("n_pos"),
      (round((col("rank_sum")
          - col("t_p").cast("double") * (col("t_p") + 1).cast("double") / 2.0)
        / (col("t_p").cast("double")
          * (col("t_n") - col("t_p")).cast("double")), 6) + 0.0).as("auc"),
      (round(col("tp05").cast("double")
        / (col("tp05") + col("fp05")).cast("double"), 6) + 0.0)
        .as("precision_at_half"),
      (round(col("tp05").cast("double") / col("t_p").cast("double"), 6)
        + 0.0).as("recall_at_half"),
      (round(lit(2.0) * col("tp05").cast("double")
        / ((col("tp05") + col("fp05")) + col("t_p")).cast("double"), 6)
        + 0.0).as("f1_at_half"),
      col("score").as("best_threshold"),
      (round(col("f1"), 6) + 0.0).as("best_f1"))
  }

  /** TUNED curation capstone — the measured operating point CONSUMED
    * (r14 verdict #5: `quality_classify_audit` computes a best-F1
    * threshold that nothing used): the [[curationPipeline]] survivors
    * additionally gated by the logreg classifier at the threshold the
    * AUDIT measured on the held-out split — the gate constant is the
    * audit's own output (one 1-row driver read of an aggregate, the
    * a6-cut discipline), not a hand-picked literal. One model fit serves
    * both the threshold selection and the gate (the scored frame is
    * cached across the two consumers). The oracle composes the three
    * attested chains — the five-stage curation CTEs, the unrolled logreg
    * replay, and the audit's best-threshold CTE — so the hash pins the
    * INTERACTION: score join on the curation survivors, the >= comparison
    * against the replayed threshold, round-6 on both sides. */
  def curationPipelineTuned(s: SparkSession, dir: String): DataFrame = {
    val scored = CacheRegistry.persistTracked(qualityClassifyLogreg(s, dir))
    val thr = qualityClassifyAuditFrom(s, dir, scored)
      .select("best_threshold").head().getDouble(0)
    curationPipeline(s, dir)
      .join(scored.select(col("doc"), col("score")), "doc")
      .filter(col("score") >= thr)
      .select(col("doc"), col("lang_pred"), col("quality"),
        col("est_tokens"), col("score"), col("scrub_hash"))
  }

  /** Decontamination via the BLOOM-PREFILTERED plan ([[operators.TextOps
    * .decontaminateBloom]]) — the shape for benchmark sets too big to
    * broadcast: broadcast sketch + row-local prefilter + exact verify
    * join on the survivors. Bit-identical output to [[textDecontaminate]]
    * (no false negatives in the Bloom; the verify join removes the false
    * positives), so the SAME oracle SQL attests both plans. */
  def textDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.decontaminateBloom(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text")
  }

  /** CCNet-style perplexity quality score ([[operators.TextOps.lmScore]]):
    * an add-one-smoothed bigram LM trained on the corpus's own tokens,
    * each document scored by mean negative log-likelihood per
    * transition. The oracle re-derives the counts, vocab size, and
    * per-transition log-probs in SQL. */
  def textLmScore(s: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(Tables.documents(s, dir), "doc_id", "text")

  /** CCNet perplexity bucketing ([[operators.TextOps.lmBuckets]]): the
    * stage between [[textLmScore]] and the keep decision — per-source
    * head/middle/tail thirds in nll order, the exact split the CCNet
    * pipeline trains from. The engine computes the bucket closed-form
    * over the two-pass global rank (no per-source window task); the
    * oracle replays the shared LM chain and states the same buckets
    * with a plain SQL `ntile` — the two are identical by ntile's
    * definition, so any off-by-one in the closed form breaks the
    * hash. */
  def textCcnetBuckets(s: SparkSession, dir: String): DataFrame =
    TextOps.lmBuckets(Tables.documents(s, dir), "doc_id", "text", "source")

  /** DSIR importance weights ([[operators.TextOps.dsirWeights]]): hashed
    * bigram-bucket features, target = docs passing the composite quality
    * gate at 0.8 (the same expression `quality_classify` labels with, so
    * the oracle replay is shared arithmetic). */
  def sampleDsir(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
      targetPred = TextOps.qualityCol(col("text")) >= 0.8)

  /** Per-doc n-gram novelty ([[operators.TextOps.ngramNovelty]], k=3):
    * the fraction of each doc's distinct shingles first owned (min doc
    * id) by that doc — the contribution-of-new-content signal. */
  def textNovelty(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramNovelty(Tables.documents(s, dir), "doc_id", "text")

  /** Overlapping token-window chunking ([[operators.TextOps
    * .chunkTokens]], 32-token windows, 8 overlap) — the retrieval /
    * pretraining splitter as an oracle row. */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkTokens(Tables.documents(s, dir), "doc_id", "text")

  /** Shard count for the composed pretrain pipeline (oracle-shared). */
  val pretrainShardCount: Int = 8

  /** CAPSTONE composed lineage — raw documents to balanced training
    * shards as ONE oracle row: exact dedup (md5 groups, min-id keeper)
    * → composite quality gate → overlapping 32/8 token chunking →
    * serpentine token-balanced shard placement over the chunk table →
    * per-shard totals. Every stage is an already-attested operator; the
    * composition pins that they agree end-to-end on one lineage (the
    * `curation_pipeline` discipline applied to the chunk/shard tier).
    * Chunk ids pack as doc·10⁶ + chunk_id (a collision needs a single
    * 24-million-token document; ids stay well inside Long). */
  def pretrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val keep = docs.withColumn("_rn", row_number().over(wd))
      .filter(col("_rn") === 1).drop("_rn")
      .filter(TextOps.qualityCol(col("text")) >= 0.8)
    val chunks = TextOps.chunkTokens(keep, "doc_id", "text")
      .withColumn("cid", col("doc") * 1000000L + col("chunk_id"))
    val sharded = operators.SampleOps.balancedShards(
      chunks.select(col("cid"), col("n_tokens").as("_nt")),
      "cid", "_nt", numShards = pretrainShardCount,
      tokenCount = Some(col("_nt")))
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("sum_tokens"))
  }

  /** Per-host fetch budget for the crawl capstone (oracle-shared): sized
    * to BITE at the gated sf0.01 (~1071 admitted urls per host → 800
    * fetched) so the schedule stage is load-bearing, not a pass-through. */
  val crawlHostBudget: Int = 800

  /** MEGA-CAPSTONE: discovered URL → balanced training shard as ONE
    * lineage (r14 verdict #6 — every stage existed attested, no row
    * stated the end-to-end book):
    *
    *   1. DISCOVER: one seed page per doc, its single anchor pointing at
    *      the doc's own page through a rotating resolution branch
    *      (path-absolute / absolute / dot-segment relative — all must
    *      land on `http://ex{id%7}.com/{id}` or the admission set
    *      shifts);
    *   2. ADMIT: [[operators.HtmlOps.frontierFilter]] against the
    *      already-fetched set (every id % 4 = 0 page) — survivors are
    *      exactly the id % 4 ≠ 0 pages;
    *   3. SCHEDULE: per-host politeness budget — rank (n_refs DESC, url)
    *      within dst_host, fetch only the first [[crawlHostBudget]]
    *      (the [[webFrontierSchedule]] ranking made load-bearing: it
    *      DECIDES which docs enter the archive);
    *   4. FETCH+ARCHIVE: the scheduled urls select their documents,
    *      packed as Content-Length-framed WARC response records
    *      ([[webWarcParse]]'s framing, [[wetBlobs]]' html payloads);
    *   5. EXTRACT: [[functions.WarcParse.warc_records]] →
    *      [[operators.HtmlOps.htmlExtract]] — the WET chain;
    *   6. CURATE: language-blind quality + token verdicts over the
    *      EXTRACTED text ([[wetCurationPipeline]]'s arithmetic), keep
    *      `kept` only;
    *   7. DEDUP: exact, on the CONTENT line of the extraction (line 2 —
    *      heading and entity tail are id-salted, the document text is
    *      not), min-doc keeper;
    *   8. CHUNK: overlapping 32/8 token windows ([[textChunk]]);
    *   9. SHARD: serpentine token-balanced placement over the chunk
    *      table ([[pretrainPipeline]]'s tail) → per-shard totals.
    *
    * The oracle replays all nine stages as composed CTEs over the
    * closed-form extraction identity, so the hash checks stage ORDER and
    * INTERACTION (the budget bites before the archive; verdicts score
    * extracted text; dedup sees only kept docs), not each stage alone.
    * Scale shape: one url exchange for the rollup+anti-join, one
    * host-keyed window, the url fetch join, the group_id archive pack,
    * one md5-keyed dedup window, the two-pass rank — every join equi,
    * every window keyed (plan-pinned). */
  def crawlPretrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    val docs = Tables.documents(s, dir)
    val ownUrl = concat(lit("http://ex"), (id % 7).cast("string"),
      lit(".com/"), id.cast("string"))
    // 1. discovery world
    val href = when(id % 3 === 0, concat(lit("/"), id.cast("string")))
      .when(id % 3 === 1, ownUrl)
      .otherwise(concat(lit("../"), id.cast("string")))
    val seeds = docs.select(id.as("doc"),
      concat(lit("http://ex"), (id % 7).cast("string"), lit(".com/seed/"),
        id.cast("string")).as("page_url"),
      concat(lit("<body><p><a href=\""), href,
        lit("\">d</a></p></body>")).as("html"))
    // 2. admission
    val crawled = docs.filter(id % 4 === 0).select(ownUrl.as("url"))
    val frontier = operators.HtmlOps.frontierFilter(
      operators.HtmlOps.extractLinks(seeds, "html", "page_url"),
      crawled, "url")
    // 3. per-host fetch budget
    val wh = Window.partitionBy(col("dst_host"))
      .orderBy(col("n_refs").desc, col("url"))
    val scheduled = frontier.withColumn("_rk", row_number().over(wh))
      .filter(col("_rk") <= crawlHostBudget).select(col("url"))
    // 4. fetch + archive pack (the wetBlobs framing over the FETCHED set)
    val fetched = docs.select(id.as("_fid"), col("text"), ownUrl.as("url"))
      .join(scheduled, "url")
    val payload = plantedHtml(col("_fid"), col("text"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
      col("url"), lit("\r\nContent-Length: "),
      octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    val blobs = fetched
      .select((col("_fid") % 50).as("group_id"),
        struct(col("_fid").as("i"), rec.as("r")).as("_s"))
      .groupBy("group_id")
      .agg(array_join(transform(array_sort(collect_list(col("_s"))),
        s0 => s0.getField("r")), "").as("_blob"))
    // 5. parse + extract (the attested WET chain)
    val wet = wetRows(blobs)
    val doc = regexp_extract(col("uri"), "/([0-9]+)$", 1).cast("long")
    val base = wet.select(doc.as("doc"), col("text").as("_t"))
    // 6. verdicts over the extracted text; keep 'kept' only
    val q = TextOps.qualityCol(col("_t"))
    val est = TextOps.estTokensCol(col("_t"))
    val kept = base.filter(!(q < 0.8) && !(est < 60))
    // 7. exact dedup on the content line (min-doc keeper)
    val contentLine = element_at(split(col("_t"), "\n"), 2)
    val wd = Window.partitionBy(md5(contentLine.cast("binary")))
      .orderBy(col("doc"))
    val uniq = kept.withColumn("_rn", row_number().over(wd))
      .filter(col("_rn") === 1).select(col("doc"), col("_t"))
    // 8-9. chunk, serpentine shard, per-shard totals
    val chunks = TextOps.chunkTokens(uniq, "doc", "_t")
      .withColumn("cid", col("doc") * 1000000L + col("chunk_id"))
    val sharded = operators.SampleOps.balancedShards(
      chunks.select(col("cid"), col("n_tokens").as("_nt")),
      "cid", "_nt", numShards = pretrainShardCount,
      tokenCount = Some(col("_nt")))
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("sum_tokens"))
  }

  /** Per-source token-distribution drift ([[operators.TextOps
    * .sourceDrift]]): KL divergence of each source's smoothed unigram
    * distribution to the corpus mixture — the data-mixing QA row. */
  def textSourceDrift(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceDrift(Tables.documents(s, dir), "doc_id", "text", "source")

  /** Tokenizer FERTILITY per source — exact merge-table BPE tokens per
    * whitespace word ([[operators.TextOps.mergeBpeTokenCount]] over
    * [[operators.TextOps.tokens]]): the report that prices each
    * source's token budget (high fertility = the tokenizer fragments
    * that source; a mixing pass weights token counts, not doc counts).
    * Row-local counts + one bounded rollup. */
  def textBpeFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        TextOps.mergeBpeTokenCount(col("text")).as("_b"),
        size(TextOps.tokens(col("text"))).cast("long").as("_w"))
      .groupBy("source")
      .agg(sum(col("_b")).as("sum_bpe"), sum(col("_w")).as("sum_ws"),
        (round(sum(col("_b")).cast("double") / sum(col("_w")), 6) + 0.0)
          .as("fertility"))

  /** LSH recall audit ([[operators.TextOps.lshRecallAudit]]): the
    * measured recall of the banded candidate chain against the
    * all-pairs exact truth — the tuning row a new corpus runs on a
    * sample before trusting the band arity/caps. Quadratic ground
    * truth: audit-scale only, stated in the operator contract. */
  def dedupLshRecallAudit(s: SparkSession, dir: String): DataFrame =
    TextOps.lshRecallAudit(Tables.documents(s, dir), "doc_id", "text")

  /** SimHash recall audit ([[operators.TextOps.simhashRecallAudit]]):
    * the cap's measured recall cost against the pigeonhole-complete
    * uncapped truth — equi-join-shaped on BOTH sides, so this audit
    * runs at corpus scale, not just sample scale. */
  def dedupSimhashRecallAudit(s: SparkSession, dir: String): DataFrame =
    TextOps.simhashRecallAudit(Tables.documents(s, dir), "doc_id", "text")

  /** Embedding-LSH recall audit ([[operators.VectorOps.embRecallAudit]])
    * on the exact emb_neardup configuration (4×4 sign bands over the
    * 400-415 anchors, multi-probe, cap 1000): the measured band-miss +
    * cap recall the (1−pᵏ)ᵇ estimate only bounds. Quadratic truth side
    * — audit-scale only, stated in the operator contract. */
  def embRecallAuditQ(s: SparkSession, dir: String): DataFrame =
    operators.VectorOps.embRecallAudit(Tables.embeddings(s, dir),
      "vec_id", "embedding", col("vec_id").between(400, 415),
      bands = 4, rowsPerBand = 4, minCosine = 0.45, multiProbe = true)

  /** Containment pairs ([[operators.TextOps.containmentPairs]]) — the
    * asymmetric-overlap detector a Jaccard gate is blind to (Broder's
    * resemblance vs containment distinction): at sf0.01 the 0.8 gate
    * keeps ~25 of ~11.5k shared-shingle candidates (the rest top out
    * at 0.27), so both the candidacy and the gate are exercised hard
    * in both directions. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    TextOps.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      minContainment = 0.8)

  /** CDC arity, shared with the oracle builder. */
  val cdcW: Int = 4
  val cdcDivisor: Int = 16

  /** Content-defined chunking ([[operators.TextOps.cdcChunks]]) — the
    * storage-dedup boundary rule applied to the token stream: chunk
    * ends wherever the 4-gram hash ≡ 0 (mod 16), expected ~16-word
    * chunks, edit-robust boundaries. The chunk_md5 column is the
    * chunk-level dedup key downstream. Fully row-local. */
  def textCdcChunks(s: SparkSession, dir: String): DataFrame =
    TextOps.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
      w = cdcW, divisor = cdcDivisor, target = 0)

  /** CHUNK-LEVEL dedup over the CDC table — the consumer the chunking
    * exists for: duplicated chunks across documents (boilerplate,
    * quoted passages, shared headers) surface as md5 groups with
    * multiple owners; `first_doc` is the canonical keeper. One
    * map-side-combined groupBy over the row-local chunk table. */
  def dedupCdcChunks(s: SparkSession, dir: String): DataFrame =
    textCdcChunks(s, dir)
      .groupBy(col("chunk_md5"), col("n_words"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc")).as("n_docs"),
        min(col("doc")).as("first_doc"))
      .filter(col("n_docs") > 1)

  /** SFT turn spans ([[operators.TextOps.sftTurnSpans]]) — the chat
    * templating + loss-mask offsets stage of an instruction-tuning
    * pipeline, over turn structure derived deterministically from the
    * corpus (the planting discipline). */
  def sftSpans(s: SparkSession, dir: String): DataFrame =
    TextOps.sftTurnSpans(Tables.documents(s, dir), "doc_id", "text")

  /** Per-source token-length profile ([[operators.TextOps
    * .lengthQuantiles]]) — the report that sizes packing and
    * sequence-length config. */
  def textLengthQuantiles(s: SparkSession, dir: String): DataFrame =
    TextOps.lengthQuantiles(Tables.documents(s, dir), "text", "source")

  /** Per-source vocabulary profile ([[operators.TextOps.vocabStats]]) —
    * lexical diversity next to the length profile. */
  def textVocabStats(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabStats(Tables.documents(s, dir), "text", "source")

  /** Length-sorted batch layout ([[operators.SampleOps
    * .packLengthBatches]]) — per-batch padding overhead under
    * pad-to-longest, batches cut from the two-pass global length rank. */
  def packLengthBatches(s: SparkSession, dir: String): DataFrame =
    SampleOps.packLengthBatches(Tables.documents(s, dir), "doc_id", "text",
      batchDocs = 32)

  /** The deterministically planted url (shared by [[textUrlNormalize]]
    * and [[webCurationPipeline]], mirrored verbatim in their oracles). */
  private def plantedUrl(id: Column): Column = concat(
    when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
    when(id % 3 === 1, lit("www.")).when(id % 3 === 2, lit("cdn."))
      .otherwise(lit("")),
    lit("Site"), (id % 50).cast("string"),
    when(id % 3 === 0, lit(".com")).when(id % 3 === 1, lit(".net"))
      .otherwise(lit(".org")),
    lit("/Page/"), id.cast("string"),
    when(id % 4 === 0, lit("/")).otherwise(lit("")),
    when(id % 5 === 0, lit("?utm_source=x")).otherwise(lit("")),
    when(id % 7 === 0, lit("#frag")).otherwise(lit("")))

  /** The shared url blocklist (oracle-mirrored). */
  private val urlBlocklist = Seq("site7.com", "site13.net", "site21.org")

  /** URL curation over DETERMINISTICALLY PLANTED urls (the corpus has no
    * url column — the `text_pii` planting discipline): mixed-case
    * schemes, www/cdn subdomains, rotating TLDs, query strings,
    * fragments and trailing slashes, all functions of doc_id, then
    * [[operators.TextOps.urlCurate]] normalizes, extracts host/domain
    * and flags the blocklist. The oracle plants the identical url and
    * replays the same anchored-regex normalization. */
  def textUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, dir)
      .select(id.as("doc_id"), plantedUrl(id).as("url"))
    TextOps.urlCurate(docs, "doc_id", "url", blocklist = urlBlocklist)
  }

  /** Planted robots.txt body per domain id (oracle derives the VERDICTS
    * closed-form from the same arithmetic): mixed-case keys, a trailing
    * comment, an empty-value Disallow (matches nothing), a consecutive
    * two-UA group every 7th host, an Allow override every 3rd, a
    * wildcard+anchor Disallow every 6th (13 octets — outranks the
    * 11-octet Allow, so the wildcard length precedence is observable),
    * an anchored star-ub rule every g%5==4 host (matches `/pub`, must
    * NOT match `/pubx`), and a graftbot-specific group every 4th — named
    * with a VERSIONED product token (`GraftBot/1.0`, §2.2.1 token
    * matching) — which, per RFC 9309, then REPLACES the `*` rules for
    * us entirely; every 8th host that group carries an anchored Allow
    * override (7 octets beats `/bot`'s 4). */
  private def plantedRobots(did: Column): Column = concat(
    lit("# robots for site"), did.cast("string"), lit("\n"),
    // sitemap + crawl-delay lines are INVISIBLE to the rule queries
    // (applicableRules keeps only user-agent/allow/disallow keys), so
    // the directives fixture rides the same bodies without touching the
    // web_robots_filter / web_ingest verdict arithmetic
    concat(lit("Sitemap: https://site"), did.cast("string"),
      lit(".com/sitemap.xml\n")),
    when(did % 7 === 0, lit("User-agent: otherbot\n")).otherwise(lit("")),
    lit("User-agent: *\n"),
    lit("DisAllow: /private # staff only\n"),
    when(did % 3 === 0, lit("Allow: /private/ok\n")).otherwise(lit("")),
    when(did % 6 === 0, lit("Disallow: /private/*/y$\n")).otherwise(lit("")),
    when(did % 5 === 4, lit("Disallow: /*ub$\n")).otherwise(lit("")),
    when(did % 2 === 0, lit("Crawl-Delay: 1.5\n")).otherwise(lit("")),
    when(did % 9 === 2, lit("Crawl-delay: soon # unparseable, ignored\n"))
      .otherwise(lit("")),
    lit("Disallow:\n\n"),
    when(did % 3 === 1, concat(lit("Sitemap: https://site"),
      did.cast("string"), lit(".com/news.xml\n"))).otherwise(lit("")),
    when(did % 4 === 0,
      lit("USER-AGENT: GraftBot/1.0\nDisallow: /bot\nCrawl-delay: 0.5\n"))
      .otherwise(lit("")),
    when(did % 8 === 0, lit("Allow: /bot/z$\n")).otherwise(lit("")))

  /** robots.txt politeness gate ([[operators.RobotsOps.evaluate]]) over
    * planted per-domain robots bodies and planted request paths: the
    * engine PARSES for real (comments, casing, grouping, agent
    * specificity, longest-match + Allow tie-break), while the oracle
    * states every verdict closed-form from the same doc_id arithmetic —
    * any parse or precedence bug flips a verdict and breaks the hash. */
  def webRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc"))
    operators.RobotsOps.evaluate(plantedRobotsTable(docs), "host", "robots",
      plantedRequests(docs), "doc", "host", "path", agent = "graftbot")
  }

  /** Per-host crawl directives ([[operators.RobotsOps.hostDirectives]])
    * over the same planted bodies: host-global Sitemap URLs (sorted
    * join), group-scoped Crawl-delay for graftbot (specific group wins,
    * min across applicable groups, unparseable values ignored — the
    * fixture plants a `soon` value both beside and without a numeric
    * one). */
  def webCrawlDirectives(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc"))
    operators.RobotsOps.hostDirectives(plantedRobotsTable(docs),
      "host", "robots", agent = "graftbot")
  }

  /** Planted sitemap XML per domain id: every 5th host serves a
    * `<sitemapindex>` (two child sitemaps — one with lastmod, one
    * whose `<loc>` carries surrounding WHITESPACE the parser must
    * strip), the rest a `<urlset>` of 1-3 url entries with lastmod on
    * alternating entries. All values closed-form from `did`. */
  private def plantedSitemap(did: Column): Column = {
    val ds = did.cast("string")
    val month = ((did % 9) + 1).cast("string")
    when(did % 5 === 0, concat(
      lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n<sitemap><loc>https://site"),
      ds, lit(".com/sm1.xml</loc><lastmod>2026-01-0"), month,
      lit("</lastmod></sitemap>\n<sitemap><loc> https://site"), ds,
      lit(".com/sm2.xml </loc></sitemap>\n</sitemapindex>")))
    .otherwise(concat(
      lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
      concat_ws("", transform(
        sequence(lit(1), (lit(1) + did % 3).cast("int")), j =>
          concat(lit("<url><loc>https://site"), ds, lit(".com/p"),
            j.cast("string"), lit("</loc>"),
            when((did + j) % 2 === 0,
              concat(lit("<lastmod>2026-0"), month, lit("-15</lastmod>")))
              .otherwise(lit("")),
            lit("</url>\n")))),
      lit("</urlset>")))
  }

  /** Sitemap-document parsing ([[operators.RobotsOps.sitemapUrls]]) —
    * the crawl-scheduler stage after [[webCrawlDirectives]] surfaces
    * the sitemap URLs: per-host planted sitemap XML → (url, lastmod,
    * is_index) entries, with `<sitemapindex>` children flagged for
    * re-queueing. The oracle states every entry closed-form from the
    * same did arithmetic — a parse bug (missed block, unstripped
    * whitespace, lastmod misattribution) breaks the hash. */
  def webSitemapUrls(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select((col("doc_id").cast("long") % 50).as("did")).distinct()
    val sm = docs.select(
      concat(lit("site"), col("did").cast("string"), lit(".com")).as("host"),
      plantedSitemap(col("did")).as("xml"))
    operators.RobotsOps.sitemapUrls(sm, "host", "xml")
  }

  /** COMPOSED fetch schedule — the polite-crawler scheduler view over
    * the whole directives tier on one plan: sitemap PAGE entries
    * ([[webSitemapUrls]], index children excluded — they re-queue as
    * sitemap fetches, not page fetches) joined with the per-host
    * Crawl-delay verdict ([[operators.RobotsOps.hostDirectives]],
    * broadcast — host-table-sized), ranked per host (lexicographic —
    * deterministic), each fetch stamped with its earliest start offset
    * `(rank−1)·delay` (no applicable delay ⇒ the host fetches
    * immediately, offset 0). Exact scalar arithmetic — no rounding:
    * rank ≤ 3 and delays {0.5, 1.5} make every offset binary-exact. */
  def webFetchSchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc"))
    val pages = webSitemapUrls(s, dir).filter(!col("is_index"))
    val delays = operators.RobotsOps.hostDirectives(
        plantedRobotsTable(docs), "host", "robots", agent = "graftbot")
      .select(col("host"), col("crawl_delay"))
    val w = Window.partitionBy(col("host")).orderBy(col("url"))
    pages.join(broadcast(delays), Seq("host"))
      .withColumn("fetch_rank", row_number().over(w).cast("long"))
      .select(col("host"), col("url"), col("fetch_rank"),
        ((col("fetch_rank") - 1) * coalesce(col("crawl_delay"), lit(0.0)))
          .as("start_offset_sec"))
  }

  /** The planted robots table (one per domain) and request table
    * (one per doc) — shared by [[webRobotsFilter]] and
    * [[webIngestPipeline]] so the fixtures cannot drift. */
  private def plantedRobotsTable(docs: DataFrame): DataFrame =
    docs.select((col("doc") % 50).as("did")).distinct()
      .select(
        concat(lit("site"), col("did").cast("string"), lit(".com")).as("host"),
        plantedRobots(col("did")).as("robots"))

  private def plantedRequests(docs: DataFrame): DataFrame =
    docs.select(col("doc"),
      concat(lit("site"), (col("doc") % 50).cast("string"), lit(".com"))
        .as("host"),
      when(col("doc") % 5 === 0, "/")
        .when(col("doc") % 5 === 1, "/private/x")
        .when(col("doc") % 5 === 2, "/private/ok/y")
        .when(col("doc") % 5 === 3, "/bot/z")
        // p=4 splits on doc%10 (per-host constant since 10 | 50):
        // "/pub" hits the anchored /*ub$ rule, "/pubx" must slip it
        .when(col("doc") % 10 === 4, "/pubx")
        .otherwise("/pub").as("path"))

  /** Fetch-window budget (seconds) for the [[webIngestPipeline]]
    * crawl-delay admission — shared with the oracle builder. A host
    * whose applicable Crawl-delay is d admits at most ⌊window/d⌋+1
    * fetches per window; 10 s makes the deferral branch reachable from
    * sf0.01 up (10 docs/host vs the 1.5 s delay's cap of 7). */
  val ingestFetchWindowSec: Double = 10.0

  /** CAPSTONE web-ingest lineage — the crawl-side front half composed
    * on ONE plan: planted requests → robots gate ([[operators
    * .RobotsOps]], a polite crawler's first cut) → domain-suffix
    * blocklist ([[operators.TextOps.domainSuffixBlockCol]]) →
    * CRAWL-DELAY ADMISSION (r11 verdict #5: [[operators.RobotsOps
    * .hostDirectives]] wired into the fetch schedule — a polite crawler
    * joins the per-host Crawl-delay verdict in, budgets
    * ⌊[[ingestFetchWindowSec]]/delay⌋+1 fetches per host-window, and
    * defers the rest) → composite quality gate → per-doc verdict with
    * fixed precedence (`robots_denied` / `blocked_domain` /
    * `deferred_delay` / `low_quality` / `kept`). The precedence encodes
    * the crawl order: robots and domain verdicts are known pre-fetch,
    * the delay budget caps actual fetches, quality needs fetched
    * content. Scale shape: the directives side is one tiny host-keyed
    * aggregate (broadcast-joined), the admission rank is one window
    * over the host key — fan-in bounded per host, no corpus-wide
    * shuffle beyond the host partition. */
  def webIngestPipeline(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc"), col("text"))
    val docs = base.select(col("doc"))
    val rv = operators.RobotsOps.evaluate(plantedRobotsTable(docs),
        "host", "robots", plantedRequests(docs), "doc", "host", "path",
        agent = "graftbot")
      .select(col("req").as("doc"), col("host"), col("allowed"))
    // per-domain docs share one path (doc ≡ g mod 50 fixes doc mod 5),
    // so the blocklist names domains whose path IS robots-allowed —
    // g=10 (star rules, path "/") and g=24 (graftbot rules, "/pubx") —
    // keeping the blocked_domain branch genuinely reachable
    val blockedBy = TextOps.domainSuffixBlockCol(col("host"),
      Seq("site10.com", "site24.com"))
    val delays = operators.RobotsOps.hostDirectives(plantedRobotsTable(docs),
        "host", "robots", agent = "graftbot")
      .select(col("host"), col("crawl_delay"))
    // fetchable docs rank first within their host (eligible-first, then
    // doc — deterministic), so an eligible doc's row_number IS its
    // fetch-queue position; ineligible docs never consult the rank
    val eligible = col("allowed") && blockedBy.isNull
    val wAdm = Window.partitionBy(col("host"))
      .orderBy(eligible.desc, col("doc"))
    val cap = floor(lit(ingestFetchWindowSec) / col("crawl_delay")) + 1
    rv.join(base, Seq("doc"))
      .join(broadcast(delays), Seq("host"))
      .withColumn("_rn", row_number().over(wAdm))
      .select(col("doc"), col("host"), col("crawl_delay"),
        when(!col("allowed"), "robots_denied")
          .when(blockedBy.isNotNull, "blocked_domain")
          .when(col("crawl_delay").isNotNull && col("_rn") > cap,
            "deferred_delay")
          .when(TextOps.qualityCol(col("text")) < 0.8, "low_quality")
          .otherwise("kept").as("verdict"))
  }

  /** Sketch arity for [[streamCmCounters]], shared with the oracle. */
  val streamCmDepth: Int = 3
  val streamCmWidth: Int = 2048

  /** STREAMING count-min maintenance drained end-to-end (r11 verdict
    * #6 — the sketch tier's stream form gets an oracle row like every
    * other streaming twin): the documents table exported once to a
    * file-stream source dir, read back with `readStream`, run through
    * the [[graft.streaming.SketchStream.countersShared]] maintenance
    * aggregate (the oracle-shared salted-hash60 bucket family), and
    * drained in COMPLETE mode to a memory sink. The drained counter
    * grid IS the output — DuckDB replays gram→bucket→count directly,
    * so a stateful-aggregation bug (lost partial, double-counted
    * restart, wrong state key) breaks the hash. State and output are
    * bounded at depth×width rows at ANY corpus size — the whole point
    * of sketch-shaped stream state. */
  def streamCmCounters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val src = fixtureTmp("graft_cm_src")
    docs.write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(docs.schema).parquet(src)
    val counters = graft.streaming.SketchStream.countersShared(
      stream, "text", n = 2, depth = streamCmDepth, width = streamCmWidth)
    val qn = dropStaleDrain(s, "graft_cm_drain")
    val q = counters.writeStream.format("memory").queryName(qn)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** Fixed memory-sink name per drained-stream query, stale copy dropped
    * before the next start (ADVICE r12): a fresh UUID name per invocation
    * leaked every prior drain's full row set into driver memory for the
    * JVM's lifetime (bench runs=3 × Verify passes — stream_pldata_tail
    * retains ~1M rows per invocation at the 10× corpus). Callers that
    * already drained their returned frame are unaffected — the frame
    * captures the sink's plan, not the view name. */
  private def dropStaleDrain(s: SparkSession, name: String): String = {
    s.catalog.dropTempView(name)
    name
  }

  /** STREAMING ANN ingest drained end-to-end on the planted OPQ corpus
    * (the [[annOpqIvfTopk]] fixture): quantizer trained batch-side
    * (nCells = 25, deterministic first-k init ⇒ the cluster→cell map is
    * 1:1 and closed-form), the planted vectors exported to a
    * file-stream source dir, read back with `readStream`, encoded by
    * [[graft.streaming.AnnIngest.encodeStream]] (stateless append — no
    * state store, no watermark, no shuffle), drained to a memory sink.
    * Output per vector: its assigned cell and code arity. The oracle
    * states the planted truth closed-form (`cid = vec_id % 25`), so a
    * mis-assignment anywhere in the real stream path — schema, decode,
    * normalize, literal-matrix ranking — breaks the hash. Codes-level
    * stream≡batch parity is AnnIndexSpec's split sweep; THIS row is the
    * end-to-end drain no spec exercised. */
  def streamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.embeddings(s, dir)
      .select(col("vec_id"), opqIvfPlanted(col("vec_id")).as("pv"))
    val model = VectorOps.ivfPqTrain(planted, "vec_id", "pv",
      nCells = annOpqIvfCells, m = 8, codebookK = 16)
      .getOrElse(sys.error("empty planted corpus"))
    val src = fixtureTmp("graft_ann_src")
    planted.write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(planted.schema).parquet(src)
    val qn = dropStaleDrain(s, "graft_ann_drain")
    val q = graft.streaming.AnnIngest
      .encodeStream(stream, "vec_id", "pv", model)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn).select(col("v_id"), col("cid"),
      size(col("codes")).as("n_codes"))
  }

  /** STREAMING pldata tail-ingest drained end-to-end (the
    * [[pldataV2Roundtrip]] fixture split across TWO session dirs — the
    * shape the MICRO_BATCH source exists for: each session file is its
    * own input partition/batch): export → `readStream.format("pldata")`
    * recursive → append drain → the same catalog projection as
    * `s4_pldata_v2`, hash-matched against the same events replay. A
    * drift anywhere in the streaming path (offset tracking, re-reads,
    * dropped session, decode) changes the row set and breaks the
    * hash. */
  def streamPldataTail(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = fixtureTmp("graft_pldata_tail")
    val base = ev(s, dir)
      .repartitionByRange(FixturePartitions, col("event_id"))
      .sortWithinPartitions(col("event_id")).select(
        lit("gaze").as("topic"), col("t").as("timestamp"),
        array(col("value") / 500.0, (col("user_id") % 20) / 20.0)
          .as("norm_pos"),
        (col("value") / 1000.0).as("confidence"), col("event_id").as("id"))
    PldataSource.write(base.filter(col("id") % 2 === 0), s"$root/s1", "gaze")
    PldataSource.write(base.filter(col("id") % 2 =!= 0), s"$root/s2", "gaze")
    val schema = StructType(Seq(
      StructField("timestamp", DoubleType),
      StructField("norm_pos", ArrayType(DoubleType)),
      StructField("confidence", DoubleType),
      StructField("id", LongType)))
    val qn = dropStaleDrain(s, "graft_pldata_drain")
    val q = s.readStream.format("pldata").option("topic", "gaze")
      .option("recursive", "true").schema(schema).load(root)
      .select(col("id"), col("timestamp"),
        element_at(col("norm_pos"), 1).as("nx"),
        element_at(col("norm_pos"), 2).as("ny"), col("confidence"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** Host-graph PageRank ([[operators.GraphOps.pageRank]]) over a
    * planted 50-domain link graph with PLANTED SINKS (one directed edge
    * per doc: `doc%50 → (doc·7+3)%50`, deduped, except sources with
    * `g%10==9` emit nothing — so nodes 9/19/29/39/49 are dangling yet
    * still receive mass from 8/38/18/48/28). 3 synchronous iterations,
    * d = 0.85, canonical dangling redistribution, per-iteration 6 dp
    * quantization of both ranks and the dangling mass; the oracle
    * unrolls the exact same three iterations as MATERIALIZED CTEs (the
    * k-means/BPE discipline). */
  def webPagerank(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("long")
    val edges = Tables.documents(s, dir)
      .select((id % 50).as("src"), ((id * 7 + 3) % 50).as("dst"))
      .filter(col("src") % 10 =!= 9)
    GraphOps.pageRank(edges, "src", "dst", iters = 3)
  }

  /** The shared suffix blocklist (oracle-mirrored): mixes a full-host
    * pattern with its parent domain (most-specific precedence is
    * observable) and a bare-domain pattern that only ever matches via
    * the subdomain suffix rule. */
  private val domainBlockPatterns = Seq(
    "site7.com", "site13.net", "site9.org", "cdn.site21.org", "site21.org")

  /** Domain-suffix blocklist filtering over the planted urls
    * ([[operators.TextOps.domainSuffixBlock]], the broadcast-join form
    * a UT1-sized list needs): hosts explode into label suffixes,
    * equi-join the pattern table, most-specific match wins. The
    * fixture exercises all three behaviors — exact host block, parent-
    * domain block of a subdomained host (`site9.org` catching
    * `cdn.site9.org`), and specificity precedence (`cdn.site21.org`
    * beating `site21.org` on the same host). */
  def webDomainFilter(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, dir)
      .select(id.as("doc_id"), plantedUrl(id).as("url"))
    val hosts = TextOps.urlCurate(docs, "doc_id", "url", Nil)
      .select(col("doc"), col("host"))
    import s.implicits._
    TextOps.domainSuffixBlock(hosts, "doc", "host",
      domainBlockPatterns.toDF("pattern"))
  }

  /** COMPOSED web-curation lineage — the FineWeb-ish front half of a web
    * pipeline as ONE oracle row: planted urls → [[operators.TextOps
    * .urlCurate]] → blocklist drop → PER-DOMAIN CAP (keep the 3
    * pseudo-randomly-ranked docs per domain — salted-md5 rank, the
    * `sample_stratified` determinism rule, so "random" is bit-stable
    * cross-engine) → composite quality gate → a per-doc verdict column
    * (`blocked` / `over_cap` / `low_quality` / `kept`, precedence in
    * that order). Scale shape: row-local normalize, one window over the
    * domain key (bounded fan-in per domain by construction), row-local
    * gate — no corpus-wide shuffle beyond the domain partition. */
  def webCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, dir)
      .select(id.as("doc_id"), plantedUrl(id).as("url"), col("text"))
    val cur = TextOps.urlCurate(docs, "doc_id", "url", urlBlocklist)
      .join(docs.select(id.as("doc"),
        (TextOps.qualityCol(col("text")) >= 0.8).as("_q")), "doc")
    // rank ONLY unblocked docs against each other: blocked rows must not
    // consume cap slots, so the rank window partitions on the flag too
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"), col("blocked"))
      .orderBy(TextOps.hash60(concat(lit("w42"), col("doc").cast("string"))),
        col("doc"))
    cur
      .withColumn("_rk", when(col("blocked"), lit(null))
        .otherwise(row_number().over(rk)))
      .select(col("doc"), col("domain"),
        when(col("blocked"), lit("blocked"))
          .when(col("_rk") > 3, lit("over_cap"))
          .when(!col("_q"), lit("low_quality"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** BPE vocabulary induction ([[operators.TextOps.bpeTrain]]): learn the
    * 12 highest-count merges from the corpus's own words. The oracle
    * unrolls the identical loop — pair counts, lexicographic-tie argmax,
    * sentinel-space replace — iteration by iteration in SQL. */
  def bpeTrainQuery(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeTrain(Tables.documents(s, dir), "doc_id", "text")

  /** PII detect + scrub over text with DETERMINISTICALLY PLANTED PII (the
    * synthetic corpus contains none): docs with doc_id % 3 != 0 get an
    * email + IPv4 + phone suffix derived from doc_id; the oracle plants
    * the identical suffix, so counts and scrubbed text are exact. */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(col("text"),
      lit(" reach user"), id.cast("string"),
      lit("@example.com via 10."), (id % 256).cast("string"),
      lit(".0."), ((id * 7) % 256).cast("string"),
      lit(" tel 555-867-"), lpad((id % 10000).cast("string"), 4, "0"))
    val aug = Tables.documents(s, dir).select(id.as("doc_id"),
      when(id % 3 =!= 0, planted).otherwise(col("text")).as("text"))
    TextOps.piiScrub(aug, "doc_id", "text")
  }

  /** Line-level dedup (CCNet-style): the corpus has no line structure,
    * so the fixture plants it — tokens chunked 8-per-line joined by
    * newline, plus a SHARED boilerplate line appended to 3 of 4 docs
    * (the cookie-banner analogue, ~375 occurrences ≫ the threshold 10).
    * [[operators.TextOps.dedupLines]] must drop exactly the over-
    * threshold lines and reassemble the rest in order. */
  def textLineDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = ((size(toks) + lit(7)) / lit(8)).cast("int")
    val lines = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * 8 + 1, lit(8))))
    val boiler = lit("subscribe to the graft newsletter today")
    val arr = when(col("doc_id") % 4 =!= 0,
      concat(lines, array(boiler))).otherwise(lines)
    val aug = Tables.documents(s, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      array_join(arr, "\n").as("text"))
    TextOps.dedupLines(aug, "doc_id", "text")
  }

  /** Gram width for the span-level substring dedup — shared with the
    * oracle builder so the two sides cannot drift. 10 tokens ≈ the
    * 50-BPE-token span threshold of the published substring-dedup recipe,
    * scaled to this corpus's short synthetic docs. */
  val substringDedupK: Int = 10

  /** SPAN-LEVEL exact substring dedup ([[operators.TextOps
    * .substringDedupSpans]]): maximal cross-doc duplicated token ranges —
    * what doc-level MinHash cannot see (a boilerplate paragraph pasted
    * into otherwise-distinct pages). The oracle replays the whole chain
    * (gram md5 → cross-doc min≠max → island merge) in SQL. */
  def textSubstringDedup(s: SparkSession, dir: String): DataFrame =
    TextOps.substringDedupSpans(Tables.documents(s, dir), "doc_id", "text",
      k = substringDedupK)

  /** APPLY side of the span-level dedup ([[operators.TextOps
    * .removeDuplicatedSpans]]): duplicated token ranges cut out, text
    * reassembled in order; fully-duplicated docs stay with empty text.
    * The oracle composes the full detection chain with an anti-EXISTS
    * positional filter + ordered string_agg. */
  def textSubstringDedupApply(s: SparkSession, dir: String): DataFrame =
    TextOps.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
      k = substringDedupK)

  /** Gram width / winnow window for the MOSS fingerprint query — shared
    * with the oracle builder. Detection guarantee: shared runs of
    * ≥ w + k − 1 = 8 tokens always collide on a selected fingerprint. */
  val winnowK: Int = 5
  val winnowW: Int = 4

  /** MOSS-style winnowed-fingerprint candidate pairs ([[operators
    * .TextOps.winnowPairs]]): the published position-thinning lever for
    * substring-level dedup ([[textSubstringDedup]]'s 100 TB path),
    * selection replayed window-by-window in the oracle. */
  def textWinnowPairs(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
      k = winnowK, w = winnowW)

  /** Repetition / boilerplate metrics per document. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text")

  /** Keyword-search query terms for [[bm25Topk]] (shared with the oracle). */
  val bm25Terms: Seq[String] = Seq("spark", "vector", "merge", "customer")

  /** BM25 top-20 keyword search (rational-idf variant, see TextOps). */
  def bm25Topk(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text", bm25Terms)

  /** ANN via sign-bit LSH buckets (6 anchors = 64 buckets over the corpus,
    * sized so buckets hold ~8 vectors) with Hamming-1 multi-probe (the
    * recall lever, on by default in the shipped path), exact cosine rank
    * within the probed buckets, k=3. */
  def annLshTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val out = VectorOps.annTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id").between(480, 485)),
      col("v_id") < 10, k = 3, multiProbe = true, anchorBits = Some(6))
    out.select(col("q_id"), col("rank"), col("n_id"),
      (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** ANN via IVF (k-means coarse quantizer, nprobe=4 of 16 cells) —
    * rows-only: the quantizer is fitted at runtime. */
  def annIvfTopk(s: SparkSession, dir: String): DataFrame =
    VectorOps.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("v_id") < 10, k = 3)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))

  /** Codebook width / rerank depth for the flat-PQ query, shared with
    * the oracle builder — the r13 MEASURED operating point (docs/
    * SCALE.md sweep). The r12 audit measured recall@3 = 0.533 at the
    * old 8×16/rerank-10 point; the sweep showed the binding constraint
    * is ADC RESOLUTION (16 centroids/subspace blur this corpus' cluster
    * structure into score ties), so the fix is 64 centroids/subspace
    * (codes stay 8 bytes; compression 32× vs float32 unchanged) plus
    * rerank 400: measured 1.000 at sf0.01 AND sf0.1 (200 leaves sf0.1
    * at 0.900 — the tie-heavy tail needs the deeper cut). 400 exact
    * re-scores per query is still noise next to the O(N) ADC scan flat
    * PQ runs by definition; its scale path past ~10⁷ rows remains IVF
    * composition ([[annIvfPqTopk]] — higher recall at a fraction of the
    * scan), which the pqTopK scan warning already points at. */
  val annPqCodebookK: Int = 64
  val annPqRerank: Int = 400

  /** ANN via product quantization: 8 subspaces × [[annPqCodebookK]]
    * centroids (driver-trained per-subspace Lloyd, deterministic sample)
    * compress each 64-dim vector to 8 one-byte codes — a 32× scan-size
    * reduction at corpus scale; candidates ranked by the asymmetric
    * (query × reconstructed) similarity, top [[annPqRerank]] re-scored
    * exactly, k=3. */
  def annPqTopk(s: SparkSession, dir: String): DataFrame =
    VectorOps.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("v_id") < 10, k = 3, codebookK = annPqCodebookK,
        rerank = annPqRerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))

  /** Cell count / probe width / rerank depth for the IVF-PQ query,
    * shared with the oracle builder. 256 cells (same ceiling-break as
    * [[semDedupCells]]). nprobe/rerank are the r13 MEASURED operating
    * point (docs/SCALE.md recall-vs-cost sweep): the r12 audit measured
    * recall@3 = 0.767 at the old (16, 10) point; (32, 100) measures
    * 1.000 at sf0.01 and 0.967 at sf0.1 — the knee of the curve, the
    * first configuration clearing the ≥ 0.9 serving bar on both
    * corpora. At a production 10⁴-cell index the same nprobe is a 0.3%
    * probe ratio, and rerank = 100 exact re-scores per query is noise
    * next to the probed-cell ADC scan. */
  val annIvfPqCells: Int = 256
  val annIvfPqNprobe: Int = 32
  val annIvfPqRerank: Int = 100

  /** ANN via IVF-PQ (coarse cells + residual product quantization, the
    * billion-scale composition): candidates ranked by the asymmetric
    * similarity within nprobe=[[annIvfPqNprobe]] of [[annIvfPqCells]]
    * cells over 8×16 residual codebooks, top-10 re-scored exactly, k=3.
    *
    * INDEX-FED (r5, like `dedup_clusters`): the quantizer is fitted and
    * the corpus encoded ONCE into the persisted cell-partitioned
    * [[operators.AnnIndexIO]] artifact; the search reads the loaded index
    * — bit-identical to the inline lineage (spec-proven), minus the
    * per-invocation refit + re-encode. Repeated invocations within one
    * application reuse the artifact.
    *
    * Routed through the ARITY-DISPATCHED entry (r8): build/search pick
    * the flat quantizer below [[operators.VectorOps.HierCellThreshold]]
    * cells and the two-level one at/above it. At the shipped 256 cells
    * this is the flat path (oracle unchanged); a caller asking for 10⁴
    * cells gets the hier assignment automatically —
    * AnnIndexSpec pins both sides of the dispatch bit-identical to the
    * explicit forms. */
  def annIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // the memo key covers input AND quantizer arity, so a parameter
    // change can never silently reuse a stale index
    val idxPath = memoIndex(s, "ann_idx", s"$dir|nCells=$annIvfPqCells") { p =>
      operators.AnnIndexIO.buildAuto(emb, "vec_id", "embedding", p,
        nCells = annIvfPqCells)
    }
    operators.AnnIndexIO.searchAuto(s, idxPath, emb, "vec_id", "embedding",
        col("v_id") < 10, k = 3, nprobe = annIvfPqNprobe,
        rerank = annIvfPqRerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** INCREMENTAL ANN admission ([[operators.AnnIndexIO.appendAuto]]) —
    * the snapshot theme on the vector tier: the quantizer trains on the
    * EXISTING snapshot only (vec_id % 5 ≠ 4), the new batch is admitted
    * through the frozen model (encode + cell-partitioned append, no
    * refit, no rewrite of existing encodings), and the search runs over
    * the combined index. The oracle is the full Lloyd-replay chain with
    * its training CTE restricted to the snapshot — a refit-on-union bug
    * (or an append that re-encodes the old rows) changes the centroids
    * and every downstream row, so the hash pins the admission contract
    * end to end. */
  def annIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 5 === 4
    val idxPath = memoIndex(s, "ann_app",
        s"$dir|append|nCells=$annIvfPqCells") { p =>
      operators.AnnIndexIO.buildAuto(emb.filter(!isNew), "vec_id",
        "embedding", p, nCells = annIvfPqCells)
      operators.AnnIndexIO.appendAuto(s, p, emb.filter(isNew),
        "vec_id", "embedding")
    }
    operators.AnnIndexIO.searchAuto(s, idxPath, emb, "vec_id", "embedding",
        col("v_id") < 10, k = 3, nprobe = annIvfPqNprobe,
        rerank = annIvfPqRerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** INDEX COMPACTION on the vector side ([[operators.AnnIndexIO
    * .compact]]): the [[annIndexAppend]] assembly with the new batch
    * admitted in THREE slices (each append adds files under the touched
    * cell partitions — the fragmentation a daily chain accrues), then
    * the table rewritten into a fresh generation and the same search
    * served. The oracle is [[annIndexAppend]]'s snapshot-trained SQL
    * VERBATIM — compaction moves bytes, never values: encodings, cells,
    * and every search row must be bit-identical across the rewrite or
    * the shared hash breaks. With [[dedupIncrementalCompact]] this puts
    * the file-merge maintenance under a verbatim oracle on BOTH index
    * families. */
  def annIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 5 === 4
    val idxPath = memoIndex(s, "ann_cpt",
        s"$dir|compact|nCells=$annIvfPqCells") { p =>
      operators.AnnIndexIO.buildAuto(emb.filter(!isNew), "vec_id",
        "embedding", p, nCells = annIvfPqCells)
      (0 until 3).foreach { slice =>
        operators.AnnIndexIO.appendAuto(s, p,
          emb.filter(isNew && col("vec_id") % 3 === slice),
          "vec_id", "embedding")
      }
      operators.AnnIndexIO.compact(s, p)
    }
    operators.AnnIndexIO.searchAuto(s, idxPath, emb, "vec_id", "embedding",
        col("v_id") < 10, k = 3, nprobe = annIvfPqNprobe,
        rerank = annIvfPqRerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** INDEX RETRAIN — the maintenance valve for the drift the append
    * path accumulates ([[operators.AnnIndexIO.retrain]], r13 verdict
    * #1): the snapshot index is assembled exactly as [[annIndexAppend]]
    * does (quantizer frozen on vec_id % 5 ≠ 4, new batch admitted
    * through it), then RETRAINED from the full accumulated corpus at
    * the persisted configuration and atomically swapped. The oracle is
    * [[annIvfPqTopk]]'s full-corpus Lloyd-replay SQL VERBATIM — retrain
    * must leave the index indistinguishable from a from-scratch build
    * over everything it has absorbed (centroids, codebooks, every
    * encoding), or the shared hash breaks. The
    * [[annIndexAppend]]/[[annIndexRetrain]] oracle PAIR pins the whole
    * lifecycle: append alone ⇒ the snapshot-trained chain, append +
    * retrain ⇒ the full-corpus chain — same search, two different
    * attested models. */
  def annIndexRetrain(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 5 === 4
    val idxPath = memoIndex(s, "ann_rt",
        s"$dir|retrain|nCells=$annIvfPqCells") { p =>
      operators.AnnIndexIO.buildAuto(emb.filter(!isNew), "vec_id",
        "embedding", p, nCells = annIvfPqCells)
      operators.AnnIndexIO.appendAuto(s, p, emb.filter(isNew),
        "vec_id", "embedding")
      operators.AnnIndexIO.retrain(emb, "vec_id", "embedding", p)
    }
    operators.AnnIndexIO.searchAuto(s, idxPath, emb, "vec_id", "embedding",
        col("v_id") < 10, k = 3, nprobe = annIvfPqNprobe,
        rerank = annIvfPqRerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** OPQ REBUILD — the maintenance valve for the OPQ×IVF index kind
    * [[operators.AnnIndexIO.retrain]] rightly refuses (r14 verdict
    * missing #2: the OPQ families had a drift gauge but no action): the
    * quantizer — rotation, codebooks, coarse cells — is fitted on the
    * SNAPSHOT only (vec_id % 5 ≠ 4, the planted-drift state: 20% of the
    * corpus never influenced the learned rotation and is absent from the
    * index), then [[operators.AnnIndexIO.rebuildOpq]] re-learns
    * everything from the full accumulated corpus at the persisted
    * operating point (`_CONF`) and promotes atomically. The oracle is
    * [[annOpqIvfTopk]]'s planted brute-force SQL VERBATIM — rebuild must
    * leave the artifact indistinguishable from a from-scratch
    * [[operators.AnnIndexIO.buildOpqIvf]] over everything (the
    * deterministic sample makes the Procrustes fit replayable), or the
    * shared hash breaks. With `ann_index_retrain` this puts a hash-pinned
    * retrain valve on every persisted index family. */
  def annIndexRebuildOpq(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.embeddings(s, dir)
      .select(col("vec_id"), opqIvfPlanted(col("vec_id")).as("pv"))
    val n = planted.count()
    val rerank = math.max(20L, (n + annOpqIvfCells - 1) / annOpqIvfCells).toInt
    val isNew = col("vec_id") % 5 === 4
    val idxPath = memoIndex(s, "ann_rbo",
        s"$dir|rebuild_opq|nCells=$annOpqIvfCells") { p =>
      operators.AnnIndexIO.buildOpqIvf(planted.filter(!isNew), "vec_id",
        "pv", p, nCells = annOpqIvfCells)
      operators.AnnIndexIO.rebuildOpq(planted, "vec_id", "pv", p)
    }
    operators.AnnIndexIO.searchOpqIvf(s, idxPath, planted, "vec_id", "pv",
        col("v_id") < 10, k = 3, nprobe = annOpqIvfNprobe,
        rerank = rerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** OPQ×IVF probe-pruned tier — planted-fixture constants (shared with
    * the oracle builder): 25 tight orthogonal-axis clusters of 20
    * members each over dim 64, nCells = 25 so the deterministic k-means
    * init (first 25 ids = 25 distinct clusters) makes the cluster→cell
    * map 1:1 and stable by construction, nprobe 4, rerank 20 ≥ cluster
    * size. */
  val annOpqIvfCells: Int = 25
  val annOpqIvfNprobe: Int = 4

  /** The planted vector: axis `vec_id % 25` at 100 plus a tiny jitter
    * component `0.001·(1 + vec_id % 11)` on axis `40 + vec_id % 8` —
    * within-cluster cosine ≈ 1, cross-cluster ≤ ~10⁻⁴, so the TRUE top-k
    * of every query is provably inside its own cluster and provably
    * survives the probe/rerank cut (own cell probed first, rerank ≥
    * cluster size, asymmetric margin ≈ 1 vs ≈ 0). Integer-derived
    * doubles, mirrored verbatim by the oracle. */
  private[graft] def opqIvfPlanted(c: Column): Column =
    transform(sequence(lit(0), lit(63)), j =>
      when(j.cast("long") === c % 25, lit(100.0))
        .when(j.cast("long") === lit(40L) + c % 8,
          lit(0.001) * (lit(1L) + c % 11).cast("double"))
        .otherwise(lit(0.0)))

  /** The PCA planted construction: three exactly-orthogonal ±sign
    * patterns over `vec_id mod 4` (Rademacher bits b0, b1 and their
    * product) carry variances 16/4/1 on axes 5/17/33; every other
    * axis is CONSTANT `0.25·(j mod 3)` (zero variance, nonzero means —
    * the μμᵀ subtraction must cancel them exactly). All values are
    * small power-of-two multiples and the mod-4 classes are balanced
    * whenever 4 | n, so every empirical moment the one-pass fit
    * aggregates is EXACT (±c partial sums are small integers): the
    * covariance is exactly diagonal, its eigenvectors exactly the
    * planted axes, and the k=2 projection provably equals the signed
    * planted coordinates the oracle states in closed form — at any
    * replication factor (uniform duplication keeps the classes
    * balanced), the [[opqIvfPlanted]] discipline. */
  private[graft] def pcaPlanted(c: Column): Column = {
    val s0 = when(c % 2 === 0, 1.0).otherwise(-1.0)
    val s1 = when(c % 4 < 2, 1.0).otherwise(-1.0)
    transform(sequence(lit(0), lit(63)), j =>
      when(j === 5, lit(4.0) * s0)
        .when(j === 17, lit(2.0) * s1)
        .when(j === 33, s0 * s1)
        .otherwise((j % 3).cast("double") * lit(0.25)))
  }

  /** Distributed PCA reduction over the embedding column
    * ([[operators.VectorOps.pcaFit]]/[[operators.VectorOps.pcaApply]]) —
    * the dimensionality-reduction stage a quantized ANN pipeline runs
    * before indexing (FAISS PCAR). One moment-aggregate pass fits the
    * model; the apply side is k native dot-product kernels. The
    * eigendecomposition cannot be replayed in SQL, so the oracle is
    * the planted kind ([[pcaPlanted]]): top-2 eigenvalues are exactly
    * (16, 4) and the projections exactly the signed planted
    * coordinates, which the oracle computes directly from `vec_id`. */
  def embPcaReduce(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.embeddings(s, dir)
      .select(col("vec_id"), pcaPlanted(col("vec_id")).as("pv"))
    val model = operators.VectorOps.pcaFit(planted, "pv", k = 2)
    operators.VectorOps.pcaApply(planted, "pv", model)
      .select(col("vec_id"),
        (round(col("p1"), 6) + 0.0).as("p1"),
        (round(col("p2"), 6) + 0.0).as("p2"),
        (round(lit(model.eigenvalues(0)), 6) + 0.0).as("ev1"),
        (round(lit(model.eigenvalues(1)), 6) + 0.0).as("ev2"))
  }

  /** ANN via OPQ composed with the IVF coarse quantizer
    * ([[operators.AnnIndexIO.buildOpqIvf]]/[[operators.AnnIndexIO
    * .searchOpqIvf]]): the learned rotation as a pre-transform over the
    * cell-partitioned flat layout, so OPQ's accuracy rides the
    * probe-pruned regime. The OPQ rotation fit (alternating
    * Procrustes SVD) cannot be replayed in SQL, so the oracle is the
    * PLANTED-RECALL kind (the m9 discipline): the fixture guarantees
    * the composed search returns the exact brute-force top-3 — own cell
    * probed, every same-cluster member survives the rerank cut, exact
    * re-rank on original vectors — and the oracle computes that
    * brute-force top-3 directly. Any engine bug that drops a true
    * neighbor (bad rotation plumbing, mis-probed cell, wrong residual
    * reconstruction) breaks the hash. */
  def annOpqIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.embeddings(s, dir)
      .select(col("vec_id"), opqIvfPlanted(col("vec_id")).as("pv"))
    // rerank = the planted CLUSTER SIZE (⌈N/25⌉): the exact-recall
    // guarantee needs every same-cluster member to survive the
    // asymmetric cut, so the cut is corpus-derived — the oracle stays
    // green at any replication factor (10×/100× standing runs), not
    // just the shipped 500 rows. CEILING division: when N % 25 ≠ 0 the
    // fuller clusters hold ⌊N/25⌋+1 members and a floor cut could drop
    // a true top-3 neighbor at the approximate stage. One count() job.
    val n = planted.count()
    val rerank = math.max(20L, (n + annOpqIvfCells - 1) / annOpqIvfCells).toInt
    val idxPath = memoIndex(s, "ann_opqivf",
        s"$dir|opq_ivf|nCells=$annOpqIvfCells") { p =>
      operators.AnnIndexIO.buildOpqIvf(planted, "vec_id", "pv", p,
        nCells = annOpqIvfCells)
    }
    operators.AnnIndexIO.searchOpqIvf(s, idxPath, planted, "vec_id", "pv",
        col("v_id") < 10, k = 3, nprobe = annOpqIvfNprobe,
        rerank = rerank)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** Two-level ANN arity (shared with the oracle builder): 100×100
    * supers × children — k1·k2 = 10⁴ NOMINAL cells, the regime the
    * two-level design exists for (r7 verdict #1: the hier path must be
    * attested at its claimed arity, not at the flat path's 256) — probed
    * 4-super/16-cell wide. Per-query assignment cost is
    * O((k1 + probeSupers·k2)·dim) ≈ 500 distance kernels instead of the
    * flat O(k1·k2·dim) = 10⁴. POPULATED cells are bounded by the sample
    * (each fitted child has ≥1 sample member), so small-sf runs fit
    * fewer effective cells; the plan shape and the per-row cost are what
    * the arity exercises, and the 10×-corpus standing oracle
    * (docs/SCALE.md) attests it where cells actually fill.
    *
    * probeSupers/nprobe/rerank are the r13 MEASURED operating point
    * (docs/SCALE.md sweep): the old 4-super/16-cell/rerank-10 probe
    * measured recall@3 = 0.767 at sf0.01; (12, 64, 100) measures 0.967
    * at BOTH sf0.01 and sf0.1 — the curve's plateau (wider probes buy
    * nothing more on either corpus). At the nominal 10⁴-cell arity the
    * probe still touches only 64 cells = 0.64% of the corpus. */
  val annIvfPqHierK1: Int = 100
  val annIvfPqHierK2: Int = 100
  val annIvfPqHierProbeSupers: Int = 12
  val annIvfPqHierNprobe: Int = 64
  val annIvfPqHierRerank: Int = 100

  /** ANN via the TWO-LEVEL IVF-PQ ([[operators.VectorOps.ivfPqHierTopK]]):
    * hier coarse quantizer + residual PQ + joint child ranking across the
    * probed supers, exact re-rank, k=3 — oracle-attested end to end (the
    * hier-cells chain composed with the grouped residual-PQ replay).
    *
    * INDEX-FED (r9, same amortization as [[annIvfPqTopk]]): the hier
    * quantizer fit + corpus encode happen ONCE into the persisted
    * cell-partitioned artifact via the arity-dispatched [[operators
    * .AnnIndexIO.buildAuto]] (nCells = k1·k2 = 10⁴ ⇒ the hier path,
    * k1 = k2 = ⌈√10⁴⌉ = 100 — the same arity as the inline form);
    * repeated searches reuse it. AnnIndexSpec pins buildAuto+searchAuto
    * bit-identical to the inline [[operators.VectorOps.ivfPqHierTopK]],
    * so the inline-lineage oracle attests the served plan too. */
  def annIvfPqHierTopk(s: SparkSession, dir: String): DataFrame = {
    require(operators.VectorOps.hierArity(annIvfPqHierK1 * annIvfPqHierK2)
      == annIvfPqHierK1 && annIvfPqHierK1 == annIvfPqHierK2,
      "index-fed arity must match the inline/oracle form")
    val emb = Tables.embeddings(s, dir)
    val nCells = annIvfPqHierK1 * annIvfPqHierK2
    val idxPath = memoIndex(s, "ann_idx", s"$dir|nCells=$nCells") { p =>
      operators.AnnIndexIO.buildAuto(emb, "vec_id", "embedding", p,
        nCells = nCells)
    }
    operators.AnnIndexIO.searchAuto(s, idxPath, emb, "vec_id", "embedding",
        col("v_id") < 10, k = 3, nprobe = annIvfPqHierNprobe,
        rerank = annIvfPqHierRerank,
        probeSupers = annIvfPqHierProbeSupers)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("sim"), 6) + 0.0).as("sim"))
  }

  /** k for the [[annRecallAudit]] rows — the tiers' own serving k. */
  val annRecallK: Int = 3

  /** Measured recall@k for the QUANTIZED ANN tiers (r11 verdict #4):
    * PQ, IVF-PQ, two-level IVF-PQ, and OPQ×IVF each serve approximate
    * top-k whose recall was an argument, not a number — this audit
    * reports it against the exact brute-force truth ([[operators
    * .VectorOps.bruteTopK]], the `sim_brute_topk` chain). One row per
    * tier: `hits` = approximate neighbors that are true top-k neighbors,
    * `recall` = hits / |truth|. The three real-corpus tiers audit
    * against the embedding-table truth; OPQ×IVF audits against the
    * brute-force truth over its own planted corpus (where its
    * construction guarantees — and this MEASURES — recall 1.0).
    * Audit-scale by contract: the truth side is a broadcast(10-query) ×
    * corpus scan, linear in the corpus like the serving tiers
    * themselves. */
  def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val truthEmb = CacheRegistry.persistTracked(
      VectorOps.bruteTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", annRecallK)
        .select(col("q_id"), col("n_id")))
    val planted = emb.select(col("vec_id"), opqIvfPlanted(col("vec_id")).as("pv"))
    val truthPl = VectorOps.bruteTopK(planted.filter(col("vec_id") < 10),
        planted, "vec_id", "pv", annRecallK)
      .select(col("q_id"), col("n_id"))
    recallRow("pq", annPqTopk(s, dir), truthEmb)
      .unionByName(recallRow("ivf_pq", annIvfPqTopk(s, dir), truthEmb))
      .unionByName(recallRow("ivf_pq_hier", annIvfPqHierTopk(s, dir), truthEmb))
      .unionByName(recallRow("opq_ivf", annOpqIvfTopk(s, dir), truthPl))
  }

  /** One audit row: recall@[[annRecallK]] of `approx` against `truth`
    * (both (q_id, n_id) sets). Shared by [[annRecallAudit]] and
    * [[annOpqRealRecall]]. */
  private def recallRow(tier: String, approx: DataFrame,
                        truth: DataFrame): DataFrame = {
    val hits = approx.select(col("q_id"), col("n_id"))
      .join(truth, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val denom = truth.agg(
      countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_truth"))
    hits.crossJoin(denom).select(
      lit(tier).as("tier"), col("n_queries"), lit(annRecallK).as("k"),
      col("hits"),
      (round(col("hits").cast("double") / col("n_truth"), 6) + 0.0)
        .as("recall"))
  }

  /** Cells / probe width / rerank for the REAL-corpus learned-OPQ tier —
    * the r13 measured operating point (docs/SCALE.md sweep): recall@3 =
    * 1.000 at both sf0.01 and sf0.1. Same arity as the flat IVF-PQ tier
    * so the two numbers are directly comparable (what the rotation buys
    * at equal probe cost). */
  val annOpqRealCells: Int = 256
  val annOpqRealNprobe: Int = 32
  val annOpqRealRerank: Int = 100

  /** Shared operating floor for the learned-OPQ real-corpus tier: the
    * AnnIndexSpec contract floor, the r13 sweep's measured 1.000 at
    * sf0.01/sf0.1 sits far above it. Shared with the oracle builder so
    * the stated floor can't drift from the asserted one. */
  val annOpqRealFloor: Double = 0.9

  /** Recall FLOOR attestation for the LEARNED-rotation OPQ×IVF tier on
    * the REAL embedding table (r12 verdict #4; r13 verdict wrong #2) —
    * the fifth number next to [[annRecallAudit]]'s four, emitted as a
    * CLOSED-FORM row the driver gate can hash: `(tier, n_queries, k,
    * recall_floor, recall_ok)` where `recall_ok` is the engine's
    * measured recall@k against the exact brute-force truth compared to
    * [[annOpqRealFloor]], and the oracle states the whole row in closed
    * form (`recall_ok = true`). The OPQ rotation fit (alternating
    * Procrustes SVD, Breeze, driver-side) is the one ANN stage DuckDB
    * cannot replay, so the measured VALUE cannot be hash-pinned — but
    * the floor CONTRACT can: any regression that drops measured recall
    * below the floor flips the boolean and breaks the hash. The
    * measured value itself stays attested by the AnnIndexSpec floor
    * test, the docs/SCALE.md sweep (sf0.01 and sf0.1), and the 10×
    * standing (tools/ann_recall_check.py tier split). */
  def annOpqRealRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val truth = CacheRegistry.persistTracked(
      VectorOps.bruteTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", annRecallK)
        .select(col("q_id"), col("n_id")))
    val idxPath = memoIndex(s, "ann_opqreal",
        s"$dir|opq_real|nCells=$annOpqRealCells") { p =>
      operators.AnnIndexIO.buildOpqIvf(emb, "vec_id", "embedding", p,
        nCells = annOpqRealCells)
    }
    val approx = operators.AnnIndexIO.searchOpqIvf(s, idxPath, emb,
      "vec_id", "embedding", col("v_id") < 10, k = annRecallK,
      nprobe = annOpqRealNprobe, rerank = annOpqRealRerank)
    recallRow("opq_ivf_real", approx, truth)
      .select(col("tier"), col("n_queries"), col("k"),
        (lit(annOpqRealFloor) + 0.0).as("recall_floor"),
        (col("recall") >= annOpqRealFloor).as("recall_ok"))
  }

  /** OPQ INCREMENTAL APPEND ([[operators.AnnIndexIO.appendOpq]]) — the
    * admission path for the OPQ×IVF family [[operators.AnnIndexIO
    * .appendAuto]] refuses, closing the last lifecycle asymmetry (every
    * persisted kind builds → appends → is monitored → is maintained): the
    * rotation/codebooks/coarse quantizer are FROZEN on the snapshot
    * (vec_id % 5 ≠ 4), the new batch is admitted through them (encode +
    * cell-partitioned append, no refit, no rewrite), and the search runs
    * over the combined index. The Procrustes rotation is not
    * SQL-replayable, so the row is the CLOSED-FORM floor contract
    * ([[annOpqRealRecall]]'s discipline): measured recall@k against the
    * exact brute-force truth over the FULL corpus (incl. the appended
    * rows — admitted vectors must be findable) compared to the shared
    * floor; a frozen-model admission bug that loses appended rows or
    * degrades the probe flips the boolean and breaks the hash. The
    * bit-level admission contract (append ≡ union encode under the
    * frozen model) is AnnIndexSpec-pinned. */
  def annIndexAppendOpq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 5 === 4
    val truth = CacheRegistry.persistTracked(
      VectorOps.bruteTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", annRecallK)
        .select(col("q_id"), col("n_id")))
    val idxPath = memoIndex(s, "ann_opqapp",
        s"$dir|opq_append|nCells=$annOpqRealCells") { p =>
      operators.AnnIndexIO.buildOpqIvf(emb.filter(!isNew), "vec_id",
        "embedding", p, nCells = annOpqRealCells)
      operators.AnnIndexIO.appendOpq(s, p, emb.filter(isNew),
        "vec_id", "embedding")
    }
    val approx = operators.AnnIndexIO.searchOpqIvf(s, idxPath, emb,
      "vec_id", "embedding", col("v_id") < 10, k = annRecallK,
      nprobe = annOpqRealNprobe, rerank = annOpqRealRerank)
    recallRow("opq_ivf_append", approx, truth)
      .select(col("tier"), col("n_queries"), col("k"),
        (lit(annOpqRealFloor) + 0.0).as("recall_floor"),
        (col("recall") >= annOpqRealFloor).as("recall_ok"))
  }

  /** Shared with the oracle builder so the threshold can't drift. */
  val semDedupThreshold: Double = 0.45

  /** Coarse-cell count for the SemDeDup and IVF-PQ queries — shared
    * with the oracle builder. 256 (vs the old 16): the quantizer
    * ceiling the r5/r6 verdicts flagged is gone now that the centroid
    * matrix is ONE literal (plan size no longer grows with nCells), and
    * the SemDeDup recipe wants cells small enough that the intra-cell
    * quadratic stays bounded — Σ(N/nCells)² at 10⁹ rows needs nCells in
    * the 10⁴–10⁵ range, which the two-level [[operators.VectorOps
    * .hierKmeans]] path reaches (see `emb_semdedup_hier`). */
  val semDedupCells: Int = 256

  /** SemDeDup — semantic dedup over embeddings (Abbas et al. 2023):
    * deterministic coarse k-means cells ([[semDedupCells]] of them),
    * then within each cell the lower-id near-duplicate rule at cosine ≥
    * [[semDedupThreshold]] — one representative per semantic-duplicate
    * chain survives. Quadratic work bounded per cell AND per member by
    * the hot-cell cap (128: inert at bench scale, a straggler guard at
    * corpus scale); cell assignment is single-literal-matrix codegen
    * (no join, no shuffle). */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    VectorOps.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = semDedupThreshold, nCells = semDedupCells,
      maxCellCompare = Some(semDedupCellCap))

  /** Hot-cell comparison cap, shared with the oracle builder. */
  val semDedupCellCap: Int = 128

  /** CLUSTER-BALANCED embedding mixture ([[operators.VectorOps
    * .clusterMixture]]): the τ=1/2 temperature rebalance applied to
    * SEMANTIC cells instead of source labels — the quantizer chain is
    * the `emb_semdedup` one (same [[semDedupCells]] arity, so the
    * oracle reuses the attested Lloyd replay), the rate/threshold
    * arithmetic is `sample_mixture`'s. Over-represented semantic
    * regions down-sample at sqrt(c_min/c); the keep decision is the
    * shared salted-hash threshold, bit-deterministic. */
  def embClusterMixture(s: SparkSession, dir: String): DataFrame =
    VectorOps.clusterMixture(Tables.embeddings(s, dir), "vec_id",
      "embedding", nCells = semDedupCells, salt = "cm42")

  /** SemDeDup over the TWO-LEVEL quantizer (100×100 supers×children,
    * k1·k2 = 10⁴ nominal cells — the regime the SemDeDup recipe actually
    * wants at 10⁹ rows, and the arity the r7 verdict required the
    * shipped query to exercise) — the same keep-first semantics as
    * `emb_semdedup` with the O((k1+k2)·dim) assignment instead of
    * O(k1·k2·dim); oracle-attested via the grouped two-level Lloyd
    * replay, at sf AND at the 10× corpus (docs/SCALE.md). */
  def semDedupHier(s: SparkSession, dir: String): DataFrame =
    VectorOps.semDedupHier(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = semDedupThreshold, k1 = semDedupHierK1, k2 = semDedupHierK2,
      maxCellCompare = Some(semDedupCellCap))

  /** Two-level quantizer arity, shared with the oracle builder. */
  val semDedupHierK1: Int = 100
  val semDedupHierK2: Int = 100

  /** Embedding near-duplicate pairs with cosine ≥ 0.45 (threshold sized to
    * the synthetic corpus' similarity tail): banded sign-LSH candidates
    * (16 literal anchors = 4 bands × 4 bits) → exact-cosine verification.
    * The brute all-pairs form remains in VectorOps as the baseline. */
  def embNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.nearDupPairsLsh(emb, "vec_id", "embedding",
        col("vec_id").between(400, 415), bands = 4, rowsPerBand = 4, 0.45,
        multiProbe = true)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Dedup (clusters): the pair→cluster step a real dedup pass needs —
    * MinHash/LSH near-dup pairs (est. Jaccard ≥ 0.25, the shipped
    * `dedup_minhash_lsh` composition) → connected components via
    * large-star/small-star (O(log n) rounds, chain-proof) → canonical
    * cluster id = min doc id of the component; `is_keeper` marks the
    * representative. Every document appears: singletons cluster to
    * themselves.
    *
    * Index-fed: the corpus is shingled ONCE into the persisted LSH band
    * table ([[operators.LshIndexIO]]) and the pair join reads the loaded
    * artifact — the composed pipeline (pairs + clusters + any audit)
    * costs one corpus scan, not one per consumer. Pair values are
    * bit-identical to the inline lineage (Parquet round-trips the
    * long/array columns exactly), so the hash oracle is unchanged. */
  /** INCREMENTAL snapshot dedup ([[operators.LshIndexIO.probe]]): the
    * corpus is split into an EXISTING snapshot (sources src0-src14,
    * built + persisted as the LSH band index) and a NEW batch
    * (src15-src19, 25% of docs); the batch is probed against the index
    * artifact — every candidate pair touching the new batch, none of
    * the already-decided old×old pairs. The 100 TB admission shape:
    * snapshot N+1's dedup cost is one batch shingle pass + one band
    * join against the stored index, not a corpus re-pair.
    *
    * The oracle replays the full-corpus band CTEs (shared with
    * `dedup_minhash_lsh` — union-capped buckets, identical constants)
    * and restricts to new-touching pairs, which IS the operator's
    * semantics pin: incremental ≡ from-scratch, restricted. */
  /** The dedup_incremental snapshot split, shared by query + fixture. */
  private def incIsNew = substring(col("source"), 4, 10).cast("int") >= 15

  /** Builds (or rebuilds) the snapshot index — the SETUP a production
    * run pays once at snapshot N, so the bench attributes it as fixture
    * cost via the [[fixtureFrames]] entry; the probe is the engine. */
  private def incIdxBuild(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_inc_$tag"
    operators.LshIndexIO.build(docs.filter(!incIsNew), "doc_id", "text",
      idxPath)
    idxPath
  }

  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val idxPath = incIdxBuild(s, dir)
    operators.LshIndexIO.probe(s, idxPath,
      Tables.documents(s, dir).filter(incIsNew), "doc_id", "text")
  }

  /** The same probe with the snapshot index assembled THROUGH the
    * append path — two generations (src0-9 built, src10-14 appended as
    * snapshot N's own admission), then the src15-19 batch probed. The
    * oracle is [[dedupIncremental]]'s SQL VERBATIM: append must leave
    * the index indistinguishable from a from-scratch build over
    * src0-14 (partition placement, row completeness, band values), or
    * the shared hash breaks. Attests the generational shape a real
    * snapshot chain accumulates: build once, append every batch
    * thereafter. */
  /** Two-generation index assembly (build src0-9, append src10-14) —
    * shared by the query and its bench fixture entry. */
  private def genIdxBuild(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val gen = substring(col("source"), 4, 10).cast("int")
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|gen".getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_gen_$tag"
    operators.LshIndexIO.build(docs.filter(gen < 10), "doc_id", "text",
      idxPath)
    operators.LshIndexIO.append(
      docs.filter(gen >= 10 && gen < 15), "doc_id", "text", idxPath)
    idxPath
  }

  def dedupIncrementalAppend(s: SparkSession, dir: String): DataFrame = {
    val idxPath = genIdxBuild(s, dir)
    operators.LshIndexIO.probe(s, idxPath,
      Tables.documents(s, dir)
        .filter(substring(col("source"), 4, 10).cast("int") >= 15),
      "doc_id", "text")
  }

  /** The same probe against an index COMPACTED after its append chain
    * ([[operators.LshIndexIO.compact]], r13 verdict #1 — the valve for
    * the small-file pressure [[dedupIndexStats]] gauges): the
    * two-generation assembly of [[dedupIncrementalAppend]], then the
    * band partitions rewritten into a fresh generation (atomic swap),
    * then the src15+ batch probed. The oracle is [[dedupIncremental]]'s
    * SQL VERBATIM — the third query on one shared hash: from-scratch
    * build, build+append, and build+append+compact must all present the
    * identical index to a probe (row completeness, band values,
    * partition semantics), or maintenance is corrupting the artifact. */
  private def compactIdxBuild(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val gen = substring(col("source"), 4, 10).cast("int")
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|compact".getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_cpt_$tag"
    operators.LshIndexIO.build(docs.filter(gen < 10), "doc_id", "text",
      idxPath)
    operators.LshIndexIO.append(
      docs.filter(gen >= 10 && gen < 15), "doc_id", "text", idxPath)
    idxPath
  }

  def dedupIncrementalCompact(s: SparkSession, dir: String): DataFrame = {
    val idxPath = compactIdxBuild(s, dir)
    operators.LshIndexIO.compact(s, idxPath)
    operators.LshIndexIO.probe(s, idxPath,
      Tables.documents(s, dir).filter(incIsNew), "doc_id", "text")
  }

  /** LSH index-health monitor ([[operators.LshIndexIO.stats]]) — the
    * text tier's occupancy/skew/cap-pressure row, the "compact or
    * re-shingle" maintenance signal (the ANN tier's occupancyStats,
    * applied to bands). Build the full-corpus band index, then one
    * aggregate over it; the oracle replays bucket occupancies from the
    * shared (uncapped) band CTEs, with mean/skew derived from the exact
    * integer aggregates so the doubles are bit-deterministic. */
  def dedupIndexStats(s: SparkSession, dir: String): DataFrame = {
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|stats".getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_stats_$tag"
    operators.LshIndexIO.build(Tables.documents(s, dir), "doc_id", "text",
      idxPath)
    operators.LshIndexIO.stats(s, idxPath)
  }

  /** The reshingle actuator's target k — shared with the oracle builder
    * (the parameterized band-CTE chain at k = 4 instead of the default
    * 3), so the stated generation can't drift from the built one. */
  val reshingleK: Int = 4

  /** RESHINGLE under its own hash ([[operators.LshIndexIO.reshingle]] —
    * the `capped_buckets` actuator): a k=3 generation built, then
    * re-shingled to k=[[reshingleK]] (full corpus pass into a fresh
    * generation, atomic swap), then candidate pairs served from the
    * NEW generation. The oracle replays the entire band chain AT k=4 —
    * a reshingle that left stale k=3 rows behind, mixed generations, or
    * mis-parameterized the shingle width changes the pair set and
    * breaks the hash. (The spec additionally pins reshingle ≡
    * from-scratch build at the new k, frame-identical.) */
  def dedupReshingle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|reshingle".getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_rs_$tag"
    operators.LshIndexIO.build(docs, "doc_id", "text", idxPath)
    operators.LshIndexIO.reshingle(docs, "doc_id", "text", idxPath,
      shingleK = reshingleK)
    operators.LshIndexIO.pairs(s, idxPath)
  }

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // per-corpus artifact path, overwritten on rebuild — repeated
    // invocations within one application reuse one location instead of
    // leaking a fresh temp dir each run. The DEFAULT base is private to
    // this application (a createTempDirectory made once per JVM): a
    // fixed world-shared /tmp name would let two concurrent processes
    // overwrite each other's band files mid-scan, and is a symlink
    // hazard on multi-user hosts. Cluster deployments that WANT
    // cross-run index sharing set spark.graft.lsh.indexDir explicitly.
    val base = s.conf.getOption("spark.graft.lsh.indexDir")
      .getOrElse(Queries.privateIndexBase)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val idxPath = s"$base/graft_lsh_idx_$tag"
    operators.LshIndexIO.build(docs, "doc_id", "text", idxPath)
    val pairs = operators.LshIndexIO.pairs(s, idxPath)
    val comp = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc")
    docs.select(col("doc_id").cast("long").as("doc"))
      .join(comp, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("component"), col("doc")).as("cluster_id"),
        (coalesce(col("component"), col("doc")) === col("doc")).as("is_keeper"))
  }

  /** Exact phrase serving over the persisted positional inverted index
    * ([[operators.TextOps.buildPostings]]/[[operators.TextOps
    * .phraseSearch]]): two phrases (a 2-term and a 3-term) answered
    * from ONE index build — each search reads only its terms' hash
    * buckets (foldable `tb` predicate → partition pruning at listing
    * time) and joins posting streams on `(doc, pos+j)`. The oracle
    * replays phrase occurrence positions by direct token-slice scan,
    * so a broken index layout, bucket routing, or join offset breaks
    * the hash. */
  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idxPath = memoIndex(s, "postings", s"$dir|postings") { p =>
      TextOps.buildPostings(docs, "doc_id", "text", p)
    }
    def hits(phrase: Seq[String]): DataFrame =
      TextOps.phraseSearch(s, idxPath, phrase)
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("pos")).cast("long").as("first_pos"))
        .withColumn("phrase", lit(phrase.mkString(" ")))
    hits(Seq("fast", "table"))
      .unionByName(hits(Seq("big", "order", "scan")))
      .select(col("phrase"), col("doc"), col("n_matches"), col("first_pos"))
  }

  /** Near-dup cluster REPRESENTATIVE selection: production dedup keeps
    * the best member of each duplicate cluster, not an arbitrary one —
    * the keep rule here is highest [[operators.TextOps.qualityScore]]
    * (ties → lowest doc id), composed over the [[dedupClusters]]
    * lineage (LSH pairs → connected components). Emits the full remap
    * table: every doc with its cluster, quality, the cluster's chosen
    * `rep_doc`, and `is_rep` — downstream joins rewrite references to
    * dropped near-dups through `rep_doc` (the J4 cluster-representative
    * semantics applied to the text-dedup family).
    *
    * Scale: one window over `cluster_id` (group size = near-dup cluster
    * size, bounded by the LSH band caps upstream) after an equi-join of
    * two corpus-sized frames on `doc` — no new quadratic surface. */
  def dedupClusterRep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(s, dir).select("doc", "cluster_id")
    val q = TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc").cast("long").as("doc"), col("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc"))
    clusters.join(q, Seq("doc"))
      .withColumn("rep_doc", first("doc").over(w))
      .select(col("doc"), col("cluster_id"), col("quality"),
        col("rep_doc"), (col("rep_doc") === col("doc")).as("is_rep"))
  }

  /** Corpus curation: deterministic stratified sampling — language-ID the
    * corpus, then down-sample the dominant strata (en 0.5, es 0.8) with a
    * salted md5-threshold keep rule. Zero shuffle, bit-reproducible across
    * re-runs and engines (what a memoized 100 TB pipeline needs from its
    * sampler). */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val lang = TextOps.langId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc"), col("lang_pred"))
    SampleOps.stratified(lang, "doc", "lang_pred", sampleRates,
      defaultRate = 1.0, salt = "s42")
  }

  /** Shared with the oracle builder so rates can't drift. */
  val sampleRates: Map[String, Double] = Map("en" -> 0.5, "es" -> 0.8)

  /** Corpus curation: temperature-rebalanced mixture sampling — rates
    * DERIVED from the corpus's own language counts (`sqrt(c_min/c_s)`,
    * τ = 1/2) instead of hand-tuned, [[operators.SampleOps
    * .mixtureTemperature]]. The oracle recomputes the counts, the rates,
    * and the integer threshold from the same parquet — auditing that the
    * whole derivation (not just the keep rule) is engine-portable. */
  def sampleMixture(s: SparkSession, dir: String): DataFrame = {
    val lang = TextOps.langId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc"), col("lang_pred"))
    SampleOps.mixtureTemperature(lang, "doc", "lang_pred", salt = "m42")
      .select(col("doc"), col("lang_pred"), col("rate"))
  }

  /** Shard count for the balanced writer — shared with the oracle. */
  val balancedShardCount: Int = 16

  /** Balanced shard assignment ([[operators.SampleOps.balancedShards]]):
    * serpentine placement over the global token-count rank (computed by
    * the two-pass distributed-rank recipe), per-shard token totals
    * near-equal by construction. The oracle replays the rank with a
    * plain global row_number and the same snake arithmetic. */
  def shardBalance(s: SparkSession, dir: String): DataFrame =
    SampleOps.balancedShards(Tables.documents(s, dir), "doc_id", "text",
      numShards = balancedShardCount)

  /** Corpus curation: doc-level sequence packing — per-shard
    * concat-and-chunk layout (ctx 2048 tokens, 32 shards), embarrassingly
    * parallel across shards. */
  def packChunks(s: SparkSession, dir: String): DataFrame =
    SampleOps.packChunks(Tables.documents(s, dir), "doc_id", "text")

  /** Sequence packing with EXACT merge-BPE budgets: the same per-shard
    * concat-and-chunk layout as `pack_chunks`, but token counts come
    * from the greedy merge-table tokenizer instead of the chars/4
    * estimate — context budgets are real. The oracle feeds the full
    * recursive-CTE BPE replay into the pack arithmetic. */
  def packChunksBpe(s: SparkSession, dir: String): DataFrame =
    SampleOps.packChunks(Tables.documents(s, dir), "doc_id", "text",
      tokenCount = Some(TextOps.mergeBpeTokenCount(col("text"))))

  /** EXACT merge-table BPE tokenization: greedy lowest-rank merges over
    * GPT-2-style pre-tokens against the engine's built-in merge table
    * (native kernel, row-local — one scan at any corpus size). The oracle
    * replays the full greedy merge loop one step per recursive-CTE
    * iteration, so this hash-checks the ALGORITHM, not just a count. */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").cast("long").as("doc"),
      TextOps.mergeBpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** P8: quaternion → Euler angles (RealSense remap, odometry.py:176-193)
    * over a synthetic normalized quaternion from event columns. */
  def quatEuler(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).select(col("event_id"),
      (col("value") / 200.0).as("w0"),
      ((col("user_id") % 10) / 10.0 - 0.5).as("x0"),
      ((col("event_id") % 7) / 7.0 - 0.5).as("y0"),
      lit(0.3).as("z0"))
    val n = sqrt(col("w0") * col("w0") + col("x0") * col("x0") +
      col("y0") * col("y0") + col("z0") * col("z0"))
    val nq = base.select(col("event_id"), (col("w0") / n).as("w"),
      (col("x0") / n).as("x"), (col("y0") / n).as("y"), (col("z0") / n).as("z"))
    val (pitch, roll, yaw) = OdometryOps.quatToEuler(
      col("w"), col("x"), col("y"), col("z"))
    // + 0.0 normalizes IEEE -0.0 → 0.0 (DuckDB's round keeps the sign,
    // Spark's BigDecimal path drops it)
    nq.select(col("event_id"), (round(pitch, 6) + 0.0).as("pitch"),
      (round(roll, 6) + 0.0).as("roll"), (round(yaw, 6) + 0.0).as("yaw"))
  }

  /** The COMPOSED curation pipeline — the end-to-end pass a training-data
    * run makes over a raw corpus, as ONE lineage:
    *
    *   1. exact dedup (keep min doc_id per md5(text) — one shuffle),
    *   2. benchmark decontamination (src0 = eval set, broadcast shingle
    *      set, no corpus shuffle; docs sharing ≥ 5 shingles drop —
    *      tuned above the synthetic corpus' heavy phrase reuse so the
    *      gate removes the worst ~20%, not 85%),
    *   3. PII scrub (row-local regex),
    *   4. quality gate on the SCRUBBED text (keep composite ≥ 0.6),
    *   5. language ID + deterministic stratified down-sampling
    *      (en 0.5 / es 0.8, salted md5 threshold — zero shuffle).
    *
    * Total shuffles: the dedup window, the decontamination hit-groupBy,
    * and the stage joins on `doc` — everything else is scan-local, which
    * is what makes the composition viable at 100 TB. The oracle replays
    * all five stages as composed CTEs, so the hash checks stage ORDER
    * and interaction (e.g. quality is scored on scrubbed text), not just
    * each stage alone. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wdup = Window.partitionBy(md5(col("text").cast("binary")))
      .orderBy(col("doc_id"))
    val uniq = docs.withColumn("_rn", row_number().over(wdup))
      .filter(col("_rn") === 1).drop("_rn")
    val clean = TextOps.decontaminate(
        uniq.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text",
        minOverlap = 5)
      .filter(!col("contaminated")).select(col("doc"))
      .join(uniq.select(col("doc_id").cast("long").as("doc"), col("text")),
        "doc")
    val scrubbed = TextOps.piiScrub(clean, "doc", "text")
      .select(col("doc"), col("scrubbed"))
    // r17 (guide §2.4): quality, token estimate, and language are all
    // ROW-LOCAL columns of the scrubbed text (the shared qualityCol /
    // estTokensCol / langPredCol definitions — value-identical to the
    // operator frames), so the gate → langid → sample tail runs as one
    // projection chain; the pre-r17 form re-joined the corpus to itself
    // twice (kept⋈scrubbed, sampled⋈kept) just to re-attach columns.
    val gated = scrubbed.select(col("doc"), col("scrubbed"),
        TextOps.qualityCol(col("scrubbed")).as("_q"))
      .filter(col("_q") >= 0.6)
    val enriched = gated.select(col("doc"), col("scrubbed"), col("_q"),
      TextOps.estTokensCol(col("scrubbed")).as("est_tokens"),
      TextOps.langPredCol(col("scrubbed")).as("lang_pred"))
    SampleOps.stratified(enriched, "doc", "lang_pred", sampleRates,
        defaultRate = 1.0, salt = "s42")
      .select(col("doc"), col("lang_pred"),
        (round(col("_q"), 6) + 0.0).as("quality"),
        col("est_tokens"),
        md5(col("scrubbed").cast("binary")).as("scrub_hash"))
  }

  // ------------------------------------------------------------ CV kernels

  /** FIXTURE-synthesis lineages, keyed by entry name — each entry is the
    * exact planted-media frame the same-named query consumes (the
    * plantMedia/plantAudio call from the query body, nothing more). The
    * bench drains these separately so `docs/bench_r<N>.json` can
    * attribute a media query's wall time between fixture rendering
    * (PNG/WAV encode — pure test scaffolding, absent in production where
    * media arrives as bytes) and the actual decode→detect query work.
    * Attribution only: queries still synthesize inline, and their
    * recorded times keep cross-round comparability. */
  val fixtureFrames: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.multimodal.{AudioOps, MultimodalOps, VisionFixtures}
    def media(kind: String)(s: SparkSession, dir: String): DataFrame =
      VisionFixtures.plantMedia(Tables.documents(s, dir), "doc_id", kind)
    Map(
      "cv_pupil" -> media("pupil") _,
      "cv_pupil_contour" -> media("pupil") _,
      "mm_resize_luminance" -> media("pupil") _,
      "cv_checkerboard" -> media("checkerboard") _,
      "cv_circles" -> media("circles") _,
      "cv_multi_markers" -> media("multi_markers") _,
      "cv_video_pupils" -> media("video") _,
      "a9_frame_luminance" -> media("video") _,
      "cv_video_png" -> media("video_png") _,
      "cv_video_avi" -> media("video_avi") _,
      "cv_video_mp4" -> media("video_mp4") _,
      "mm_mp4_meta" -> media("video_mp4_avc") _,
      "cv_video_mp4_frag" -> media("video_mp4_frag") _,
      "mm_mp4_frag_meta" -> media("video_mp4_frag_avc") _,
      "mm_video_meta" -> media("video_mixed") _,
      "mm_frame_sample_avi" -> media("video_avi_dib_long") _,
      "mm_video_resize" -> media("video_png") _,
      "cv_subpixel_edge" -> media("edge") _,
      "mm_frame_sample" -> media("video_long") _,
      "cv_video_markers" -> media("video_markers") _,
      "cv_keypoints_pipeline" -> media("video_blink") _,
      "mm_image_dedup" -> ((s: SparkSession, dir: String) =>
        VisionFixtures.plantMediaKeyed(
          Tables.documents(s, dir)
            .select(col("doc_id"), (col("doc_id") % 40).as("ck")),
          "doc_id", "ck", "pupil")),
      "mm_image_neardup" -> ((s: SparkSession, dir: String) => {
        val id = col("doc_id")
        VisionFixtures.plantMediaKeyed(
          Tables.documents(s, dir).select(id.as("doc_id"),
            ((id % 40) * 2 + when(id % 5 === 4, 1).otherwise(0)).as("ck")),
          "doc_id", "ck", "pupil_jitter")
      }),
      "audio_features" -> ((s: SparkSession, dir: String) =>
        AudioOps.plantAudioMedia(Tables.documents(s, dir), "doc_id")),
      "audio_vad" -> ((s: SparkSession, dir: String) =>
        AudioOps.plantSpeechMedia(Tables.documents(s, dir), "doc_id")),
      "multimodal_features" -> ((s: SparkSession, dir: String) =>
        MultimodalOps.packAsMedia(Tables.documents(s, dir), "doc_id", "text")),
      // r11 verdict #1-2: the suite's most expensive heads were
      // unattributable because they synthesize inputs inline with no
      // fixture entry. For these, "fixture" = the input-acquisition
      // lineage (planted media render, parquet fixture export, or the
      // events-scan + planted-column synthesis) — everything BEFORE the
      // operator under test.
      "mm_image_recall_audit" -> (mmRecallAuditMedia _),
      "mri_pipeline" -> ((s: SparkSession, dir: String) => {
        mriFixturePrep(s, dir, fixtureTmp("graft_mri_fx"))
        s.range(1).toDF("ok") // writes above ARE the fixture cost
      }),
      "dedup_incremental" -> ((s: SparkSession, dir: String) => {
        incIdxBuild(s, dir) // snapshot-N index build = the setup cost
        s.range(1).toDF("ok")
      }),
      "dedup_incremental_append" -> ((s: SparkSession, dir: String) => {
        // both generations' index assembly = the setup a snapshot chain
        // paid before this batch arrived; the probe is the engine
        genIdxBuild(s, dir)
        s.range(1).toDF("ok")
      }),
      "dedup_incremental_compact" -> ((s: SparkSession, dir: String) => {
        // same split: the chain assembly is setup; compact + probe are
        // the maintenance engine under measurement
        compactIdxBuild(s, dir)
        s.range(1).toDF("ok")
      }),
      "m9_binocular" -> ((s: SparkSession, dir: String) => {
        val (markers, pupils0, pupils1) = m9bInputs(s, dir)
        val shape = (df: DataFrame) => df.select(
          col("session"), col("timestamp"), col("norm_x"), col("norm_y"))
        shape(markers).unionByName(shape(pupils0)).unionByName(shape(pupils1))
      }),
      "m9_gaze_pipeline" -> ((s: SparkSession, dir: String) => {
        val base = m9Base(s, dir, lit("cal"))
        val shape = (df: DataFrame) => df.select(
          col("session"), col("timestamp"), col("norm_x"), col("norm_y"))
        shape(m9Markers(base)).unionByName(shape(m9Pupils(base)))
      }),
      "m9_multisession" -> ((s: SparkSession, dir: String) => {
        val base = m9Base(s, dir, concat(lit("s"), col("user_id") % 100))
        val shape = (df: DataFrame) => df.select(
          col("session"), col("timestamp"), col("norm_x"), col("norm_y"))
        shape(m9Markers(base)).unionByName(shape(m9Pupils(base)))
      }),
      "curation_pipeline" -> ((s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))),
      "curation_pipeline_tuned" -> ((s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))),
      "crawl_pretrain_pipeline" -> ((s: SparkSession, dir: String) =>
        Tables.documents(s, dir).select(col("doc_id"), col("text"))),
      // the drained-stream rows export their file-stream source inline;
      // the export is fixture cost, the readStream→drain is the engine
      "stream_cm_counters" -> ((s: SparkSession, dir: String) => {
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(fixtureTmp("graft_cm_src_fx"))
        s.range(1).toDF("ok")
      }),
      "stream_ann_ingest" -> ((s: SparkSession, dir: String) => {
        Tables.embeddings(s, dir)
          .select(col("vec_id"), opqIvfPlanted(col("vec_id")).as("pv"))
          .write.mode("overwrite").parquet(fixtureTmp("graft_ann_src_fx"))
        s.range(1).toDF("ok")
      }),
      "stream_wet_extract" -> ((s: SparkSession, dir: String) => {
        wetBlobs(s, dir).repartition(8)
          .write.mode("overwrite").parquet(fixtureTmp("graft_wet_src_fx"))
        s.range(1).toDF("ok")
      }),
      "stream_web_frontier" -> ((s: SparkSession, dir: String) => {
        frontierPages(s, dir).repartition(8).write.mode("overwrite")
          .parquet(fixtureTmp("graft_frontier_src_fx"))
        s.range(1).toDF("ok")
      }),
      "stream_web_frontier_bloom" -> ((s: SparkSession, dir: String) => {
        // the two-epoch page export + the crawled-set snapshot table
        val pages = frontierPages(s, dir)
        pages.filter(col("doc") % 2 === 0).repartition(4)
          .write.mode("overwrite")
          .parquet(fixtureTmp("graft_frontier_bloom_fxA"))
        pages.filter(col("doc") % 2 =!= 0).repartition(4)
          .write.mode("overwrite")
          .parquet(fixtureTmp("graft_frontier_bloom_fxB"))
        frontierCrawled(s).write.mode("overwrite")
          .parquet(fixtureTmp("graft_frontier_bloom_fxC"))
        s.range(1).toDF("ok")
      }),
      "stream_dedup_admit" -> ((s: SparkSession, dir: String) => {
        // the two-epoch doc export (the admission state tables are the
        // measured engine work, not fixture synthesis)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long").as("doc"), col("text"))
        docs.filter(col("doc") % 2 === 0).repartition(4)
          .write.mode("overwrite")
          .parquet(fixtureTmp("graft_dedup_admit_fxA"))
        docs.filter(col("doc") % 2 =!= 0).repartition(4)
          .write.mode("overwrite")
          .parquet(fixtureTmp("graft_dedup_admit_fxB"))
        s.range(1).toDF("ok")
      }),
      "stream_pldata_tail" -> ((s: SparkSession, dir: String) => {
        val root = fixtureTmp("graft_pldata_tail_fx")
        val base = ev(s, dir)
          .repartitionByRange(FixturePartitions, col("event_id"))
          .sortWithinPartitions(col("event_id")).select(
            lit("gaze").as("topic"), col("t").as("timestamp"),
            array(col("value") / 500.0, (col("user_id") % 20) / 20.0)
              .as("norm_pos"),
            (col("value") / 1000.0).as("confidence"),
            col("event_id").as("id"))
        PldataSource.write(base.filter(col("id") % 2 === 0), s"$root/s1", "gaze")
        PldataSource.write(base.filter(col("id") % 2 =!= 0), s"$root/s2", "gaze")
        s.range(1).toDF("ok")
      }))
  }

  /** C1 pupil detection END-TO-END on real pixels: planted PNG eye
    * frames (one axis-aligned dark ellipse per doc, geometry derived
    * from doc_id) → javax.imageio decode → luma plane → moment-based
    * ellipse fit ([[graft.multimodal.VisionOps.pupilEllipse]]). The
    * oracle replays the identical inclusion rule over the integer pixel
    * grid and the identical moment/eigen arithmetic — a full-pipeline
    * hash check of encode→decode→detect. */
  def cvPupil(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "pupil")
    VisionOps.detectPupils(media).select(
      col("media_id"), col("n_dark"),
      (round(col("center_x"), 6) + 0.0).as("center_x"),
      (round(col("center_y"), 6) + 0.0).as("center_y"),
      (round(col("axis_major"), 6) + 0.0).as("axis_major"),
      (round(col("axis_minor"), 6) + 0.0).as("axis_minor"),
      (round(col("angle_deg"), 6) + 0.0).as("angle_deg"),
      (round(col("diameter"), 6) + 0.0).as("diameter"),
      (round(col("confidence"), 6) + 0.0).as("confidence"))
  }

  /** C1, Detector2D-shaped: CONTOUR-based pupil detection — boundary
    * pixels of the dark region + Fitzgibbon direct least-squares ellipse
    * fit ([[graft.multimodal.VisionOps.contourEllipse]], the cv2
    * fitEllipse algorithm Detector2D calls). The oracle replays the
    * boundary-pixel rule on the integer grid (n_boundary exact) and
    * knows the fit must recover the planted geometry within the
    * rasterization tolerance (VisionOpsSpec sweeps ALL 195 distinct
    * planted configurations, so `planted_ok = true` is analytic at any
    * scale factor). */
  def cvPupilContour(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "pupil")
    val fits = VisionOps.detectPupilsContour(media)
    // planted geometry from the id (VisionFixtures.pupilParams)
    val pcx = (lit(24) + col("media_id") % 13).cast("double")
    val pcy = (lit(24) + (col("media_id") * 3) % 13).cast("double")
    val pa = (lit(8) + col("media_id") % 5).cast("double")
    val pb = (lit(4) + col("media_id") % 3).cast("double")
    fits.select(col("media_id"), col("n_boundary"),
      (abs(col("center_x") - pcx) < 0.7 && abs(col("center_y") - pcy) < 0.7 &&
        abs(col("axis_major") - pa * 2) < 2.0 &&
        abs(col("axis_minor") - pb * 2) < 2.0).as("planted_ok"))
  }

  /** C4 checkerboard corners on real pixels: planted full-frame boards
    * (7×4 cells, size from doc_id, either leading color) → decode →
    * binary-transition corner intersection
    * ([[graft.multimodal.VisionOps.checkerboardCorners]]); one row per
    * interior corner with full-pixel + normalized positions (the
    * find_checkerboard_frame output contract). Oracle: corners are
    * closed-form (i·s, j·s). */
  def cvCheckerboard(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "checkerboard")
    VisionOps.findCheckerboard(media).select(
      col("media_id"), col("corner_x"), col("corner_y"),
      (round(col("norm_x"), 6) + 0.0).as("norm_x"),
      (round(col("norm_y"), 6) + 0.0).as("norm_y"))
  }

  /** C3 concentric-circle markers + C7 contrast inversion on real
    * pixels: planted ring markers (2-3 rings, geometry from doc_id; ODD
    * ids rendered light-on-dark and detected with the reference's
    * `invert_contrast` pre-step, marker_detection.py:339-340) → decode →
    * radial marker statistics
    * ([[graft.multimodal.VisionOps.concentricCircles]]). The hash
    * equality across both arms proves inversion-neutrality; the oracle
    * replays the ring inclusion rule on the integer grid. */
  def cvCircles(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "circles")
    val even = VisionOps.findCircles(
      media.filter(col("media_id") % 2 === 0), invertContrast = false)
    val odd = VisionOps.findCircles(
      media.filter(col("media_id") % 2 === 1), invertContrast = true)
    even.unionByName(odd).select(
      col("media_id"), (col("media_id") % 2 === 1).as("inverted"),
      col("n_dark"),
      (round(col("loc_x"), 6) + 0.0).as("loc_x"),
      (round(col("loc_y"), 6) + 0.0).as("loc_y"),
      (round(col("norm_x"), 6) + 0.0).as("norm_x"),
      (round(col("norm_y"), 6) + 0.0).as("norm_y"),
      (round(col("size"), 6) + 0.0).as("size"),
      col("n_rings"))
  }

  /** C3 in its TRUE generator shape: 0..n concentric-ring markers per
    * frame (the reference's world_circles list,
    * marker_detection.py:33-47) — planted scenes carry 1-2 markers at
    * separated centers; the detector labels connected components and
    * groups rings into markers by recovered center
    * ([[graft.multimodal.VisionOps.concentricMarkersTyped]]), emitting a
    * frame-local ordered marker index. Oracle: per-marker ring replay +
    * a window for the index. */
  def cvMultiMarkers(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "multi_markers")
    // odd frames render light-on-dark → the C7 arm; their markers must
    // classify "Stop" (ring brighter than dot in the original image),
    // even frames' dark-ring markers "Ref" (circle_detector.py:339-452)
    val even = VisionOps.findMarkers(
      media.filter(col("media_id") % 2 === 0), invertContrast = false)
    val odd = VisionOps.findMarkers(
      media.filter(col("media_id") % 2 === 1), invertContrast = true)
    even.unionByName(odd).select(
      col("media_id"), col("marker_idx"), col("n_dark"),
      (round(col("loc_x"), 6) + 0.0).as("loc_x"),
      (round(col("loc_y"), 6) + 0.0).as("loc_y"),
      (round(col("norm_x"), 6) + 0.0).as("norm_x"),
      (round(col("norm_y"), 6) + 0.0).as("norm_y"),
      (round(col("size"), 6) + 0.0).as("size"),
      col("n_rings"), col("ring_luma"), col("dot_luma"), col("marker_type"))
  }

  /** S1 video batch scan END-TO-END: planted raw-video blobs (2-4 gray
    * frames each, a dark pupil drifting one pixel per frame) → container
    * decode → per-frame moment ellipse fit — one row per (media, frame),
    * the reference's find_pupils-over-video shape
    * (pupil_detection_pl.py:94-133). The oracle replays the per-frame
    * inclusion rule and moment arithmetic over the integer grid. */
  /** THE pupil-video select list — the hash-normalization columns
    * (round 6dp + 0.0, the oracle-parity discipline) exist ONCE, so the
    * "progressive == fragmented == AVI == PNG == raw" oracle family can
    * never silently desynchronize across containers. */
  private def pupilVideoQuery(kind: String)(s: SparkSession,
                                            dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", kind)
    VisionOps.detectPupilsVideo(media).select(
      col("media_id"), col("frame_index"), col("n_dark"),
      (round(col("center_x"), 6) + 0.0).as("center_x"),
      (round(col("center_y"), 6) + 0.0).as("center_y"),
      (round(col("axis_major"), 6) + 0.0).as("axis_major"),
      (round(col("axis_minor"), 6) + 0.0).as("axis_minor"))
  }

  /** The mp4 structural-tier select, shared by the progressive and
    * fragmented meta rows. */
  private def mp4MetaQuery(kind: String)(s: SparkSession,
                                         dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", kind)
    MultimodalOps.mp4Meta(media).select(
      col("media_id"), col("codec"), col("width"), col("height"),
      col("n_samples"), col("timescale"), col("duration"))
  }

  def cvVideoPupils(s: SparkSession, dir: String): DataFrame =
    pupilVideoQuery("video")(s, dir)

  /** S1 video batch scan over the PNG-FRAMED container: same planted
    * drifting-pupil geometry as `cv_video_pupils`, but every frame passes
    * through the real `javax.imageio` PNG codec
    * ([[graft.multimodal.MultimodalOps.decodePngVideo]]) — the video path
    * exercising an actual image codec end-to-end. PNG is lossless, so
    * the oracle replay is identical to the raw-gray arm. */
  /** S1 video batch scan over a REAL container with a REAL lossy codec:
    * the same planted drifting-pupil geometry, muxed as MJPEG-in-AVI
    * ([[graft.multimodal.AviCodec]]) — RIFF walk + per-frame JDK JPEG
    * decode, the container class the reference's mp4 scans ingest
    * (pupil_detection_pl.py:94-112, marker_detection.py:98-117). The
    * closed-form oracle survives the LOSSY codec because the planted
    * 32/224 levels leave 96 gray levels of binarization margin —
    * orders above max-quality grayscale JPEG error — so the dark mask
    * (and every moment over it) is bit-identical to the planted raster
    * (AviCodecSpec pins the claim per pixel). */
  def cvVideoAvi(s: SparkSession, dir: String): DataFrame =
    pupilVideoQuery("video_avi")(s, dir)

  /** S1 video batch scan over the container the reference ACTUALLY
    * ingests — ISO-BMFF mp4 (`world.mp4`/`eye0.mp4`,
    * pupil_detection_pl.py:94-112): the same planted drifting-pupil
    * geometry, real-JPEG-encoded per frame and muxed as a `jpeg`-coded
    * video track ([[graft.multimodal.Mp4Codec]]), demuxed by the
    * `stsc`/`stsz`/`stco` sample-table walk and decoded per sample by
    * the JDK's actual JPEG codec. The closed-form oracle survives the
    * lossy codec for the same reason the AVI arm's does: planted levels
    * 32/224 leave 96 gray levels of binarization margin, orders above
    * max-quality grayscale JPEG error, so the dark mask (and every
    * moment over it) is bit-identical to the planted raster
    * (Mp4CodecSpec pins the claim per pixel). */
  def cvVideoMp4(s: SparkSession, dir: String): DataFrame =
    pupilVideoQuery("video_mp4")(s, dir)

  /** [[cvVideoMp4]] through a FRAGMENTED mp4 (fMP4/CMAF — the layout
    * streaming captures emit): the moov sample tables are EMPTY and
    * every frame's byte range resolves from `moof`→`traf`→`tfhd`/`trun`
    * tables ([[graft.multimodal.Mp4Codec]] §8.8 walk). Same planted
    * geometry, same JPEG mask-exactness margin, so the oracle is the
    * progressive arm's replay VERBATIM — attesting that fragmented and
    * progressive layouts of the same samples are indistinguishable to
    * every kernel downstream of the demux. */
  def cvVideoMp4Frag(s: SparkSession, dir: String): DataFrame =
    pupilVideoQuery("video_mp4_frag")(s, dir)

  /** [[mmMp4Meta]] over FRAGMENTED H.264-shaped mp4: the structural
    * listing must count `trun`-table samples (the moov tables are
    * empty in fMP4) — a moov-only scan would report every streaming
    * capture as zero frames. Oracle: same per-doc replay as
    * `mm_mp4_meta`. */
  def mmMp4FragMeta(s: SparkSession, dir: String): DataFrame =
    mp4MetaQuery("video_mp4_frag_avc")(s, dir)

  /** UNIFIED structural listing over a MIXED-container corpus
    * ([[graft.multimodal.MultimodalOps.videoMeta]]): GRVD, PNG-framed,
    * RIFF/AVI-MJPEG and ISO-BMFF mp4 blobs share one binary column
    * (container chosen by `doc_id % 4`) and ONE listing pass resolves
    * every blob's container, codec, dims and frame count from structure
    * alone — no frame body read, the per-blob-header cost a 100 TB
    * media lake's what-to-decode pass must have. Oracle: the fixture's
    * container schedule and frame counts replayed from `doc_id`. */
  def mmVideoMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_mixed")
    MultimodalOps.videoMeta(media).select(
      col("media_id"), col("container"), col("codec"),
      col("width"), col("height"), col("n_frames"))
  }

  /** S1 STRUCTURAL tier over H.264-shaped mp4
    * ([[graft.multimodal.MultimodalOps.mp4Meta]]): `avc1` tracks the JVM
    * cannot decode still yield their full track metadata — codec fourcc,
    * dimensions, sample count, timescale, duration — from the `moov` box
    * walk alone, no sample body read. This is the listing pass a 100 TB
    * mp4 corpus runs BEFORE committing decode CPU, and the honest
    * boundary of a codec-less JVM (decode defers, metadata does not).
    * Oracle: the fixture's track parameters replayed from `doc_id`. */
  def mmMp4Meta(s: SparkSession, dir: String): DataFrame =
    mp4MetaQuery("video_mp4_avc")(s, dir)

  def cvVideoPng(s: SparkSession, dir: String): DataFrame =
    pupilVideoQuery("video_png")(s, dir)

  /** Sub-pixel edge localization (the cornerSubPix tier,
    * marker_detection.py:234-240, restated in 1-D): planted anti-aliased
    * step edges whose boundary-column gray level encodes the fractional
    * position; the gradient center of mass recovers it from real decoded
    * pixels, and the oracle replays the integer-weight arithmetic. */
  def cvSubpixelEdge(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "edge")
    VisionOps.findEdgeSubpixel(media).select(
      col("media_id"), (round(col("edge_x"), 6) + 0.0).as("edge_x"))
  }

  /** A9 direct: per-frame mean gray (`np.mean(frame)` per frame,
    * pupil_detection_pl.py:126) over the raw-gray video container — the
    * planes make the mean exact integer arithmetic, so the oracle
    * replays it from the per-frame dark-pixel count. */
  def frameLuminance(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video")
    MultimodalOps.videoFrameLuminance(media).select(
      col("media_id"), col("frame_index"),
      (round(col("luminance"), 6) + 0.0).as("luminance"))
  }

  /** Uniform-stride frame sampling with the decode SKIPPED for
    * unsampled frames ([[multimodal.MultimodalOps.sampleFramesLuminance]]
    * over every 3rd frame of 8-12-frame planted PNG videos): the GPNV
    * walk seeks past unsampled bodies by their length headers, so the
    * codec runs on ~1/3 of the frames — the decode-cut tier of video
    * ingest. Oracle: the planted drifting-ellipse luminance replay
    * restricted to frame_index % 3 = 0. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_long")
    MultimodalOps.sampleFramesLuminance(media, stride = 3).select(
      col("media_id"), col("frame_index"),
      (round(col("luminance"), 6) + 0.0).as("luminance"))
  }

  /** [[mmFrameSample]] through the REAL RIFF/AVI container: same
    * stride-3 decode-skip sampling, but the walk that seeks past
    * unsampled bodies is [[graft.multimodal.AviCodec]]'s movi chunk
    * walk (validate every chunk header, decode only sampled frames) —
    * the decode-cut scale property attested on a container real files
    * actually use. DIB payloads keep the pixels exact integers, so the
    * oracle is the `mm_frame_sample` luminance replay VERBATIM. */
  def mmFrameSampleAvi(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_avi_dib_long")
    MultimodalOps.sampleFramesLuminance(media, stride = 3).select(
      col("media_id"), col("frame_index"),
      (round(col("luminance"), 6) + 0.0).as("luminance"))
  }

  /** IMAGE exact/near dedup via perceptual average hash
    * ([[multimodal.MultimodalOps.imageAHash]]): media planted with
    * content keyed by `doc_id % 40` (so every image has ~12 byte-
    * identical twins), decoded for real, aHashed on integer luma, and
    * grouped — (ahash, keeper_id, n_copies), the image analogue of
    * `dedup_exact`. The oracle replays the planted ellipse's per-block
    * dark counts and the same cross-multiplied integer mean compare. */
  def mmImageDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMediaKeyed(
      Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 40).as("ck")),
      "doc_id", "ck", "pupil")
    MultimodalOps.imageAHash(media)
      .groupBy("ahash")
      .agg(min("media_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** IMAGE NEAR-dup pairs ([[multimodal.MultimodalOps
    * .imageNearDupPairs]]): content keyed `doc_id % 40` with every
    * `doc_id % 5 == 4` row rendered as a one-pixel-shifted JITTERED twin
    * — so both exact pairs (hamming 0) and genuine near pairs survive
    * the banded candidate join + exact Hamming verify at ≤ 7 (the
    * pigeonhole-complete regime for 8 bands). */
  /** Band-bucket cap for the image near-dup query, oracle-shared. Tight
    * on purpose: aHash bands are LOW-entropy (an all-light band is the
    * image analogue of a boilerplate text band — at sf0.01 one band
    * value collects 400+ members and alone mints ~10⁵ candidate pairs),
    * so the cap is the lever that keeps the candidate join bounded,
    * exactly like [[operators.TextOps.DefaultMaxBandBucket]] on the
    * text side. Capped recall follows the text-LSH rule: pairs keep
    * their other bands, and the smallest-id members of a flooded bucket
    * keep pairing. */
  val imageNearDupBucketCap: Int = 100

  def mmImageNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.MultimodalOps.imageNearDupPairs(
      plantedNearDupMedia(s, dir), maxBucket = imageNearDupBucketCap)

  /** The near-dup image fixture (shared by the pair query and its
    * recall audit so the measured number describes the shipped corpus):
    * 40 base renders, each repeated, every doc%5==4 row one-pixel
    * jittered. */
  private def plantedNearDupMedia(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    graft.multimodal.VisionFixtures.plantMediaKeyed(
      Tables.documents(s, dir).select(id.as("doc_id"),
        ((id % 40) * 2 + when(id % 5 === 4, 1).otherwise(0)).as("ck")),
      "doc_id", "ck", "pupil_jitter")
  }

  /** Image near-dup recall audit ([[graft.multimodal.MultimodalOps
    * .imageNearDupRecallAudit]]): uncapped pigeonhole-complete truth vs
    * the shipped cap-100 chain — the measured price of the cap on the
    * low-entropy aHash bands (the one family where the cap demonstrably
    * bites: one all-light band collects 400+ members). Runs on the
    * audit contract's deterministic 20% SAMPLE (`doc_id % 25 < 5` —
    * the residues keep the jittered-twin class, id ≡ 4 mod 25): the
    * truth side is Σ(copies per render)², so sampling prices the cap at
    * 1/25th the cost while every pair shape (exact dup, jittered twin,
    * cap overflow at bench SF) stays represented. */
  /** The planted-PNG corpus [[mmImageRecallAudit]] consumes — shared with
    * its [[fixtureFrames]] entry so the bench attributes the audit's wall
    * time between PNG rendering and the actual aHash/band/recall work. */
  private[graft] def mmRecallAuditMedia(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    graft.multimodal.VisionFixtures.plantMediaKeyed(
      Tables.documents(s, dir).filter(id % 25 < 5)
        .select(id.as("doc_id"),
          ((id % 40) * 2 + when(id % 5 === 4, 1).otherwise(0)).as("ck")),
      "doc_id", "ck", "pupil_jitter")
  }

  def mmImageRecallAudit(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.MultimodalOps.imageNearDupRecallAudit(
      mmRecallAuditMedia(s, dir), maxBucket = imageNearDupBucketCap)

  /** The WORLD-camera video scan (marker_detection.py:98-117): planted
    * PNG-framed video blobs whose 1-2 concentric markers drift one pixel
    * per frame → real per-frame PNG decode → typed multi-marker
    * detection — 0..n marker rows per (media, frame). Oracle: the
    * multi-marker ring replay extended with the frame drift. */
  def cvVideoMarkers(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_markers")
    VisionOps.detectMarkersVideo(media).select(
      col("media_id"), col("frame_index"), col("marker_idx"), col("n_dark"),
      (round(col("loc_x"), 6) + 0.0).as("loc_x"),
      (round(col("loc_y"), 6) + 0.0).as("loc_y"),
      (round(col("size"), 6) + 0.0).as("size"),
      col("n_rings"), col("marker_type"))
  }

  /** Audio features END-TO-END on real bytes: planted square-wave WAV
    * clips (half period / amplitude / length from doc_id) → RIFF/PCM
    * decode ([[graft.multimodal.AudioOps.decodeWav]]) → RMS, peak,
    * zero-crossings, duration from exact integer samples. The oracle
    * replays the generator formula per sample index — encode→decode→
    * feature checked bit-for-bit. */
  def audioFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioOps
    val media = AudioOps.plantAudioMedia(Tables.documents(s, dir), "doc_id")
    AudioOps.extractAudioFeatures(media).select(
      col("media_id"), col("sample_rate"), col("n_samples"),
      (round(col("duration_sec"), 6) + 0.0).as("duration_sec"),
      (round(col("rms"), 6) + 0.0).as("rms"),
      col("peak"), col("zero_crossings"))
  }

  /** SPECTRAL features over the planted WAV corpus — a real radix-2 FFT
    * per clip ([[graft.multimodal.AudioOps.spectralFeatures]], the
    * dominant-frequency / band-energy stage an audio curation pipeline
    * runs after decode). The oracle is the planted kind: dc and nyquist
    * are exact integer generator sums, the dominant bin is a pure
    * function of the planted half-period (5 distinct spectra), stated
    * by an INDEPENDENT naive O(w²) DFT in the oracle builder — an
    * FFT-vs-DFT cross-check — and `parseval_ok` is the engine-measured
    * whole-spectrum energy law. One planted SILENT clip (media_id = −1)
    * rides along so the degenerate contract (null dominant bin,
    * two-sided-zero Parseval pass — r12 verdict #5) carries an oracle
    * row, not just a spec. */
  def audioSpectral(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioOps
    val outSchema = graft.multimodal.MultimodalOps.mediaSchema
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val silent = s.range(1).toDF("i").mapPartitions { it =>
      it.map(_ => org.apache.spark.sql.Row(-1L,
        AudioOps.encodeWavMono(AudioOps.FixtureRate, new Array[Int](512)),
        org.apache.spark.sql.Row("audio/wav", 0, 0, 1)))
    }
    AudioOps.spectralFeatures(
      AudioOps.plantAudioMedia(Tables.documents(s, dir), "doc_id")
        .unionByName(silent))
  }

  /** Energy-threshold VAD segmentation over speech-shaped planted WAVs
    * ([[multimodal.AudioOps.vadSegments]]): real RIFF/PCM decode →
    * exact integer window energies → threshold + run-length merge. The
    * oracle replays the gated square wave and the identical
    * window/RLE arithmetic. */
  def audioVad(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioOps
    val media = AudioOps.plantSpeechMedia(Tables.documents(s, dir), "doc_id")
    AudioOps.vadSegments(media)
  }

  /** Similarity search (brute-force cosine top-k): queries = vec_id < 10,
    * k = 5 nearest over the full table (excluding self). Baseline for the
    * ANN variants; distributes as broadcast(queries) × scan. Scoring runs
    * through the native array_dot kernel (bit-equal to the HOF fold the
    * oracle mirrors). */
  def simBruteTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = broadcast(q).join(emb, col("q_id") =!= col("vec_id"))
      .withColumn("sim", VectorOps.cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** HYBRID retrieval — reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) of the two ranking families this engine
    * serves: the BM25 keyword list ([[bm25Topk]]) and the cosine
    * vector list (the [[simBruteTopK]] scoring chain, query = vec 0).
    * `rrf(d) = Σ_lists 1/(60 + rank_d)` with absent membership
    * contributing 0; top-10 by (rrf DESC, doc). The list ranks are
    * computed AFTER a TakeOrderedAndProject limit, so the global
    * row_number windows only ever see ≤20 rows — no single-partition
    * corpus sort anywhere. Fusion arithmetic is deterministic scalar
    * work the oracle replays bit-for-bit (fixed two-term sum order). */
  def retrievalRrf(s: SparkSession, dir: String): DataFrame = {
    val kRrf = 60L
    val wBm = Window.orderBy(col("score").desc, col("doc"))
    val bmr = bm25Topk(s, dir).select(col("doc"), col("score"))
      .withColumn("r_bm", row_number().over(wBm).cast("long"))
      .select(col("doc").cast("long").as("doc"), col("r_bm"))
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val wV = Window.orderBy(col("sim").desc, col("vec_id"))
    val vr = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("sim", VectorOps.cosine(col("qv"), col("v")))
      .orderBy(col("sim").desc, col("vec_id")).limit(20)
      .withColumn("r_v", row_number().over(wV).cast("long"))
      .select(col("vec_id").cast("long").as("doc"), col("r_v"))
    bmr.join(vr, Seq("doc"), "full_outer")
      .select(col("doc"),
        (coalesce(lit(1.0) / (lit(kRrf) + col("r_bm")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(kRrf) + col("r_v")), lit(0.0))).as("rrf"),
        col("r_bm"), col("r_v"))
      .orderBy(col("rrf").desc, col("doc")).limit(10)
  }

  // -------------------------------------- direct per-operator oracles (r5)
  // Every §2 operator that previously rode on ScalaTest alone gets its own
  // hash-matched CORRECTNESS row here.

  /** A11: median frame interval per series (median(diff(timestamps)) — the
    * join-window derivation, marker_parsing.py:555-556). */
  def medianInterval(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    ev(s, dir)
      .withColumn("dt", col("t") - lag(col("t"), 1).over(w))
      .groupBy(col("user_id"))
      .agg((round(expr("percentile(dt, 0.5)"), 6) + 0.0).as("med_dt"))
  }

  /** O1: time sort — the observable form (rank within series under the
    * deterministic (ts, id) order); a bare global sort is invisible to the
    * row-multiset hash compare. */
  def timeSort(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    ev(s, dir).select(col("event_id"), row_number().over(w).as("seq"))
  }

  /** O3: top-1 by fit quality — argmin with FIRST-minimum tie-break
    * (np.argmin semantics, calibration.py:293-296, 407-408), the
    * declarative distributed form over a per-group candidate table. */
  def top1Fit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev(s, dir)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("event_type"), col("event_id").as("best_id"),
        col("value").as("best_err"))
  }

  /** P4: boolean-mask row selection — the arraydict mask filter
    * (file_methods.py arraydict __getitem__ with a bool array): the mask
    * is materialized as a COLUMN, then applied to every column of the row
    * (= row selection). */
  def maskFilter(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("mask", col("value") > 50.0 && col("event_type") =!= "error")
      .filter(col("mask"))
      .select(col("event_id"), col("user_id"), col("value"))

  /** P11: pixels-per-degree (error_computation.py:64-66) — the px→deg
    * conversion constant applied distributively. */
  def ppdConvert(s: SparkSession, dir: String): DataFrame = {
    val ppd = ErrorMap.pixelsPerDegree(ErrorMap.Config())
    ev(s, dir).select(col("event_id"), (col("value") / ppd).as("err_deg"))
  }

  /** C6: point-to-ellipse distance (dist_pts_ellipse,
    * externals/methods.py:83-120) over per-row ellipse params — points
    * planted strictly off-center so the NaN center case (spec-covered)
    * stays out of the hash. */
  def ellipseDist(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("ex", (col("event_id") % 10).cast("double") * 0.5)
      .withColumn("ey", (col("user_id") % 8).cast("double") * 0.4)
      .withColumn("dx", lit(4.0) + (col("event_id") % 4).cast("double"))
      .withColumn("dy", lit(2.0) + (col("event_id") % 3).cast("double"))
      .withColumn("ang", (col("event_id") % 12).cast("double") * 30.0 - 90.0)
      .withColumn("px", col("ex") + 0.5 + col("value") / 1000.0)
      .withColumn("py", col("ey") + (col("user_id") % 7).cast("double") / 10.0)
    e.select(col("event_id"),
      (round(EllipseGeometry.distToEllipse(col("px"), col("py"), col("ex"),
        col("ey"), col("dx"), col("dy"), col("ang")), 6) + 0.0).as("dist"))
  }

  /** W8: Savitzky-Golay FIR smoothing (odometry.py:82-92), window 5 /
    * polyorder 2 per series; series order = event_id (unique), nulls at
    * the two edge rows. The closed-form coefficients make the windowed
    * dot product bit-replayable. */
  def savgol(s: SparkSession, dir: String): DataFrame =
    OdometryOps.savgol(
        ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
          .withColumn("eid", col("event_id").cast("double")),
        "eid", "value", Seq("user_id"), window = 5, polyorder = 2,
        outCol = "smoothed")
      .select(col("event_id"), col("smoothed"))

  /** W9: EMA frame-interval smoothing (gaze_mappers.py:33-36, 71-91
    * constants: smoothing 1/50, initial 1/120) over per-series |Δt|,
    * series order = event_id. Sequential per group; the oracle replays
    * the identical recurrence with a recursive CTE. */
  def emaFramerate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val dts = ev(s, dir)
      .withColumn("dt", abs(col("t") - lag(col("t"), 1).over(w)))
      .filter(col("dt").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("event_id").cast("double").as("eid"), col("dt"))
    TimeSeriesOps.ema(dts, "eid", "dt", Seq("user_id"),
        smoothing = 1.0 / 50.0, init = 1.0 / 120.0)
      .select(col("event_id"), col("ema"))
  }

  /** J3: binocular triple as-of (closest_matches_binocular,
    * externals/data_processing.py:116-149): nearest purchase AND nearest
    * error per click, kept when the three-timestamp spread is inside the
    * dispersion gate. The reference's gate is relative to its stream
    * cadence (±1/15 s at 120 Hz); the testdata's click/purchase/error
    * cadence is ~hours, so the gate is [[j3DispersionGate]] (4 h) here —
    * chosen so the oracle attests a NON-EMPTY survivor set (tens of
    * triples at sf0.01, a few at sf0.001) AND a non-trivial rejection
    * (most candidates fail). A data-derived gate (k × the median
    * inter-event interval) would generalize, but costs an extra
    * aggregation job per run and makes the oracle replay stateful — the
    * library operator takes the gate as a parameter, so callers at a
    * different cadence pass their own. */
  /** Shared with the oracle builder so the gate cannot drift. */
  val j3DispersionGate: Double = 14400.0

  def binocularTriple(s: SparkSession, dir: String): DataFrame = {
    val refs = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t"))
    val a = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("event_id").as("pa_id"))
    val b = ev(s, dir).filter(col("event_type") === "error")
      .select(col("user_id"), col("t"), col("event_id").as("pb_id"))
    AsOfJoin.triple(refs, a, b, "t", "t", "t", Seq("user_id"),
        maxDispersion = j3DispersionGate)
      .select(col("event_id"), col("a_pa_id").as("a_id"),
        col("b_pb_id").as("b_id"),
        (greatest(col("t"), col("a_t"), col("b_t")) -
          least(col("t"), col("a_t"), col("b_t"))).as("dispersion"))
  }

  /** J3 with a DATA-DERIVED gate (closest_matches_binocular,
    * externals/data_processing.py:116-149 + the cadence argument at
    * :128-131): the reference's 1/15 s gate is ~8 sample periods of its
    * 120 Hz pupil streams — i.e. cadence-relative, not absolute. This
    * query derives the gate the same way: [[AsOfJoin.cadenceGate]] over
    * the UNION of both matched streams (purchase+error = the two "eyes"),
    * `multiplier` × the pooled median inter-sample interval per user,
    * then runs the same triple as-of against it. The gate's median is
    * exact, so the DuckDB replay (`median` = the same interpolating quantile) derives
    * the bit-identical gate — the derived value itself ships as a
    * `gate` output column, so the oracle attests the derivation, not
    * just the filter. Multiplier 1.0 (vs the helper's reference-shaped
    * default 8.0) because the testdata's event cadence is ~18 h, not
    * 120 Hz: one median period keeps the survivor set non-empty (46 of
    * 210 candidate triples at sf0.001) while most candidates still
    * fail — the same "non-trivial both ways" bar `j3_binocular_triple`'s
    * constant gate is tuned to. */
  val j3CadenceMultiplier: Double = 1.0

  def binocularTripleCadence(s: SparkSession, dir: String): DataFrame = {
    val refs = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t"))
    val a = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("event_id").as("pa_id"))
    val b = ev(s, dir).filter(col("event_type") === "error")
      .select(col("user_id"), col("t"), col("event_id").as("pb_id"))
    val pupils = a.select(col("user_id"), col("t"))
      .unionAll(b.select(col("user_id"), col("t")))
    val gate = AsOfJoin.cadenceGate(pupils, "t", Seq("user_id"),
      multiplier = j3CadenceMultiplier)
      .getOrElse(Double.PositiveInfinity)
    AsOfJoin.triple(refs, a, b, "t", "t", "t", Seq("user_id"),
        maxDispersion = gate)
      .select(col("event_id"), col("a_pa_id").as("a_id"),
        col("b_pb_id").as("b_id"),
        (greatest(col("t"), col("a_t"), col("b_t")) -
          least(col("t"), col("a_t"), col("b_t"))).as("dispersion"),
        round(lit(gate), 6).as("gate"))
  }

  /** J3 with the PER-KEY cadence gate ([[AsOfJoin.cadenceGatePerKey]]) on
    * a fixture whose per-key cadences GENUINELY differ — the reference
    * shape of a binocular rig with mismatched eye cameras (the 1/15 s cut
    * is 8 sample periods of a 120 Hz stream,
    * externals/data_processing.py:128-131; an eye at a different rate
    * wants its own period). Planted from `event_id` (= n, contiguous):
    *
    *  - eye A (dense, 120 Hz): every n, t = n/120
    *  - eye B (sparse, 30 Hz): n % 4 = 0, with periodic DROPOUTS
    *    (n % 64 < 32) — 7 of 8 surviving diffs are still exactly 1/30,
    *    so B's per-key median stays the clean sparse cadence
    *  - refs: n % 16 = 2 (offset +1/240 s), join-keyed by g = n % 5
    *
    * Gates: pooled median = 1/120 (the dense eye's diffs outnumber B's
    * 4:1) → gate 8/120 = 1/15; PER-KEY median = median{1/120, 1/30} =
    * 1/48 → gate 8/48 = 1/6. The survivor sets diverge maximally: a
    * ref's in-group B neighbors sit at n ± 10 (the index difference must
    * be ≡ 2 mod 4 and ≡ 0 mod 5), so every matched triple carries
    * dispersion 10/120 or 10/120 + 1/240 (0.083/0.088 s) — ABOVE the
    * pooled 1/15 (which would keep nothing) and below the per-key 1/6 —
    * while refs whose ±10 neighbors both fall in a B dropout match a
    * ≥ 30-step B sample and fail both gates (156 of 625 at sf0.01, so
    * the filter is non-trivial in both directions). The oracle derives
    * the per-key gate (DuckDB `median` grouped by eye, then median of
    * the two) and replays the triple, so the hash pins the per-key
    * semantics, not just the filter; the derived gate also ships as a
    * column. Multiplier is the reference-shaped default 8.
    *
    * Scale note: this fixture keys the gate by EYE alone (one planted
    * session), so each lag window is one task per eye — fine here, but
    * a production multi-session corpus should key by (session, eye) so
    * the diff windows distribute; the operator takes the key list for
    * exactly that reason. */
  def binocularTripleCadencePerKey(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_id").cast("long").as("n"))
    val eyeA = e.select((col("n") % 5).as("g"),
      (col("n") / lit(120.0)).as("t"), col("n").as("pa_id"))
    val eyeB = e.filter(col("n") % 4 === 0 && col("n") % 64 < 32)
      .select((col("n") % 5).as("g"),
        (col("n") / lit(120.0)).as("t"), col("n").as("pb_id"))
    val refs = e.filter(col("n") % 16 === 2)
      .select(col("n").as("event_id"), (col("n") % 5).as("g"),
        (col("n") / lit(120.0) + lit(1.0) / lit(240.0)).as("t"))
    val pupils = eyeA.select(lit(0).as("eye"), col("t"))
      .unionAll(eyeB.select(lit(1).as("eye"), col("t")))
    val gate = AsOfJoin.cadenceGatePerKey(pupils, "t", Seq("eye"),
      multiplier = 8.0)
      .getOrElse(Double.PositiveInfinity)
    AsOfJoin.triple(refs, eyeA, eyeB, "t", "t", "t", Seq("g"),
        maxDispersion = gate)
      .select(col("event_id"), col("a_pa_id").as("a_id"),
        col("b_pb_id").as("b_id"),
        (greatest(col("t"), col("a_t"), col("b_t")) -
          least(col("t"), col("a_t"), col("b_t"))).as("dispersion"),
        round(lit(gate), 6).as("gate"))
  }

  /** W11: ROI-tracked detection (CircleTracker.update,
    * externals/circle_detector.py:22-202): full-frame detect every 30
    * frames or on ROI miss, else detect inside the ROI around the last
    * hit. The planted marker drifts ≤ 30 px/frame (inside the 40 px ROI
    * pad) and TELEPORTS every 37 frames (> pad → ROI miss → full-frame
    * fallback), so the full/roi schedule and the detections are both in
    * closed form for the oracle. */
  def roiTracker(s: SparkSession, dir: String): DataFrame = {
    val frames = ev(s, dir).select(
      (col("event_id") % 5).as("session"),
      expr("event_id DIV 5").as("frame"))
    def px(f: Long): Double =
      (if ((f / 37) % 2 == 0) 100.0 else 400.0) + 3.0 * ((f * 7) % 11)
    def py(f: Long): Double =
      (if ((f / 37) % 2 == 0) 100.0 else 350.0) + 2.0 * ((f * 3) % 13)
    val detect = (i: Long, roi: RoiTracker.Roi) => {
      val (x, y) = (px(i), py(i))
      if (x >= roi.x && x <= roi.x + roi.w && y >= roi.y && y <= roi.y + roi.h)
        Some((x, y))
      else None
    }
    RoiTracker.trackFrames(frames, "frame", Seq("session"), detect,
      frameW = 1000.0, frameH = 1000.0, pad = 40.0, fullFrameEvery = 30)
  }

  // ------------------------------------------- source round-trips (r5)

  /** S4: .pldata (msgpack) + _timestamps.npy round-trip
    * (file_methods.py:133-193): events → PLData write (topic stream +
    * sidecar) → `format("pldata")` scan with the schema INFERRED from the
    * first record → rows. Exact: msgpack and npy both carry IEEE doubles
    * losslessly. [[pldataV2Roundtrip]] reads the same fixture with an
    * explicit catalog schema. */
  def pldataRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureTmp("graft_pldata")
    // bounded + bounded-job fixture write: range-partitioned 8-way sort
    // (see timestampScan) feeding PldataSource.write's toLocalIterator
    val rows = ev(s, dir)
      .repartitionByRange(FixturePartitions, col("event_id"))
      .sortWithinPartitions(col("event_id")).select(
      lit("gaze").as("topic"), col("t").as("timestamp"),
      array(col("value") / 500.0, (col("user_id") % 20) / 20.0).as("norm_pos"),
      (col("value") / 1000.0).as("confidence"), col("event_id").as("id"))
    PldataSource.write(rows, tmp, "gaze")
    s.read.format("pldata").option("topic", "gaze").load(tmp)
      .select(col("id"), col("timestamp"),
        element_at(col("norm_pos"), 1).as("nx"),
        element_at(col("norm_pos"), 2).as("ny"), col("confidence"))
  }

  /** S4 through the DataSource V2 surface ([[sources.PldataV2]]):
    * identical fixture and output to `s4_pldata_roundtrip`, read via
    * `spark.read.format("pldata")` with an explicit catalog schema —
    * the V2 scan prunes to the projected columns (plan-pinned by
    * PldataV2Spec) and plans one partition per session file. The two
    * rows pin the explicit and the inferred schema against one oracle. */
  def pldataV2Roundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = fixtureTmp("graft_pldata_v2")
    val rows = ev(s, dir)
      .repartitionByRange(FixturePartitions, col("event_id"))
      .sortWithinPartitions(col("event_id")).select(
      lit("gaze").as("topic"), col("t").as("timestamp"),
      array(col("value") / 500.0, (col("user_id") % 20) / 20.0).as("norm_pos"),
      (col("value") / 1000.0).as("confidence"), col("event_id").as("id"))
    PldataSource.write(rows, tmp, "gaze")
    s.read.format("pldata").option("topic", "gaze")
      .schema(StructType(Seq(
        StructField("timestamp", DoubleType),
        StructField("norm_pos", ArrayType(DoubleType)),
        StructField("confidence", DoubleType),
        StructField("id", LongType))))
      .load(tmp)
      .select(col("id"), col("timestamp"),
        element_at(col("norm_pos"), 1).as("nx"),
        element_at(col("norm_pos"), 2).as("ny"), col("confidence"))
  }

  /** S2: timestamp sidecar scan — the per-topic `_timestamps.npy` world
    * clock (odometry.py:43-58): write the sorted event clock as .npy v1
    * float64, read it back, emit (frame_index, timestamp). Exact doubles
    * both ways. */
  def timestampScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = fixtureTmp("graft_npy")
    // BOUNDED fixture write (r7 verdict #4): the sorted clock streams out
    // through toLocalIterator (one partition resident at a time) into the
    // buffered npy writer — driver memory stays flat in sf, vs. the old
    // full-collect whose Row array grew with the table. The sort is a
    // range-partition into FixturePartitions + per-partition sort (global
    // order across partition index), so the iterator pays 8 jobs instead
    // of one per shuffle partition; the header-patching NpyDoubleWriter
    // removes the extra count() the count-first form needed (r8 #3).
    val sorted = ev(s, dir)
      .repartitionByRange(FixturePartitions, col("t"), col("event_id"))
      .sortWithinPartitions(col("t"), col("event_id")).select(col("t"))
    val path = s"$tmp/world_timestamps.npy"
    val npyW = new PldataSource.NpyDoubleWriter(path)
    sorted.toLocalIterator().asScala.foreach(r => npyW.write(r.getDouble(0)))
    npyW.close()
    PldataSource.readNpyDoubles(path).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("frame_index", "timestamp")
  }

  /** S5: Pupil-Labs gaze_positions.csv export scan (read_pl_gaze_csv,
    * utils.py:12-17) — write the export layout
    * (`<session>/exports/111/gaze_positions.csv`), scan it back through
    * the CSV reader. Exact: Double.toString is shortest-round-trip and
    * the CSV parser reads it back to the same bits. */
  def gazeCsvScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureTmp("graft_csv")
    val exportDir = java.nio.file.Paths.get(tmp, "exports", "111")
    java.nio.file.Files.createDirectories(exportDir)
    // BOUNDED fixture write (r7 verdict #4): rows stream to the file
    // through toLocalIterator + a buffered writer — no full collect, no
    // whole-file StringBuilder; driver memory stays flat in sf
    val rows = ev(s, dir)
      .repartitionByRange(FixturePartitions, col("event_id"))
      .sortWithinPartitions(col("event_id")).select(
      col("t").as("gaze_timestamp"), (col("value") / 500.0).as("norm_pos_x"),
      ((col("user_id") % 20) / 20.0).as("norm_pos_y"),
      (col("value") / 1000.0).as("confidence"))
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      java.nio.file.Files.newOutputStream(
        exportDir.resolve("gaze_positions.csv")), "UTF-8"), 64 * 1024)
    try {
      w.write("gaze_timestamp,norm_pos_x,norm_pos_y,confidence\n")
      rows.toLocalIterator().asScala.foreach { r =>
        w.write(r.getDouble(0).toString); w.write(",")
        w.write(r.getDouble(1).toString); w.write(",")
        w.write(r.getDouble(2).toString); w.write(",")
        w.write(r.getDouble(3).toString); w.write("\n")
      }
    } finally w.close()
    PldataSource.readGazeCsv(s, tmp, 1)
      .select(col("timestamp"), element_at(col("norm_pos"), 1).as("nx"),
        element_at(col("norm_pos"), 2).as("ny"), col("confidence"))
  }

  /** S9: intrinsics store round-trip + broadcast attach
    * (file_methods.py:348-407): typed store → parquet → load → left join
    * onto a frame table by (camera, width, height); unknown cameras keep
    * null intrinsics. */
  def intrinsicsAttach(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureTmp("graft_intr")
    val store = IntrinsicsStore.toDf(s, Seq(
      IntrinsicsStore.Intrinsics("world", 2048, 1536, "radial",
        Seq(1000.0, 0.0, 1024.0, 0.0, 1000.0, 768.0, 0.0, 0.0, 1.0),
        Seq(0.1, -0.05)),
      IntrinsicsStore.Intrinsics("eye0", 400, 400, "radial",
        Seq(280.0, 0.0, 200.0, 0.0, 280.0, 200.0, 0.0, 0.0, 1.0),
        Seq(0.02, -0.01)),
      IntrinsicsStore.Intrinsics("eye1", 400, 400, "fisheye",
        Seq(282.0, 0.0, 201.0, 0.0, 282.0, 199.0, 0.0, 0.0, 1.0),
        Seq(0.03, -0.02))))
    IntrinsicsStore.save(store, s"$tmp/intrinsics")
    val loaded = IntrinsicsStore.load(s, s"$tmp/intrinsics")
    val frames = ev(s, dir).select(col("event_id"),
      when(col("user_id") % 4 === 0, "world")
        .when(col("user_id") % 4 === 1, "eye0")
        .when(col("user_id") % 4 === 2, "eye1")
        .otherwise("depth").as("camera"),
      when(col("user_id") % 4 === 0, 2048).otherwise(400).as("width"),
      when(col("user_id") % 4 === 0, 1536).otherwise(400).as("height"))
    IntrinsicsStore.attach(frames, loaded)
      .select(col("event_id"), col("model"),
        element_at(col("cameraMatrix"), 1).as("fx"),
        element_at(col("distCoeffs"), 1).as("k1"))
  }

  /** S6: manual epoch ranges from marker_times.yaml (split_time,
    * pipelines.py:519-539) driving the O4 frame-range limit: parse the
    * yaml, tag + filter a frame table per epoch list (start inclusive,
    * end exclusive). */
  def manualEpochsQuery(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureTmp("graft_yaml")
    val yaml =
      """calibration_frames:
        |  - [1000, 3000]
        |validation_frames:
        |  - [5000, 7000]
        |  - [8000, 9000]
        |""".stripMargin
    val file = java.nio.file.Paths.get(tmp, "marker_times.yaml")
    java.nio.file.Files.write(file, yaml.getBytes("UTF-8"))
    val cal = ManualEpochs.splitTime(file.toString, "calibration_frames")
    val vld = ManualEpochs.splitTime(file.toString, "validation_frames")
    val frames = ev(s, dir).select(col("event_id"),
      (col("event_id") % 10000).as("frame"))
    ManualEpochs.applyEpochs(frames, "frame", cal)
      .withColumn("split", lit("cal"))
      .unionByName(ManualEpochs.applyEpochs(frames, "frame", vld)
        .withColumn("split", lit("val")))
      .select(col("event_id"), col("epoch"), col("split"))
  }

  /** Shared S7/S8 stage DAG over the events table: one computed stage,
    * one empty→failed stage, one skipped downstream, one computed agg. */
  private def sentinelStages(dir: String): Seq[Pipeline.Stage] = Seq(
    Pipeline.Stage("clicks", Nil, (sp, _) =>
      ev(sp, dir).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"))),
    Pipeline.Stage("none", Nil, (sp, _) =>
      ev(sp, dir).filter(col("value") < 0.0)
        .select(col("event_id"))),
    Pipeline.Stage("downstream", Seq("none"), (_, in) => in("none")),
    Pipeline.Stage("clickagg", Seq("clicks"), (_, in) =>
      in("clicks").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))))

  /** S7: failure sentinel + downstream short-circuit (pipelines.py:
    * 112-115): the empty stage fails, its dependent is skipped, the
    * independent branch computes. Status table = the queryable lineage. */
  def pipelineSentinel(s: SparkSession, dir: String): DataFrame = {
    val root = fixtureTmp("graft_pipe")
    val res = Pipeline.run(s, root, sentinelStages(dir))
    Pipeline.statusTable(s, res).select(col("stage"), col("state"), col("rows"))
  }

  /** S8: memoization (pipelines.py:84-92): run the same DAG twice against
    * one root; the second run must re-read `_SUCCESS`-marked outputs
    * (Memoized, exact row counts from the sidecar) and re-skip failures. */
  def pipelineMemo(s: SparkSession, dir: String): DataFrame = {
    val root = fixtureTmp("graft_memo")
    Pipeline.run(s, root, sentinelStages(dir))
    val second = Pipeline.run(s, root, sentinelStages(dir))
    Pipeline.statusTable(s, second).select(col("stage"), col("state"), col("rows"))
  }

  /** MRI multi-run pipeline (pipeline_mri, pipelines.py:826-1041)
    * attested the way s7/s8 attest VedbPipeline (r7 verdict #6): the
    * BIDS-ish layout is WRITTEN from the planted m9 construction —
    * a fixed marker table plus four discovered run files (calibration
    * run-0 fits, run-1 is the validation epoch, task-mri runs 0/1 are
    * the main task; the event_id % 3 split gives each run a closed-form
    * row count) — then [[graft.pipeline.MriPipeline.run]] discovers the
    * runs by parsed (task, run), fits ONE calibration, fans the model
    * table out over every validation epoch and main run, and computes
    * the per-epoch error summary. The status table IS the oracle row:
    * stage × state × rows, with gaze stages preserving their run's
    * pupil count and the model/error stages each one artifact row. */
  /** The BIDS-layout fixture [[mriPipelineQuery]] consumes: planted
    * calibration markers + four run pupil files written under `base`.
    * Shared with the query's [[fixtureFrames]] entry (which writes to its
    * OWN temp base) so the bench attributes parquet-fixture export
    * separately from the pipeline run it feeds. */
  private def mriFixturePrep(s: SparkSession, dir: String, base: String): Unit = {
    val b = m9Base(s, dir, lit("cal"))
    m9Markers(b).drop("session").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/calibration_markers.parquet")
    val runsDir = s"$base/sub01/ses-01/runs"
    def writeRun(task: String, run: Int, pred: Column): Unit =
      m9Pupils(b.filter(pred)).drop("session").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$runsDir/sub01_ses-01_task-${task}_run-$run.parquet")
    writeRun("calibration", 0, lit(true))
    writeRun("calibration", 1, col("event_id") % 3 === 0)
    writeRun("mri", 0, col("event_id") % 3 === 1)
    writeRun("mri", 1, col("event_id") % 3 === 2)
  }

  def mriPipelineQuery(s: SparkSession, dir: String): DataFrame = {
    val base = fixtureTmp("graft_mri")
    mriFixturePrep(s, dir, base)
    val res = pipeline.MriPipeline.run(s, base, "sub01", "01", "mri")
    Pipeline.statusTable(s, res)
      .select(col("stage"), col("state"), col("rows"))
  }

  // --------------------------------------- planted-fit model oracles (r5)

  /** M1: the monomial design-matrix expansion (n=9 monocular set,
    * externals/calibrate_2d.py:89-247) as a distributed projection. */
  def polyFeaturesQuery(s: SparkSession, dir: String): DataFrame = {
    val px = col("value") / 500.0
    val py = (col("user_id") % 20) / 20.0
    val fs = PolyFeatures.cols(px, py, 9)
    ev(s, dir).select(col("event_id") +:
      fs.zipWithIndex.map { case (f, i) => f.as(s"f${i + 1}") }: _*)
  }

  /** Planted calibration grid shared by the direct model-fit queries
    * (m3/m5/m6/m7): 25 clusters on a deliberately IRREGULAR 5×5 grid
    * (breaks kernel-matrix symmetry → well-conditioned TPS/RBF systems),
    * pupil coords constant per cluster (jitter-free → the reduced points
    * are the same exact constants at every scale factor), marker targets
    * an EXACT affine of the pupil: gaze-model fits must reproduce the
    * affine to fp precision, which is the analytic oracle. */
  private def fitBase(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("cluster", col("event_id") % 25)
      .withColumn("px", lit(0.1) + (col("cluster") % 5) * 0.2 +
        ((col("cluster") * 7) % 3) * 0.013)
      .withColumn("py", lit(0.1) + floor(col("cluster") / 5) * 0.2 +
        ((col("cluster") * 3) % 5) * 0.007)
      .withColumn("mx", col("px") * 0.8 - col("py") * 0.3 + 0.15)
      .withColumn("my", col("px") * 0.2 + col("py") * 1.1 - 0.05)

  /** The 25 reduced (pupil, marker) constants, deterministic order. */
  private def fitPointsOf(base: DataFrame, mxCol: String = "mx",
                          myCol: String = "my"):
      (Array[Array[Double]], Array[Double], Array[Double]) = {
    val rows = base.select(col("cluster"), col("px"), col("py"),
        col(mxCol), col(myCol)).distinct().orderBy(col("cluster")).collect()
    (rows.map(r => Array(r.getDouble(1), r.getDouble(2))),
      rows.map(_.getDouble(3)), rows.map(_.getDouble(4)))
  }

  /** M3: two-pass robust polynomial calibration (calibrate_2d.py:19-86 /
    * calibration.py:102-183), n=3 affine model: cluster 7's targets are
    * grossly offset (+20/−20); pass 1 fits all rows, the |err| ≤ 8 gate
    * drops exactly the planted outlier rows, pass 2 on the exactly-affine
    * inliers recovers the planted coefficients to fp precision — the
    * coefficient row IS the oracle. */
  def robustPoly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = fitBase(s, dir)
      .withColumn("tx", col("mx") + when(col("cluster") === 7, 20.0).otherwise(0.0))
      .withColumn("ty", col("my") - when(col("cluster") === 7, 20.0).otherwise(0.0))
    val pts = base.select(col("px"), col("py"), col("tx"), col("ty")).collect()
    val ins = pts.map(r => Array(r.getDouble(0), r.getDouble(1)))
    val model = Poly.calibrate(ins, pts.map(_.getDouble(2)),
        pts.map(_.getDouble(3)), n = 3, screenSize = (2.0, 2.0),
        maxAbsErr = 8.0)
      .getOrElse(sys.error("robust poly fit rejected all points"))
    Seq((ins.length.toLong,
        rnd6(model.cx(0)), rnd6(model.cx(1)), rnd6(model.cx(2)),
        rnd6(model.cy(0)), rnd6(model.cy(1)), rnd6(model.cy(2))))
      .toDF("n_points", "cx1", "cx2", "cx3", "cy1", "cy2", "cy3")
  }

  private def rnd6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** M5: plain TPS fit (monocular_tps, λ=0.01; calibration.py:315-344):
    * TPS carries an exact affine tail, so on exactly-affine targets the
    * fitted warp is zero and the map reproduces the affine at EVERY
    * point — checked per cluster over all rows. */
  def tpsFitQuery(s: SparkSession, dir: String): DataFrame = {
    val base = fitBase(s, dir)
    val (pxy, mx, my) = fitPointsOf(base)
    val model = Calibrator.fitPoints(pxy, mx, my,
      Calibrator.Config(calibrationType = "monocular_tps")).get
    val (gx, gy) = model.mapCols(col("px"), col("py"))
    base.withColumn("_ok",
        abs(gx - col("mx")) < 1e-6 && abs(gy - col("my")) < 1e-6)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), bool_and(col("_ok")).as("all_ok"))
  }

  /** M6: TPS LOO-CV λ selection + outlier cut (_fit_tps_gaze_cv,
    * calibration.py:348-412): clusters 7 and 18 carry +5-offset targets;
    * the λ-averaged LOO error cut (median + 3σ) must drop exactly those
    * two anchors, and the refit on the 23 exactly-affine survivors is the
    * exact affine — n_anchors and the per-cluster check are both
    * analytic. */
  def tpsCvQuery(s: SparkSession, dir: String): DataFrame = {
    val base = fitBase(s, dir)
      .withColumn("tx", col("mx") +
        when(col("cluster") === 7 || col("cluster") === 18, 5.0).otherwise(0.0))
      .withColumn("ty", col("my") +
        when(col("cluster") === 7 || col("cluster") === 18, 5.0).otherwise(0.0))
    val (pxy, tx, ty) = fitPointsOf(base, "tx", "ty")
    val model = Calibrator.fitTpsCv(pxy, tx, ty, Calibrator.DefaultLambdas,
      maxStds = Some(3.0))
    val (gx, gy) = model.mapCols(col("px"), col("py"))
    base.withColumn("_ok",
        abs(gx - col("mx")) < 1e-6 && abs(gy - col("my")) < 1e-6)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), bool_and(col("_ok")).as("all_ok"))
      .withColumn("n_anchors", lit(model.anchorsX.length))
  }

  /** M7: RBF LOO-CV over the (smoothness × kernel) grid (_fit_rbf_cv,
    * calibration.py:239-313; grid order + first-minimum argmin parity).
    * Smoothness grid {0, 5, 50} on exactly-affine targets: smooth=0 wins
    * (heavy smoothing degrades LOO badly), and the winning
    * zero-smoothness fit INTERPOLATES its nodes — every event row sits on
    * a node, so gaze == marker to fp precision. */
  def rbfCvQuery(s: SparkSession, dir: String): DataFrame = {
    val base = fitBase(s, dir)
    val (pxy, mx, my) = fitPointsOf(base)
    val kernels = Seq("thin_plate", "multiquadric", "linear", "cubic")
    val (k, sm, _) = Rbf.looSelect(pxy, mx, my, kernels, Seq(0.0, 5.0, 50.0))
    val model = RbfMapModel(Rbf.fit(pxy, mx, k, sm), Rbf.fit(pxy, my, k, sm))
    val (gx, gy) = model.mapCols(col("px"), col("py"))
    base.withColumn("_ok",
        abs(gx - col("mx")) < 1e-4 && abs(gy - col("my")) < 1e-4)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), bool_and(col("_ok")).as("all_ok"))
      .withColumn("best_kernel", lit(k))
      .withColumn("best_smooth", lit(sm))
  }

  /** M12: PCA keypoint alignment (labeling.py:155-197, 260-276): 2×2
    * covariance of the pooled keypoints (sample = the full table here),
    * principal-axis rotation with the PC1→+x sign fix, applied
    * element-wise to every keypoint array. */
  def pcaAlignQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      array((col("doc_id") % 7).cast("double") * 0.5 + 1.0,
        (col("doc_id") % 11).cast("double") * 0.3,
        (col("doc_id") % 13).cast("double") * 0.25).as("xs"),
      array((col("doc_id") % 5).cast("double") * 0.8,
        (col("doc_id") % 17).cast("double") * 0.15 + 0.2,
        (col("doc_id") % 3).cast("double") * 1.1).as("ys"))
    LabelingOps.pcaAlign(docs, "xs", "ys", sampleN = 1000000)
      .select(col("doc_id"),
        (round(element_at(col("xs_aligned"), 1), 6) + 0.0).as("ax1"),
        (round(element_at(col("xs_aligned"), 2), 6) + 0.0).as("ax2"),
        (round(element_at(col("xs_aligned"), 3), 6) + 0.0).as("ax3"),
        (round(element_at(col("ys_aligned"), 1), 6) + 0.0).as("ay1"),
        (round(element_at(col("ys_aligned"), 2), 6) + 0.0).as("ay2"),
        (round(element_at(col("ys_aligned"), 3), 6) + 0.0).as("ay3"))
  }

  /** M13: eyelid distance — max vertical gap between the lower and upper
    * lid keypoint arrays (labeling.py:200-296). */
  def eyelidDistQuery(s: SparkSession, dir: String): DataFrame = {
    val top = array((col("value") / 100.0),
      (col("value") / 100.0) + (col("user_id") % 5).cast("double") * 0.1,
      (col("value") / 100.0) - (col("event_id") % 3).cast("double") * 0.2)
    val bottom = array((col("value") / 100.0) + 1.0,
      (col("value") / 100.0) + (col("user_id") % 7).cast("double") * 0.3,
      (col("value") / 100.0) + (col("event_id") % 4).cast("double") * 0.5)
    ev(s, dir).select(col("event_id"),
      LabelingOps.eyelidDistance(top, bottom).as("lid_dist"))
  }

  /** C2 → M12 → M13 → W5 composed: the pylids keypoint seam exercised
    * end-to-end (pipelines.py:105-106, 736). The detector-shaped kernel
    * ([[graft.multimodal.VisionOps.detectKeypointsVideo]]) emits the
    * reference's `dlc_kpts_x/y` + `dlc_confidence` columns per decoded
    * eye-video frame of the planted-blink fixture; the keypoints are
    * PCA-aligned (M12), reduced to a per-frame eyelid distance (M13),
    * and the blink FSM (W5) recovers the planted closure — whose
    * segment is the fixture's closed-form constant, so the oracle
    * attests the whole chain, not just the kernel. */
  def cvKeypointsPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VisionFixtures, VisionOps}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_blink")
    // persisted: the PCA moment aggregations AND the downstream series
    // all read the detect output — without it the decode+detect kernel
    // lineage runs once per consumer (3× the heaviest work in the query)
    val kp = CacheRegistry.persistTracked(
      VisionOps.detectKeypointsVideo(media))
    val aligned = LabelingOps.pcaAlignDistributed(kp,
      "dlc_kpts_x", "dlc_kpts_y")
    val n = (size(col("dlc_kpts_y_aligned")) / 2).cast("int")
    val series = CacheRegistry.persistTracked(aligned.select(
      col("media_id"),
      col("frame_index").cast("double").as("t"),
      col("dlc_confidence"),
      LabelingOps.eyelidDistance(
        slice(col("dlc_kpts_y_aligned"), lit(1), n),
        slice(col("dlc_kpts_y_aligned"), n + lit(1), n)).as("lid_dist")))
    val blinks = LabelingOps.blinkSegments(
      series.select("media_id", "t", "lid_dist"), "t", "lid_dist",
      Seq("media_id"))
    val perMedia = series.groupBy(col("media_id")).agg(
      (round(max(col("dlc_confidence")), 6) + 0.0).as("conf"),
      (round(max(col("lid_dist")), 6) + 0.0).as("dist_open"),
      (round(min(col("lid_dist")), 6) + 0.0).as("dist_closed"))
    blinks.join(perMedia, "media_id")
      .select(col("media_id"), col("conf"), col("dist_open"),
        col("dist_closed"), col("onset"), col("offset"), col("duration"),
        col("n_frames"))
  }

  /** Planted inputs for the DIRECT A5/M11 queries: 4 marker clusters of 5
    * symmetric-jitter detections whose medians are EXACTLY the corners of
    * the unit-square-inset hull (0.2/0.8), matched gaze offset by a
    * constant +0.01 in x (dy = 0), so every reduced point carries the
    * same angular error and the TPS surface degenerates to that constant
    * — the planted-surface trick: grid value, hull mask, histogram
    * weights, and the summary all have closed forms the oracle replays
    * without touching the Breeze solve. 20 extra unmatched gaze rows sit
    * at (0.05, ~0.05) OUTSIDE the hull, so the excluded fraction and the
    * weighted error attest the hull clamp non-vacuously. */
  private def m11Inputs(s: SparkSession, dir: String): ErrorMap.Result = {
    val base = Tables.events(s, dir).filter(col("event_id") < 20)
      .select(col("event_id"),
        (col("event_id") % 4).as("cl"), expr("event_id DIV 4").as("j"))
    val cx = when(col("cl").isin(1, 2), 0.8).otherwise(0.2)
    val cy = when(col("cl").isin(2, 3), 0.8).otherwise(0.2)
    val jx = (col("j") - 2) * 0.01
    val jy = (col("j") * 3 % 5 - 2) * 0.01
    val markers = base.select(
      col("event_id").cast("double").as("timestamp"),
      (cx + jx).as("norm_x"), (cy + jy).as("norm_y"),
      col("cl").as("marker_cluster_index"), lit(0L).as("session"))
    val gazeMatched = base.select(
      col("event_id").cast("double").as("timestamp"),
      ((cx + jx) + 0.01).as("norm_x"), (cy + jy).as("norm_y"),
      lit(1.0).as("confidence"), lit(0L).as("session"))
    val gazeExtra = Tables.events(s, dir)
      .filter(col("event_id") >= 20 && col("event_id") < 40)
      .select((col("event_id") + 1000).cast("double").as("timestamp"),
        lit(0.05).as("norm_x"),
        (lit(0.05) + (col("event_id") % 5) * 0.001).as("norm_y"),
        lit(1.0).as("confidence"), lit(0L).as("session"))
    model.ErrorMap.compute(markers, gazeMatched.unionByName(gazeExtra),
      model.ErrorMap.Config(matchKeys = Seq("session")))
  }

  /** M11 direct: the 300×400 error surface itself — inside-hull cells
    * carry the planted constant error, outside-hull cells are null, so a
    * regression in the grid evaluation or the convex-hull mask can no
    * longer hide behind `m9_gaze_pipeline`'s summary hash. */
  def m11ErrorGrid(s: SparkSession, dir: String): DataFrame =
    m11Inputs(s, dir).grid.select(col("iy"), col("ix"),
      (round(col("err"), 6) + 0.0).as("err"))

  /** A5 direct: the gaze-histogram-weighted session error summary
    * (error_computation.py:151-214) over the same planted surface. */
  def a5WeightedError(s: SparkSession, dir: String): DataFrame =
    m11Inputs(s, dir).summary.select(
      (round(col("gaze_err_weighted"), 6) + 0.0).as("gaze_err_weighted"),
      (round(col("gaze_fraction_excluded"), 6) + 0.0)
        .as("gaze_fraction_excluded"),
      col("n_points"),
      (round(col("err_median"), 6) + 0.0).as("err_median"),
      (round(col("err_mean"), 6) + 0.0).as("err_mean"))

  /** REAL image resize attested end-to-end: planted pupil PNGs →
    * [[graft.multimodal.MultimodalOps.resizeHalf]] (decode → 2×2
    * area-average → re-encode) → a SECOND decode via
    * [[graft.multimodal.MultimodalOps.frameLuminance]]. The output mean
    * gray of the resized plane has a closed form from the planted
    * ellipse (per-block dark counts + the shared luma/rounding rules),
    * so any pixel error in the resample or the re-encode shifts the
    * hash. */
  def mmResizeLuminance(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "pupil")
    val rs = CacheRegistry.persistTracked(MultimodalOps.resizeHalf(media))
    MultimodalOps.frameLuminance(rs)
      .join(rs.select(col("media_id"), col("meta.width").as("w"),
        col("meta.height").as("h")), "media_id")
      .select(col("media_id"), col("w"), col("h"),
        (round(col("luminance"), 6) + 0.0).as("mean_gray"))
  }

  /** VIDEO resize attested per frame: drifting-pupil GPNV containers →
    * the FUSED [[graft.multimodal.MultimodalOps.resizeHalfVideoLuminance]]
    * (per frame: decode → 2×2 area-average → mean luma of the resized
    * plane, one codec pass — bit-identical to the two-operator
    * resizeHalfVideo → videoFrameLuminance composition, which pays a
    * re-encode + re-decode per frame for an artifact this lineage never
    * persists; MultimodalSpec pins the parity, the oracle is unchanged).
    * Same planted-grid replay as `mm_resize_luminance`, keyed by
    * (media, frame) with the per-frame drifted ellipse center. */
  def mmVideoResize(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MultimodalOps, VisionFixtures}
    val media = VisionFixtures.plantMedia(
      Tables.documents(s, dir), "doc_id", "video_png")
    MultimodalOps.resizeHalfVideoLuminance(media)
      .select(col("media_id"), col("frame_index"),
        (round(col("luminance"), 6) + 0.0).as("mean_gray"))
  }

  /** A10: element-wise mean of array frames per group (the average-frames
    * QC image, visualization.py:501-522) via the partial-aggregating
    * [[graft.functions.ArrayMean]] Aggregator. */
  def avgFrames(s: SparkSession, dir: String): DataFrame = {
    val frame = array(col("value") / 100.0,
      (col("user_id") % 20).cast("double") * 0.05,
      (col("event_id") % 7).cast("double") * 0.1,
      col("value") / 250.0 + (col("user_id") % 3).cast("double"),
      (col("event_id") % 11).cast("double") * 0.02)
    ev(s, dir).select(col("event_type"), frame.as("frame"))
      .groupBy(col("event_type"))
      .agg(graft.functions.ArrayMean.arrayMean(col("frame")).as("m"))
      .select(col("event_type"),
        (round(element_at(col("m"), 1), 6) + 0.0).as("m1"),
        (round(element_at(col("m"), 2), 6) + 0.0).as("m2"),
        (round(element_at(col("m"), 3), 6) + 0.0).as("m3"),
        (round(element_at(col("m"), 4), 6) + 0.0).as("m4"),
        (round(element_at(col("m"), 5), 6) + 0.0).as("m5"))
  }
}
