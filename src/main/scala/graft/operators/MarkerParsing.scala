package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Marker-parsing operators — the reference's detection-cleaning stage
  * (file:line relative to the reference's vedb_gaze/marker_parsing.py).
  *
  *  - snapTimestamps (J5): float-drift repair :83-102
  *  - removeBriefDetections (W3): dedup + presence-RLE + duration gate :53-111
  *  - sizeAspect (P5): marker size/aspect derivation :148-161
  *  - removeSmallDetections (P7): size/aspect/bimodality filter :114-184
  *  - filterAndCluster: the full A1→J5→W3→P7→W2→A7→A3 composition
  *    (filter_and_cluster, :470-622 driver flow)
  *
  * The component operators are declarative DataFrame transforms that work
  * on any number of sessions (the oracle queries use them). The full
  * composition is different: the reference runs it as one in-memory pass
  * over ONE session's marker table, and restating it as windows, joins
  * and group-bys over a keyless (single-partition) frame cost about 20
  * Spark jobs of planning overhead for a few thousand rows. So
  * [[filterAndCluster]] runs the whole composition as one per-session
  * kernel on arrays inside one Spark task ([[MarkerCleanKernel]]).
  */
object MarkerParsing {

  /** J5: timestamps within `tol` (1e-8 s) of a reference-clock timestamp
    * snap to it exactly. Bucketed range join on floor(ts/tol) (the
    * windowAgg de-thetafication), then coalesce. */
  def snapTimestamps(df: DataFrame, clock: DataFrame, tsCol: String,
                     clockTs: String, tol: Double = 1e-8): DataFrame = {
    val d = df.withColumn("_b", floor(col(tsCol).cast("double") / tol).cast("long"))
    val c = clock.select(col(clockTs).cast("double").as("_ct"))
      .withColumn("_cb", floor(col("_ct") / tol).cast("long"))
      .withColumn("_b", explode(array(col("_cb") - 1, col("_cb"), col("_cb") + 1)))
      .drop("_cb")
    d.join(c, Seq("_b"), "left")
      .withColumn("_match",
        when(abs(col("_ct") - col(tsCol).cast("double")) < tol, col("_ct")))
      .groupBy(df.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("_match")).as("_snap"))
      .withColumn(tsCol, coalesce(col("_snap"), col(tsCol).cast("double")))
      .drop("_snap")
  }

  /** W3: drop duplicate-timestamp rows (all copies), snap float-drifted
    * timestamps onto the clock (the reference's 1e-8 in1d repair,
    * :83-102 — J5), then drop detection runs shorter than
    * `durationThreshold` seconds. A run = consecutive presence in the
    * reference clock (frame granularity): a marker row is kept iff its
    * RLE segment over the clock index lasts long enough. */
  def removeBriefDetections(markers: DataFrame, clock: DataFrame,
                            tsCol: String, clockTs: String,
                            durationThreshold: Double = 0.6,
                            keys: Seq[String] = Nil): DataFrame = {
    val deduped = snapTimestamps(
      TimeSeriesOps.dropDuplicateTimestamps(markers, tsCol, keys),
      clock, tsCol, clockTs)
    // mark clock rows by marker presence, RLE over the clock, gate, semi-join
    val present = deduped.select((keys.map(k => col(k).as(s"_p_$k")) :+
      col(tsCol).cast("double").as("_mt")): _*).distinct()
    val marked = clock.select((keys.map(col) :+
        col(clockTs).cast("double").as("_ct")): _*)
      .join(present,
        keys.foldLeft(col("_ct") === col("_mt")) { (c, k) =>
          c && col(k) === col(s"_p_$k")
        }, "left")
    val segs = TimeSeriesOps.rleSegments(
      marked, "_ct", col("_mt").isNotNull, keys)
      .filter(col("duration") > durationThreshold)
    val windows = segs.select((keys.map(k => col(k).as(s"_w_$k")) :+
      col("onset") :+ col("offset")): _*)
    val joinCond = keys.foldLeft(
      col(tsCol).cast("double") >= col("onset") &&
        col(tsCol).cast("double") <= col("offset")) { (c, k) =>
      c && col(k) === col(s"_w_$k")
    }
    deduped.join(broadcast(windows), joinCond, "left_semi")
  }

  /** P5: mean size + aspect ratio columns from a `size` array<double>[2]
    * (checkerboard variant takes the corner-extent ptp upstream). */
  def sizeAspect(df: DataFrame, sizeCol: String,
                 aspectType: String = "x/y"): DataFrame = {
    val sx = element_at(col(sizeCol), 1).cast("double")
    val sy = element_at(col(sizeCol), 2).cast("double")
    val aspect = aspectType match {
      case "x/y" => sx / sy
      case "max/min" => greatest(sx, sy) / least(sx, sy)
      case other => throw new IllegalArgumentException(other)
    }
    df.withColumn("marker_size", (sx + sy) / 2.0)
      .withColumn("marker_aspect", aspect)
  }

  /** P5 checkerboard variant: derive the `size` array from the
    * corner-extent ptp of the checkerboard corner grid, with the x extent
    * scaled by the image aspect ratio — norm_pos is 0-1 on both axes, so
    * marker aspect is wrong without the correction
    * (marker_parsing.py:150-156). Output feeds [[sizeAspect]] /
    * [[removeSmallDetections]] exactly like the circles path. */
  def checkerboardSize(df: DataFrame,
                       cornersCol: String = "norm_pos_full_checkerboard",
                       imageAspectRatio: Double = 4.0 / 3.0): DataFrame = {
    def axis(i: Int) = transform(col(cornersCol), c => element_at(c, i))
    def ptp(i: Int) = array_max(axis(i)) - array_min(axis(i))
    df.withColumn("size", array(ptp(1) * imageAspectRatio, ptp(2)))
  }

  /** P7: remove small/oblique detections — bimodality keep-larger-mode
    * (A6, driver-side 2-means on the collected size column), optional
    * median−k·std size floor, aspect-ratio gate (:114-184).
    *
    * All keep-masks are computed over the FULL marker set and intersected
    * (the reference ANDs the three masks, and median/std come from the
    * unfiltered sizes — marker_parsing.py:157-175), NOT applied
    * sequentially: with both thresholds set, a sequential composition
    * would compute the std floor over the already-bimodality-filtered
    * sizes and diverge.
    *
    * The bimodality mask is computed per `groupCols` group inside
    * `flatMapGroups` ([[ClusterOps.bimodalKeepFlag]]) — no driver collect;
    * `groupCols = Nil` is the reference's one-marker-table-per-session
    * case (one global group). */
  def removeSmallDetections(df: DataFrame, sizeCol: String,
                            sizeStdThreshold: Option[Double] = None,
                            bimodalStdThreshold: Option[Double] = Some(2.5),
                            aspectThreshold: Option[Double] = Some(1.2),
                            aspectType: String = "x/y",
                            keepLessThan: Boolean = true,
                            groupCols: Seq[String] = Nil): DataFrame = {
    // persisted (tracked): up to three consumers read this frame — the
    // bimodality cut fit, the join probe side, and the std-floor agg
    val withSz = graft.CacheRegistry.persistTracked(
      sizeAspect(df, sizeCol, aspectType))
    val sz = col("marker_size").cast("double")
    val (flagged, bimodalPred): (DataFrame, Option[Column]) =
      bimodalStdThreshold match {
        case Some(k) =>
          (ClusterOps.bimodalKeepFlag(withSz, groupCols, "marker_size", k),
            Some(col("_bimodal_keep")))
        case None => (withSz, None)
      }
    val stdPred: Option[Column] = sizeStdThreshold.map { k =>
      val r = withSz.agg(
        expr("percentile(marker_size, 0.5)"),
        // population std, numpy np.std semantics
        sqrt(avg(col("marker_size") * col("marker_size")) -
          avg(col("marker_size")) * avg(col("marker_size")))).first()
      sz > (r.getDouble(0) - r.getDouble(1) * k)
    }
    val aspectPred: Option[Column] = aspectThreshold.map { t =>
      if (keepLessThan) col("marker_aspect") < t else col("marker_aspect") > t
    }
    (bimodalPred.toSeq ++ stdPred ++ aspectPred).foldLeft(flagged)(_ filter _)
      .drop("_bimodal_keep")
  }

  /** The full marker-cleaning composition (filter_and_cluster) for one
    * session: A1 dedup → J5 snap → W3 brief-removal → P7 size filter →
    * W2 epoch split (gap > epochGap, duration gates) → A7 per-epoch DBSCAN
    * over (ts_norm + 2, x·aspect, y) features (:352-384) → A3 cluster
    * gates. Returns the marker rows (timestamp cast to double and snapped)
    * + marker_size, marker_aspect, epoch and marker_cluster_index; empty
    * when fewer than `minClusters` clusters survive.
    *
    * Plan: the world clock is collected once to a sorted array, then
    * `coalesce(1).mapPartitions` runs [[MarkerCleanKernel]] over all of
    * the session's rows in one task — one job for the clock, one for the
    * consumer. The semantics are those of composing the public operators
    * (snapTimestamps, removeBriefDetections, removeSmallDetections,
    * sessionize + sessionDurationFilter, dbscan, clusterGate), which
    * MarkerParsingSpec checks row for row. Null or NaN clock values are
    * not frames. */
  def filterAndCluster(markers: DataFrame, clock: DataFrame,
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
    // the derived columns are recomputed, so stale copies in the input go
    val in = markers.drop("marker_size", "marker_aspect", "epoch", "marker_cluster_index")
      .withColumn(tsCol, col(tsCol).cast("double"))
    val ticks = clock.select(col(clockTs).cast("double")).collect()
      .collect { case r if !r.isNullAt(0) && !r.getDouble(0).isNaN => r.getDouble(0) }
    java.util.Arrays.sort(ticks)
    val outSchema = in.schema.add("marker_size", DoubleType)
      .add("marker_aspect", DoubleType).add("epoch", LongType)
      .add("marker_cluster_index", LongType)
    val kernel = new MarkerCleanKernel(ticks,
      in.schema.fieldIndex(tsCol), in.schema.fieldIndex(sizeCol),
      in.schema.fieldIndex("norm_pos"),
      in.sparkSession.sessionState.conf.ansiEnabled, imageAspect, epochGap,
      epochDuration, dbscanEps, dbscanMinPoints, clusterDuration,
      minClusters, assumedEpochTime)
    in.coalesce(1).mapPartitions(it => kernel(it.toArray))(Encoders.row(outSchema))
  }

  /** [[filterAndCluster]] for CHECKERBOARD detections
    * (schemas.Schemas.markerCheckerboard): the reference derives the size
    * pair from the corner-grid ptp (x scaled by the image aspect) when
    * the marker table has `norm_pos_full_checkerboard` instead of `size`
    * (remove_small_detections, marker_parsing.py:148-156; detection rows
    * from find_checkerboard_frame, marker_detection.py:243-258). Every
    * downstream step — brief-removal, P7 masks, epoch split, DBSCAN,
    * cluster gates — is identical to the circles path; the corner arrays
    * ride along into the clustered output. */
  def filterAndClusterCheckerboard(markers: DataFrame, clock: DataFrame,
                                   tsCol: String = "timestamp",
                                   clockTs: String = "timestamp",
                                   cornersCol: String = "norm_pos_full_checkerboard",
                                   imageAspect: Double = 4.0 / 3.0,
                                   epochGap: Double = 15.0,
                                   epochDuration: (Double, Double) = (30.0, 150.0),
                                   dbscanEps: Double = 0.05,
                                   dbscanMinPoints: Int = 5,
                                   clusterDuration: (Double, Double) = (0.2, 5.0),
                                   minClusters: Int = 1): DataFrame =
    filterAndCluster(
      checkerboardSize(markers, cornersCol, imageAspect), clock,
      tsCol, clockTs, sizeCol = "size", imageAspect = imageAspect,
      epochGap = epochGap, epochDuration = epochDuration,
      dbscanEps = dbscanEps, dbscanMinPoints = dbscanMinPoints,
      clusterDuration = clusterDuration, minClusters = minClusters)
}

/** [[MarkerParsing.filterAndCluster]]'s per-session kernel: the A1 → J5 →
  * W3 → P7 → W2 → A7 → A3 composition over one session's rows in memory.
  * Rows arrive with the timestamp (`ts`) already cast to double. Each step
  * keeps the semantics of the public operator it replaces:
  *
  *  - A1: every copy of a duplicated timestamp drops;
  *  - J5: a timestamp snaps to the least clock value c with
  *    |c − ts| < 1e-8 whose 1e-8 bucket is within one of the timestamp's
  *    (the bucketed range join of [[MarkerParsing.snapTimestamps]]);
  *  - W3: clock frames whose value equals a snapped timestamp are present;
  *    present runs over the clock order with offset − onset > 0.6 keep
  *    the rows whose snapped timestamp lies in [onset, offset];
  *  - P7: marker_size = (sx + sy) / 2, marker_aspect = sx / sy, with
  *    Spark's null and ANSI error semantics for element_at and division;
  *    the 2.5σ bimodal cut is fitted over every surviving size — when the
  *    set is bimodal, NaN sizes survive and null sizes drop — then
  *    aspect < 1.2;
  *  - W2: a gap > epochGap starts an epoch; epochs whose duration is
  *    strictly inside `epochDuration` stay;
  *  - A7: DBSCAN per epoch over ((t − epoch min) / assumedEpochTime + 2,
  *    x·imageAspect, y), rows in timestamp order (null features are NaN).
  *    t is scaled by a constant, not the epoch's ptp, so cluster spacing
  *    is the same in every epoch (marker_parsing.py:366-378). Labels
  *    restart at 0 per epoch (the reference clusters each epoch file
  *    separately), so the label is epoch·100000 + cluster, noise −1;
  *  - A3: clusters whose duration is strictly inside `clusterDuration`
  *    stay; fewer than `minClusters` of them → no rows.
  *
  * Output rows come in timestamp order: the input fields, then
  * marker_size, marker_aspect, epoch and marker_cluster_index. */
private[operators] final class MarkerCleanKernel(
    ticks: Array[Double], ts: Int, size: Int, pos: Int, ansi: Boolean, imageAspect: Double, epochGap: Double,
    epochDuration: (Double, Double), eps: Double, minPoints: Int,
    clusterDuration: (Double, Double), minClusters: Int,
    assumedEpochTime: Double) extends Serializable {

  private val SnapTol = 1e-8
  private val BriefRun = 0.6
  private val BimodalSigmas = 2.5
  private val MaxAspect = 1.2

  /** One marker on its way through the steps. */
  private final class M(val row: Row, var t: Double) {
    var size: java.lang.Double = _
    var aspect: java.lang.Double = _
  }

  def apply(rows: Array[Row]): Iterator[Row] = {
    // A1 — null and NaN timestamps never equal a clock frame, so W3 would
    // drop them anyway
    val sorted = rows.filter(r => !r.isNullAt(ts) && !r.getDouble(ts).isNaN)
      .map(r => new M(r, r.getDouble(ts))).sortBy(_.t)(Ordering.Double.TotalOrdering)
    val uniq = Array.newBuilder[M]
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j).t == sorted(i).t) j += 1
      if (j == i + 1) uniq += sorted(i)
      i = j
    }
    // J5 + W3
    val snapped = uniq.result()
    snapped.foreach(m => m.t = snap(m.t))
    val runs = presentRuns(snapped)
    val brief = snapped.filter(m => inRuns(runs, m.t))
      .sortBy(_.t)(Ordering.Double.TotalOrdering)
    // P7
    brief.foreach { m =>
      val sx = elem(m.row, size, 0); val sy = elem(m.row, size, 1)
      if (sx != null && sy != null) {
        val (x, y) = (sx.doubleValue, sy.doubleValue)
        m.size = (x + y) / 2.0
        m.aspect = if (y != 0.0) java.lang.Double.valueOf(x / y)
          else if (ansi) throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] Division by zero: marker size y is 0")
          else null
      }
    }
    val cut = LocalDbscan.bimodalCut(
      brief.collect { case m if m.size != null && !m.size.isNaN => m.size.doubleValue }, BimodalSigmas)
    val cleaned = brief.filter { m =>
      cut.forall(c => m.size != null && (m.size.isNaN || m.size >= c)) &&
        m.aspect != null && m.aspect < MaxAspect
    }
    // W2: epoch ids count the gaps over every cleaned row, before the gate
    val epochs = Seq.newBuilder[(Long, Array[M])]
    var (start, epoch) = (0, 0L)
    for (k <- 1 to cleaned.length)
      if (k == cleaned.length || cleaned(k).t - cleaned(k - 1).t > epochGap) {
        val d = cleaned(k - 1).t - cleaned(start).t
        if (d > epochDuration._1 && d < epochDuration._2)
          epochs += ((epoch, cleaned.slice(start, k)))
        start = k; epoch += 1
      }
    // A7 + A3
    val labelled = epochs.result().flatMap { case (e, ms) =>
      val t0 = ms.head.t
      val feats = ms.map { m =>
        val x = elem(m.row, pos, 0); val y = elem(m.row, pos, 1)
        Array((m.t - t0) / assumedEpochTime + 2.0,
          if (x == null) Double.NaN else x * imageAspect,
          if (y == null) Double.NaN else y.doubleValue)
      }
      val labels = LocalDbscan.fit(feats, eps, minPoints)
      ms.indices.map(k =>
        (ms(k), e, if (labels(k) == -1) -1L else e * 100000 + labels(k)))
    }
    val kept = labelled.filter(_._3 != -1L).groupBy(_._3).filter { case (_, ms) =>
      val d = ms.map(_._1.t).max - ms.map(_._1.t).min
      d > clusterDuration._1 && d < clusterDuration._2
    }.keySet
    if (kept.size < minClusters) Iterator.empty
    else labelled.iterator.filter(l => kept.contains(l._3)).map { case (m, e, c) =>
      Row.fromSeq(m.row.toSeq.updated(ts, m.t) ++ Seq(m.size, m.aspect, e, c))
    }
  }

  /** J5: the least clock value within the tolerance, or `t` itself.
    * fl(c − t) is monotone in c, so the candidates are one sorted slice. */
  private def snap(t: Double): Double = {
    var lo = 0; var hi = ticks.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ticks(mid) - t > -SnapTol) hi = mid else lo = mid + 1
    }
    val b = math.floor(t / SnapTol).toLong
    var k = lo
    while (k < ticks.length && ticks(k) - t < SnapTol) {
      if (math.abs(math.floor(ticks(k) / SnapTol).toLong - b) <= 1) return ticks(k)
      k += 1
    }
    t
  }

  /** W3: (onset, offset) of the present clock runs longer than BriefRun. */
  private def presentRuns(ms: Array[M]): Array[(Double, Double)] = {
    // join keys compare -0.0 equal to 0.0
    def key(v: Double): java.lang.Double = if (v == 0.0) 0.0 else v
    val present = new java.util.HashSet[java.lang.Double]()
    ms.foreach(m => present.add(key(m.t)))
    val runs = Array.newBuilder[(Double, Double)]
    var k = 0
    while (k < ticks.length) {
      if (present.contains(key(ticks(k)))) {
        var e = k
        while (e + 1 < ticks.length && present.contains(key(ticks(e + 1)))) e += 1
        if (ticks(e) - ticks(k) > BriefRun) runs += ((ticks(k), ticks(e)))
        k = e + 1
      } else k += 1
    }
    runs.result()
  }

  private def inRuns(runs: Array[(Double, Double)], t: Double): Boolean = {
    // last run with onset <= t
    var lo = 0; var hi = runs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (runs(mid)._1 <= t) lo = mid + 1 else hi = mid
    }
    lo > 0 && t <= runs(lo - 1)._2
  }

  /** element_at(arr, i + 1) cast to double, Spark semantics. */
  private def elem(r: Row, c: Int, i: Int): java.lang.Double =
    if (r.isNullAt(c)) null
    else {
      val a = r.getSeq[Any](c)
      if (i < a.length) a(i) match {
        case n: Number => java.lang.Double.valueOf(n.doubleValue)
        case _ => null
      }
      else if (ansi) throw new ArrayIndexOutOfBoundsException(
        s"[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] The index ${i + 1} is out of " +
          s"bounds. The array has ${a.length} elements.")
      else null
    }
}

