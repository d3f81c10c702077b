package graft.model

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.operators.AsOfJoin

/** The match → gate → reduce step of calibration and validation error,
  * run over one session's arrays inside one Spark task. [[Calibrator.fit]]
  * and [[ErrorMap.summary]] run one over a single session
  * ([[SessionPoints.apply]]); [[SessionCalibrator.reducedPoints]] and
  * [[ErrorMap.summaryBySession]] run one per session of a corpus
  * ([[SessionPoints.bySession]]). It replaces an [[AsOfJoin.nearest]]
  * followed by a `percentile` group-by and keeps their semantics:
  *
  *  1. each marker row takes its nearest right row (a pupil or gaze
  *     sample) by [[AsOfJoin.nearestIndex]]. A null-ts marker takes the
  *     earliest right row. Null-ts right rows match only when no right row
  *     has a timestamp, and then the last of them matches. With a
  *     `window`, a match stays only when its distance is ≤ the window in
  *     Spark's order, `nearest`'s tolerance rule: a null or NaN distance
  *     drops it;
  *  2. a match stays when the right row's confidence is > the gate, in
  *     Spark's order (a NaN confidence passes, a null one does not);
  *  3. the kept matches reduce to one point per `marker_cluster_index`,
  *     the [[SessionPoints.median]] of each coordinate, in cluster order
  *     (null first). Without the cluster column, or with reduction off,
  *     every kept marker row is a point, in marker table order.
  *
  * Marker rows hold (timestamp, norm_x, norm_y [, marker_cluster_index]),
  * see [[SessionPoints.markerColumns]]; the right rows arrive as
  * (timestamp, x, y, confidence), see [[SessionPoints.rightColumns]]. */
private[model] final class SessionPoints private (
    ts: Array[java.lang.Double], x: Array[java.lang.Double],
    y: Array[java.lang.Double], cluster: Option[Array[java.lang.Long]],
    minConfidence: Double, window: Option[Double]) extends Serializable {

  /** The points, as rows of [[SessionPoints.Schema]]. */
  def apply(right: Array[Row]): Array[Row] = {
    val timed = right.filter(!_.isNullAt(0))
      .sortBy(_.getDouble(0))(Ordering.Double.TotalOrdering)
    val rts = timed.map(_.getDouble(0))
    val untimed = right.lastIndexWhere(_.isNullAt(0))
    // the matched right row and its distance (null when a timestamp is)
    def matched(i: Int): (Row, java.lang.Double) =
      if (timed.isEmpty) (if (untimed < 0) null else right(untimed), null)
      else if (ts(i) == null) (timed(0), null)
      else {
        val t = ts(i).doubleValue
        val j = AsOfJoin.nearestIndex(rts, t)
        (timed(j), if (AsOfJoin.sqlGreater(rts(j), t)) rts(j) - t else t - rts(j))
      }
    val kept = ts.indices.flatMap { i =>
      val (r, dist) = matched(i)
      if (r != null && !r.isNullAt(3) &&
          AsOfJoin.sqlGreater(r.getDouble(3), minConfidence) &&
          window.forall(w => dist != null && !AsOfJoin.sqlGreater(dist, w)))
        Some((i, SessionPoints.boxed(r, 1), SessionPoints.boxed(r, 2)))
      else None
    }
    cluster match {
      case None => kept.map { case (i, rx, ry) => Row(null, x(i), y(i), rx, ry) }.toArray
      case Some(c) =>
        kept.groupBy(k => Option(c(k._1)).map(_.longValue)).toArray.sortBy(_._1)
          .map { case (id, ks) =>
            import SessionPoints.median
            Row(id.map(Long.box).orNull, median(ks.map(k => x(k._1))),
              median(ks.map(k => y(k._1))), median(ks.map(_._2)), median(ks.map(_._3)))
          }
    }
  }
}

private[model] object SessionPoints {

  /** marker_cluster_index (null for per-row points), marker xy, matched
    * right xy. */
  val Schema: StructType = StructType(Seq(
    StructField("marker_cluster_index", LongType),
    StructField("mx", DoubleType), StructField("my", DoubleType),
    StructField("rx", DoubleType), StructField("ry", DoubleType)))

  /** Whether the points reduce by cluster: reduction is on and the marker
    * table has the cluster column. */
  def byCluster(markers: DataFrame, clusterReduce: Boolean): Boolean =
    clusterReduce && markers.columns.contains("marker_cluster_index")

  /** The marker side in kernel order: timestamp, norm_x, norm_y and, when
    * reducing by cluster, marker_cluster_index. */
  private def markerColumns(byCluster: Boolean): Seq[Column] =
    Seq("timestamp", "norm_x", "norm_y").map(c => col(c).cast("double")) ++
      (if (byCluster) Seq(col("marker_cluster_index").cast("long")) else Nil)

  /** The right side in kernel order: timestamp, norm_x, norm_y, confidence. */
  def rightColumns(df: DataFrame): DataFrame = df.select(rightCols: _*)

  private def rightCols: Seq[Column] =
    Seq("timestamp", "norm_x", "norm_y", "confidence").map(c => col(c).cast("double"))

  /** One session: collects the markers to the driver (one row per marker
    * frame of one epoch). No window. */
  def apply(markers: DataFrame, minConfidence: Double,
            clusterReduce: Boolean): SessionPoints = {
    val cl = byCluster(markers, clusterReduce)
    apply(markers.select(markerColumns(cl): _*).collect(), minConfidence, cl, None)
  }

  /** From marker rows already in [[markerColumns]] order. */
  def apply(markers: Array[Row], minConfidence: Double, byCluster: Boolean,
            window: Option[Double]): SessionPoints =
    new SessionPoints(markers.map(boxed(_, 0)), markers.map(boxed(_, 1)),
      markers.map(boxed(_, 2)),
      if (byCluster) Some(markers.map(r => r.get(3).asInstanceOf[java.lang.Long])) else None,
      minConfidence, window)

  /** A corpus keyed by `sessionCol`: the markers and the right rows are
    * grouped by session (`groupByKey` + `cogroup`, one shuffle of each
    * side), and `f` runs once per session present on either side, in one
    * task that holds the session's rows, with the session's key (in the
    * markers' `sessionCol` type; null sessions form one session, as in a
    * keyed `nearest`), its [[SessionPoints]] and its right rows in
    * [[rightColumns]] order. */
  def bySession[U](markers: DataFrame, right: DataFrame, sessionCol: String,
                   byCluster: Boolean, minConfidence: Double,
                   window: Option[Double])
                  (f: (Any, SessionPoints, Array[Row]) => Iterator[U])
                  (implicit out: Encoder[U]): Dataset[U] = {
    val keyType = markers.schema(sessionCol).dataType
    def grouped(df: DataFrame, cols: Seq[Column]) =
      df.select(col(sessionCol).cast(keyType) +: cols: _*)
        .groupByKey((r: Row) => Row(r.get(0)))(
          Encoders.row(StructType(Seq(StructField(sessionCol, keyType)))))
    def values(it: Iterator[Row]) = it.map(r => Row.fromSeq(r.toSeq.tail)).toArray
    grouped(markers, markerColumns(byCluster))
      .cogroup(grouped(right, rightCols)) { (key, ms, rs) =>
        f(key.get(0), apply(values(ms), minConfidence, byCluster, window), values(rs))
      }
  }

  /** Spark `percentile(c, 0.5)` over the non-null values, bit for bit:
    * values sorted with NaN last, then `(higher − pos)·lo + (pos − lower)·hi`
    * at pos = 0.5·(n − 1). Null when there is no value. */
  def median(vs: Seq[java.lang.Double]): java.lang.Double = {
    val s = vs.collect { case v if v != null => v.doubleValue }.toArray
    if (s.isEmpty) null
    else {
      java.util.Arrays.sort(s)
      val pos = 0.5 * (s.length - 1)
      val (lower, higher) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lower == higher) s(lower)
      else (higher - pos) * s(lower) + (pos - lower) * s(higher)
    }
  }

  private def boxed(r: Row, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null else r.getDouble(i)
}
