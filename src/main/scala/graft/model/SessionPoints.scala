package graft.model

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.operators.AsOfJoin

/** The match → gate → reduce step of [[Calibrator.fit]] and
  * [[ErrorMap.summary]], run over one session's arrays inside one Spark
  * task. It replaces a keyless [[AsOfJoin.nearest]] followed by a
  * `percentile` group-by and keeps their semantics:
  *
  *  1. each marker row takes its nearest right row (a pupil or gaze
  *     sample) by [[AsOfJoin.nearestIndex]]. A null-ts marker takes the
  *     earliest right row. Null-ts right rows match only when no right row
  *     has a timestamp, and then the last of them matches;
  *  2. a match stays when the right row's confidence is > the gate, in
  *     Spark's order (a NaN confidence passes, a null one does not);
  *  3. the kept matches reduce to one point per `marker_cluster_index`,
  *     the [[SessionPoints.median]] of each coordinate, in cluster order
  *     (null first). Without the cluster column, or with reduction off,
  *     every kept marker row is a point, in marker table order.
  *
  * Markers are collected to the driver (one row per marker frame of one
  * epoch); the right rows arrive in the task as (timestamp, x, y,
  * confidence), see [[SessionPoints.rightColumns]]. */
private[model] final class SessionPoints private (
    ts: Array[java.lang.Double], x: Array[java.lang.Double],
    y: Array[java.lang.Double], cluster: Option[Array[java.lang.Long]],
    minConfidence: Double) extends Serializable {

  /** The points, as rows of [[SessionPoints.Schema]]. */
  def apply(right: Array[Row]): Array[Row] = {
    val timed = right.filter(!_.isNullAt(0))
      .sortBy(_.getDouble(0))(Ordering.Double.TotalOrdering)
    val rts = timed.map(_.getDouble(0))
    val untimed = right.lastIndexWhere(_.isNullAt(0))
    def matched(i: Int): Row =
      if (timed.isEmpty) { if (untimed < 0) null else right(untimed) }
      else if (ts(i) == null) timed(0)
      else timed(AsOfJoin.nearestIndex(rts, ts(i)))
    val kept = ts.indices.flatMap { i =>
      val r = matched(i)
      if (r != null && !r.isNullAt(3) &&
          AsOfJoin.sqlGreater(r.getDouble(3), minConfidence))
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

  /** Collects the markers: timestamp, norm_x, norm_y and, when reducing,
    * marker_cluster_index. */
  def apply(markers: DataFrame, minConfidence: Double,
            clusterReduce: Boolean): SessionPoints = {
    val byCluster = clusterReduce && markers.columns.contains("marker_cluster_index")
    val rows = markers.select(
        Seq("timestamp", "norm_x", "norm_y").map(c => col(c).cast("double")) ++
          (if (byCluster) Seq(col("marker_cluster_index").cast("long")) else Nil): _*)
      .collect()
    new SessionPoints(rows.map(boxed(_, 0)), rows.map(boxed(_, 1)),
      rows.map(boxed(_, 2)),
      if (byCluster) Some(rows.map(r => r.get(3).asInstanceOf[java.lang.Long])) else None,
      minConfidence)
  }

  /** The right side in kernel order: timestamp, norm_x, norm_y, confidence. */
  def rightColumns(df: DataFrame): DataFrame =
    df.select(Seq("timestamp", "norm_x", "norm_y", "confidence")
      .map(c => col(c).cast("double")): _*)

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
