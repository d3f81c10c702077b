package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal alignment joins — the engine-defining operators.
  *
  * Reference semantics (file:line relative to /root/reference/vedb_gaze):
  *  - nearest:   `match_time_points(window=None)` utils.py:67-132 and
  *               `closest_matches_monocular` externals/data_processing.py:152-184 (J2)
  *  - windowAgg: `match_time_points(window=w, fn=median)` utils.py:67-132 (J1)
  *  - triple:    `closest_matches_binocular` externals/data_processing.py:116-149 (J3)
  *
  * Scale design: none of these are implemented as a naive theta-join.
  *  - `nearest` uses the union-sort idiom: both tables are unioned on the
  *    time axis, sorted once per key partition, and the previous/next right
  *    row is propagated with last/first(ignoreNulls) windows. Cost is one
  *    shuffle on the keys + a partition-local sort — the same shape as a
  *    sort-merge join, independent of time density.
  *  - `windowAgg` buckets both sides by floor(ts / window) and equi-joins on
  *    (keys, bucket) for the bucket and its two neighbors — a standard range
  *    join de-thetafication, so Catalyst executes a shuffled hash/sort-merge
  *    equi-join instead of a broadcast-nested-loop.
  */
object AsOfJoin {

  /** J2: for each left row, attach the single right row whose `rightTs` is
    * nearest to `leftTs` (within the same `keys`). Optionally reject matches
    * farther than `tolerance` seconds.
    *
    * Right columns are carried with prefix `rightPrefix`. Both ts columns
    * must be numeric (seconds). Ties (equidistant prev/next) resolve to the
    * EARLIER right row, matching numpy searchsorted + argmin semantics
    * (externals/data_processing.py:174-184 takes the first minimum).
    */
  def nearest(left: DataFrame, right: DataFrame, leftTs: String, rightTs: String,
              keys: Seq[String], rightPrefix: String = "r_",
              tolerance: Option[Double] = None): DataFrame = {
    val rightValCols = right.columns.filterNot(c => keys.contains(c)).toSeq
    val l = left.withColumn("_t", col(leftTs).cast("double")).withColumn("_isL", lit(true))
    val r = right.select(
      keys.map(col) ++ Seq(col(rightTs).cast("double").as("_t")) ++
        rightValCols.map(c => col(c).as(s"_rv_$c")): _*)
      .withColumn("_isL", lit(false))
    val u = l.unionByName(r, allowMissingColumns = true)
    // Within a key, order by time with right rows before left rows at equal
    // ts so an exactly-matching right row is visible to the left row.
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_t"), col("_isL"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    // "next" carries run over the REVERSED sort with the same running
    // frame: Spark executes (0, unboundedFollowing) frames by
    // re-aggregating from scratch at every row — O(n²) per key partition —
    // while running (unboundedPreceding, 0) frames are a single O(n) pass.
    // Reversed tie order (_isL desc) keeps an equal-ts right row out of a
    // left row's "next" frame, exactly as (_isL asc) kept it out of the
    // forward following-frame.
    val wNext = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t").desc, col("_isL").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // ALL carried right-side fields travel in one struct, so the whole
    // carry is 2 window functions (one per direction) instead of
    // 2·(1 + #value-columns). Carries are ROW-consistent: the matched
    // right row's fields come back together, so a null value field stays
    // null (a per-column carry would silently mix fields from different
    // right rows when values are null — an as-of join must not)
    // internal `_rv_`-prefixed field names avoid collisions with user
    // columns (e.g. a right table whose value column is literally "t")
    val rv = when(!col("_isL"), struct(
      col("_t").as("_t") +: rightValCols.map(c => col(s"_rv_$c")): _*))
    val carried = u
      .withColumn("_prev", last(rv, ignoreNulls = true).over(wPrev))
      .withColumn("_next", last(rv, ignoreNulls = true).over(wNext))
    val dPrev = col("_t") - col("_prev._t")
    val dNext = col("_next._t") - col("_t")
    // prev wins ties (<=): earlier right row, numpy argmin-first semantics
    val usePrev = col("_next").isNull || (col("_prev").isNotNull && dPrev <= dNext)
    val dist = when(usePrev, dPrev).otherwise(dNext)
    val matched = carried.filter(col("_isL"))
      .withColumn(s"${rightPrefix}$rightTs",
        when(usePrev, col("_prev._t")).otherwise(col("_next._t")))
      .withColumn(s"${rightPrefix}dt", dist)
    val withRight = rightValCols.filterNot(_ == rightTs).foldLeft(matched) { (acc, c) =>
      acc.withColumn(s"$rightPrefix$c",
        when(usePrev, col(s"_prev._rv_$c")).otherwise(col(s"_next._rv_$c")))
    }
    val cleaned = withRight.drop(
      (Seq("_t", "_isL", "_prev", "_next") ++
        rightValCols.map(c => s"_rv_$c")): _*)
    tolerance match {
      case Some(tol) => cleaned.filter(col(s"${rightPrefix}dt") <= tol)
      case None      => cleaned
    }
  }

  /** [[nearest]] for a per-session kernel over arrays: the index in `ts`
    * of the right row matched to time `t`, or −1 when `ts` is empty. `ts`
    * holds the non-null right timestamps sorted ascending with NaN last
    * (`java.util.Arrays.sort` order). The semantics are `nearest`'s:
    *  - prev is the last row with ts ≤ t, so an equal-ts right row counts
    *    as prev;
    *  - next is the first row with a strictly greater ts;
    *  - prev wins ties.
    * Comparisons are Spark SQL's, where NaN is greater than every number
    * and equal to itself: a NaN `t` matches the last row, and a NaN next
    * is farther than any prev. */
  def nearestIndex(ts: Array[Double], t: Double): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sqlGreater(ts(mid), t)) hi = mid else lo = mid + 1
    }
    val prev = lo - 1
    if (lo == ts.length) prev
    else if (prev < 0 || sqlGreater(t - ts(prev), ts(lo) - t)) lo
    else prev
  }

  /** `a > b` in Spark SQL: NaN is the greatest value and equals itself,
    * −0.0 equals 0.0. */
  private[graft] def sqlGreater(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) > 0

  /** J1: for each left row, aggregate all right rows with
    * |rightTs - leftTs| <= window (same keys) using `aggs` (built from the
    * prefixed right columns). Left rows with no right row in range are
    * dropped, matching the reference (unmatched points are excluded,
    * utils.py:104-121).
    *
    * De-thetafied as a bucketed range join: both sides get
    * bucket = floor(ts/window); each right row is replicated into its own
    * bucket and both neighbors, then an equi-join on (keys, bucket) plus the
    * residual |dt| <= window predicate. Replication factor is exactly 3,
    * the join is hash-partitionable, and the groupBy that follows reuses the
    * same keys.
    */
  def windowAgg(left: DataFrame, right: DataFrame, leftTs: String, rightTs: String,
                keys: Seq[String], window: Double,
                aggs: Seq[Column]): DataFrame = {
    // row identity: duplicate left rows must each produce their own output
    // (the reference matches per input row), so group on a synthetic uid,
    // not just the column values
    val l = left.withColumn("_luid", monotonically_increasing_id())
      .withColumn("_lt", col(leftTs).cast("double"))
      .withColumn("_b", floor(col("_lt") / window).cast("long"))
    val rBase = right.select(
      (keys.map(col) :+ col(rightTs).cast("double").as("_rt")) ++
        right.columns.filterNot(c => keys.contains(c) || c == rightTs)
          .map(c => col(c).as(s"r_$c")): _*)
    val r = rBase
      .withColumn("_rb", floor(col("_rt") / window).cast("long"))
      .withColumn("_b", explode(array(col("_rb") - 1, col("_rb"), col("_rb") + 1)))
      .drop("_rb")
    val joined = l.join(r, keys :+ "_b")
      .filter(abs(col("_rt") - col("_lt")) <= window)
    val groupCols = col("_luid") +: left.columns.map(col).toSeq
    joined.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
      .drop("_luid")
  }

  /** J3: binocular triple as-of — for each reference row, nearest rightA row
    * AND nearest rightB row; keep matches where the spread
    * max(ts) - min(ts) across the three timestamps is < `maxDispersion`
    * (reference: 1/15 s, externals/data_processing.py:116-149).
    */
  def triple(ref: DataFrame, rightA: DataFrame, rightB: DataFrame,
             refTs: String, aTs: String, bTs: String, keys: Seq[String],
             maxDispersion: Double = 1.0 / 15.0,
             aPrefix: String = "a_", bPrefix: String = "b_"): DataFrame = {
    val withA = nearest(ref, rightA, refTs, aTs, keys, aPrefix)
    val withB = nearest(withA, rightB, refTs, bTs, keys, bPrefix)
    val ts = col(refTs).cast("double")
    val ta = col(s"$aPrefix$aTs"); val tb = col(s"$bPrefix$bTs")
    // both matches must exist: greatest/least skip NULLs, which would let
    // a ref row with a missing eye slip through the dispersion gate
    withB.filter(ta.isNotNull && tb.isNotNull &&
      greatest(ts, ta, tb) - least(ts, ta, tb) < maxDispersion)
  }

  /** Cadence-derived dispersion gate for [[triple]]: `multiplier` × the
    * median inter-sample interval of `df`'s time column. The reference's
    * gate is cadence-relative (1/15 s against a ~120 Hz pupil stream ≈ 8
    * sample periods, externals/data_processing.py:128-131), so a caller
    * whose stream cadence is unknown derives the gate from the data
    * instead of hardcoding seconds.
    *
    * Cost: ONE extra aggregation job — a per-key lag diff (shuffle on
    * `keys`, partition-local sort) reduced by Spark's exact interpolating
    * `median` (`percentile(_, 0.5)`), which buffers the diffs per
    * partition. Exact, so the gate is bit-reproducible: an oracle replay
    * against DuckDB's `median`, which interpolates the same way, derives
    * the same value.
    *
    * Returns None when NO key contributes a strictly positive
    * inter-sample interval — every key has < 2 rows, or all timestamps
    * within each key are duplicated (zero diffs are discarded); a single
    * key with two distinctly-timed rows is enough for Some. The median
    * POOLS the diffs of all keys into one estimate, so with
    * heterogeneous per-key cadences the densest stream contributes the
    * most diffs and dominates the gate — if per-key robustness is
    * wanted, compute a per-key median first and aggregate those.
    */
  def cadenceGate(df: DataFrame, tsCol: String, keys: Seq[String],
                  multiplier: Double = 8.0): Option[Double] =
    gate(sampleIntervals(df, tsCol, keys).agg(median(col("_dt"))), multiplier)

  /** [[cadenceGate]] with per-key robustness: the median inter-sample
    * interval is computed PER KEY first, then the gate is `multiplier` ×
    * the median of those per-key medians — every key contributes exactly
    * one vote, so a dense stream cannot drag the gate below what a
    * sparse key's cadence supports (the pooled form's documented bias).
    * Same plan shape plus one extra (tiny: one row per key) aggregation;
    * same None condition as the pooled form. */
  def cadenceGatePerKey(df: DataFrame, tsCol: String, keys: Seq[String],
                        multiplier: Double = 8.0): Option[Double] =
    gate(sampleIntervals(df, tsCol, keys)
      .groupBy(keys.map(col): _*).agg(median(col("_dt")).as("_keyMed"))
      .agg(median(col("_keyMed"))), multiplier)

  /** The strictly positive per-key lag diffs of the time column, as `_dt`. */
  private def sampleIntervals(df: DataFrame, tsCol: String,
                              keys: Seq[String]): DataFrame = {
    val t = col(tsCol).cast("double")
    df.withColumn("_dt", t - lag(t, 1).over(
        Window.partitionBy(keys.map(col): _*).orderBy(t)))
      .filter(col("_dt").isNotNull && col("_dt") > 0)
  }

  private def gate(med: DataFrame, multiplier: Double): Option[Double] = {
    val row = med.head()
    if (row.isNullAt(0)) None else Some(multiplier * row.getDouble(0))
  }
}
