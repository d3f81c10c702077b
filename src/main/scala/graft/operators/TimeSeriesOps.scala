package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series core operators.
  *
  * These re-express the reference's NumPy sequence kernels as declarative
  * DataFrame transforms built on lag/lead + running-sum windows, so Catalyst
  * plans them as a single shuffle on the partition keys followed by
  * partition-local sorted window evaluation — the shape that scales to many
  * sessions / users (the 100 TB axis is "many independent series").
  *
  * Reference semantics (file:line relative to /root/reference/vedb_gaze):
  *  - sessionize:      `split_timecourse` marker_parsing.py:187-258 (W2)
  *  - rleSegments:     `onoff_from_binary` utils.py:135-192 (W1)
  *  - dropDuplicateTimestamps: `find_duplicates` marker_parsing.py:8-29 (A1,
  *    mode='all': every copy of a duplicated timestamp is removed)
  *  - zScoreFilter:    `filter_outliers` utils.py:545-578 (P6)
  *  - gradient:        `compute_eye_velocity` labeling.py:128-151 (W4)
  *  - slidingRate:     `get_saccade_rate` labeling.py:508-524 (A8)
  *  - resampleLinear:  `resample_data` utils.py:581-625 (W7)
  */
object TimeSeriesOps {

  private def partWindow(partitionCols: Seq[String]): org.apache.spark.sql.expressions.WindowSpec =
    if (partitionCols.isEmpty) Window.partitionBy()
    else Window.partitionBy(partitionCols.map(col): _*)

  /** W2 gap-based epoch split: a new session starts where the time gap to the
    * previous row exceeds `maxGap`. Adds `sessionCol` (0-based per partition).
    *
    * One shuffle on `partitionCols`; lag + running sum are evaluated
    * partition-locally over the time sort, no further exchange.
    */
  def sessionize(df: DataFrame, tsCol: String, partitionCols: Seq[String],
                 maxGap: Double, sessionCol: String = "session_id"): DataFrame = {
    val w = partWindow(partitionCols).orderBy(col(tsCol))
    val gap = col(tsCol).cast("double") - lag(col(tsCol).cast("double"), 1).over(w)
    df.withColumn(sessionCol,
      sum(when(gap > maxGap, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** W2 duration gate: keep only sessions whose (max ts - min ts) lies in
    * [minDuration, maxDuration]. Computed with one extra window pass (no join).
    */
  def sessionDurationFilter(df: DataFrame, tsCol: String, partitionCols: Seq[String],
                            sessionCol: String, minDuration: Double,
                            maxDuration: Double): DataFrame = {
    val w = partWindow(partitionCols :+ sessionCol)
    val dur = max(col(tsCol).cast("double")).over(w) - min(col(tsCol).cast("double")).over(w)
    // strict bounds, matching the reference's epoch gate
    // (split_timecourse, marker_parsing.py:247)
    df.withColumn("_dur", dur).filter(col("_dur") > minDuration && col("_dur") < maxDuration)
      .drop("_dur")
  }

  /** W1 run-length encoding: collapse runs of `onCol == true` (ordered by
    * `tsCol` within `partitionCols`) into one row per run with
    * (onset, offset, duration, n_rows). Off rows are dropped.
    *
    * Implementation: edge detection by lag, running sum = run id, then a
    * groupBy — the canonical sessionization idiom; both window and groupBy
    * reuse the same hash partitioning on `partitionCols`.
    */
  def rleSegments(df: DataFrame, tsCol: String, onCol: Column,
                  partitionCols: Seq[String]): DataFrame = {
    val w = partWindow(partitionCols).orderBy(col(tsCol))
    // null on-values are OFF (a null =!= comparison would otherwise yield
    // no edge and merge runs across null gaps)
    val on = coalesce(onCol.cast("int"), lit(0))
    val prev = lag(on, 1, 0).over(w)
    val runId = sum(when(on =!= prev, 1).otherwise(0)).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val keys = partitionCols.map(col) :+ col("_run")
    df.withColumn("_on", on)
      .withColumn("_run", runId)
      .filter(col("_on") === 1)
      .groupBy(keys: _*)
      .agg(
        min(col(tsCol)).as("onset"),
        max(col(tsCol)).as("offset"),
        (max(col(tsCol).cast("double")) - min(col(tsCol).cast("double"))).as("duration"),
        count(lit(1)).as("n_rows"))
      .drop("_run")
  }

  /** A1 duplicate-timestamp removal, reference mode='all': if a timestamp
    * occurs more than once (within `partitionCols`), drop EVERY copy.
    * Window count avoids the self-join formulation (one shuffle, no join).
    */
  def dropDuplicateTimestamps(df: DataFrame, tsCol: String,
                              partitionCols: Seq[String] = Nil): DataFrame = {
    val w = partWindow(partitionCols :+ tsCol)
    df.withColumn("_c", count(lit(1)).over(w)).filter(col("_c") === 1).drop("_c")
  }

  /** P6 z-score outlier filter: within each group, drop rows where
    * |x - mean| > k * stddev, and optionally outside [lo, hi] bounds.
    * Group stats via window functions — single shuffle, no join-back.
    */
  def zScoreFilter(df: DataFrame, valueCol: String, partitionCols: Seq[String],
                   k: Double, lo: Option[Double] = None,
                   hi: Option[Double] = None): DataFrame = {
    val w = partWindow(partitionCols)
    val v = col(valueCol).cast("double")
    val mu = avg(v).over(w)
    val sd = stddev_samp(v).over(w)
    val zOk = sd.isNull || (abs(v - mu) <= lit(k) * sd)
    val boundsOk = (lo.map(v >= _) ++ hi.map(v <= _)).reduceOption(_ && _).getOrElse(lit(true))
    df.withColumn("_ok", zOk && boundsOk).filter(col("_ok")).drop("_ok")
  }

  /** W4 central-difference derivative: (next - prev) / (t_next - t_prev),
    * one-sided at series edges (matches numpy.gradient on irregular grids).
    */
  def gradient(df: DataFrame, tsCol: String, valueCol: String,
               partitionCols: Seq[String], outCol: String = "velocity"): DataFrame = {
    val w = partWindow(partitionCols).orderBy(col(tsCol))
    val t = col(tsCol).cast("double")
    val v = col(valueCol).cast("double")
    val tp = lag(t, 1).over(w); val tn = lead(t, 1).over(w)
    val vp = lag(v, 1).over(w); val vn = lead(v, 1).over(w)
    val central = (vn - vp) / (tn - tp)
    val fwd = (vn - v) / (tn - t)   // first row of a series
    val bwd = (v - vp) / (t - tp)   // last row of a series
    df.withColumn(outCol,
      when(tp.isNull && tn.isNull, lit(null).cast("double"))
        .when(tp.isNull, fwd)
        .when(tn.isNull, bwd)
        .otherwise(central))
  }

  /** A8 sliding event rate: for every row, the count of rows within
    * ts ± window/2 (same partition). Range-frame window — no self join.
    */
  /** A8 over an integer time column (e.g. `unix_micros(ts)`): exact bounds,
    * no floating quantization. `window` is in the column's units. */
  def slidingRate(df: DataFrame, tsCol: String, partitionCols: Seq[String],
                  window: Long, outCol: String = "rate"): DataFrame = {
    val w = partWindow(partitionCols).orderBy(col(tsCol).cast("long"))
      .rangeBetween(-window / 2, window / 2)
    df.withColumn(outCol, count(lit(1)).over(w))
  }

  /** J6: numpy-searchsorted('left') — for each left row, the number of
    * clock rows with ts strictly below it (= the insertion index into the
    * timeline, time_to_index / get_frame_indices utils.py:216-239,
    * 298-319). Union-sort idiom: one shuffle, no range join. */
  def searchSorted(df: DataFrame, clock: DataFrame, tsCol: String,
                   clockTs: String, partitionCols: Seq[String] = Nil,
                   outCol: String = "frame_index"): DataFrame = {
    val q = df.withColumn("_t", col(tsCol).cast("double"))
      .withColumn("_isC", lit(0))
    val c = clock.select((partitionCols.map(col) :+
        col(clockTs).cast("double").as("_t")): _*)
      .withColumn("_isC", lit(1))
    val u = q.unionByName(c, allowMissingColumns = true)
    // at equal ts the query row sorts first → the equal clock row is not
    // counted (searchsorted side='left')
    val w = partWindow(partitionCols).orderBy(col("_t"), col("_isC"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn(outCol, sum(col("_isC")).over(w))
      .filter(col("_isC") === 0)
      .drop("_t", "_isC")
  }

  /** W7 uniform resampling with linear interpolation: per group, build a
    * regular grid [gridStart..gridEnd] step `step` (in the units of `tsCol`,
    * which must be numeric seconds), and linearly interpolate `valueCols`
    * between the nearest sample before and after each grid point.
    *
    * Plan shape: grid generation is a per-group `sequence` explode (narrow
    * after the group bounds agg); the neighbor lookup is the union-sort
    * as-of idiom — grid points and samples are unioned, sorted once per
    * group, and last/next sample values are propagated with
    * last(ignoreNulls)/first(ignoreNulls) windows. One shuffle total;
    * no range join, no per-grid-point probe.
    */
  def resampleLinear(df: DataFrame, tsCol: String, valueCols: Seq[String],
                     partitionCols: Seq[String], step: Double): DataFrame = {
    val keys = partitionCols.map(col)
    // per-group grid bounds
    val bounds = df.groupBy(keys: _*)
      .agg(min(col(tsCol).cast("double")).as("_t0"), max(col(tsCol).cast("double")).as("_t1"))
    val grid = bounds.withColumn("_n", floor((col("_t1") - col("_t0")) / step).cast("long"))
      .withColumn("_i", explode(sequence(lit(0L), col("_n"))))
      .select(keys :+ (col("_t0") + col("_i") * step).as("_gt"): _*)
      .withColumn("_isGrid", lit(true))
    val samples = df.select(keys ++ Seq(col(tsCol).cast("double").as("_gt")) ++
      valueCols.map(c => col(c).cast("double").as(s"_v_$c")): _*)
      .withColumn("_isGrid", lit(false))
    val unioned = grid.unionByName(samples, allowMissingColumns = true)
    val wAll = partWindow(partitionCols).orderBy(col("_gt"), col("_isGrid"))
    // the "next" carry runs over the REVERSED sort with a running frame —
    // Spark's (0, unboundedFollowing) frames re-aggregate per row (O(n²)
    // per partition); the reversed running frame is one O(n) pass. The
    // reversed tie order (_isGrid desc) keeps an equal-ts sample out of a
    // grid row's "next", mirroring the forward ordering's semantics.
    val wAllRev = partWindow(partitionCols)
      .orderBy(col("_gt").desc, col("_isGrid").desc)
    // carry (t, values…) of the previous/next real sample as ONE struct
    // per direction: 2 window functions total instead of 2·(1 + #values).
    // Carries are ROW-consistent: a sample row with a null value yields a
    // null interpolation at grid points it bounds — drop null/NaN rows
    // first (the reference's remove_nans) rather than relying on the old
    // per-column skip, which interpolated against a value from a
    // DIFFERENT sample's timestamp
    // internal `_v_`-prefixed field names avoid collisions with a value
    // column literally named "t"
    val sample = when(!col("_isGrid"), struct(
      col("_gt").as("_t") +: valueCols.map(c => col(s"_v_$c")): _*))
    val withT = unioned
      .withColumn("_prev", last(sample, ignoreNulls = true)
        .over(wAll.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_next", last(sample, ignoreNulls = true)
        .over(wAllRev.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_tPrev", col("_prev._t"))
      .withColumn("_tNext", col("_next._t"))
    val interped = valueCols.foldLeft(withT) { (acc, c) =>
      val vp = col(s"_prev._v_$c"); val vn = col(s"_next._v_$c")
      val frac = (col("_gt") - col("_tPrev")) / (col("_tNext") - col("_tPrev"))
      acc.withColumn(c,
        when(col("_tNext") === col("_tPrev"), vp)
          .when(col("_tPrev").isNull, vn)
          .when(col("_tNext").isNull, vp)
          .otherwise(vp + (vn - vp) * frac))
    }
    interped.filter(col("_isGrid"))
      .select(keys ++ Seq(col("_gt").as(tsCol)) ++ valueCols.map(col): _*)
  }

  /** P10 with exact scipy parity: `signal.medfilt` (ZERO-padded sliding
    * kernel, odd size) detrend plus the reference's impute-mean
    * recentering (detrend_median, labeling.py:773-790: out = v − medfilt(v)
    * + impute). The window-function form (p10 query) is the declarative
    * scale path but shrinks its window at series edges; this per-group
    * kernel reproduces scipy's zero-padded edge medians bit-for-bit.
    * Output: input columns + `detrended`. */
  def medfiltDetrend(df: DataFrame, tsCol: String, valueCol: String,
                     keys: Seq[String], kernelSize: Int,
                     impute: Option[Double] = Some(0.5)): DataFrame = {
    require(kernelSize % 2 == 1, s"medfilt kernel must be odd: $kernelSize")
    val tsIdx = df.schema.fieldIndex(tsCol)
    val vIdx = df.schema.fieldIndex(valueCol)
    val gIdx = keys.map(df.schema.fieldIndex)
    val outSchema = df.schema.add("detrended",
      org.apache.spark.sql.types.DoubleType)
    val half = kernelSize / 2
    val add = impute.getOrElse(0.0)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    df.groupByKey(r => GroupKeys.of(r, gIdx))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_.getDouble(tsIdx))
        val v = rows.map(_.getDouble(vIdx))
        val n = v.length
        // reused primitive scratch + Arrays.sort(double[]): no boxing or
        // per-row allocation in the O(rows × kernel) hot loop
        val buf = new Array[Double](kernelSize)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          var j = 0
          while (j < kernelSize) {
            val k = i - half + j
            buf(j) = if (k < 0 || k >= n) 0.0 else v(k) // scipy zero-pad
            j += 1
          }
          java.util.Arrays.sort(buf)
          Row.fromSeq(r.toSeq :+ (v(i) - buf(half) + add))
        }
      }
  }

  /** W9: exponential-moving-average smoothing of a per-group series —
    * the reference's online frame-interval estimate
    * (Binocular_Gaze_Mapper, externals/gaze_mappers.py:33-36, 71-91:
    * `ema += (x − ema) · smoothing`, initial 1/120 s, smoothing 1/50).
    * Inherently sequential per series → per-group scan inside
    * flatMapGroups, the same distribution axis as the blink FSM (groups
    * = sessions are the corpus axis; each series is frames-per-session
    * sized). Output: input columns + `outCol`, one row per input row,
    * the update applied in input-series order (ties on `tsCol` broken by
    * input order after the stable sort). */
  def ema(df: DataFrame, tsCol: String, valueCol: String, keys: Seq[String],
          smoothing: Double, init: Double,
          outCol: String = "ema"): DataFrame = {
    val tsIdx = df.schema.fieldIndex(tsCol)
    val vIdx = df.schema.fieldIndex(valueCol)
    val gIdx = keys.map(df.schema.fieldIndex)
    val outSchema = df.schema.add(outCol,
      org.apache.spark.sql.types.DoubleType)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    df.groupByKey(r => GroupKeys.of(r, gIdx))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_.getDouble(tsIdx))
        var acc = init
        rows.iterator.map { r =>
          // same arithmetic order as the streaming FSM (BinocularMerge.step)
          acc = acc + (r.getDouble(vIdx) - acc) * smoothing
          Row.fromSeq(r.toSeq :+ acc)
        }
      }
  }
}
