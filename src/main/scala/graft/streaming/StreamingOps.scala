package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the engine's windowed operators
  * (SURVEY §2.11). Each mirrors a batch operator in
  * [[graft.operators.TimeSeriesOps]]; batch output is the spec.
  *
  * These expect an event-time `TimestampType` column (the batch engine's
  * double-seconds convert at the boundary) and a watermark supplied by the
  * caller (`withWatermark`) — the reference has no late-data story (SURVEY
  * §2.11), so the watermark is policy, not semantics.
  */
object StreamingOps {

  /** W2 (streaming): gap-based sessionization via session_window. Emits one
    * row per closed session with n rows and duration in seconds. */
  def sessionizeStream(df: DataFrame, tsCol: String, keyCols: Seq[String],
                       gap: String): DataFrame =
    df.groupBy((keyCols.map(col) :+ session_window(col(tsCol), gap)): _*)
      .agg(count(lit(1)).as("n"),
        (unix_micros(col("session_window.end").cast("timestamp")) -
          unix_micros(col("session_window.start").cast("timestamp")))
          .as("duration_us"))
      .select(keyCols.map(col) :+ col("session_window.start").as("session_start") :+
        col("n") :+ col("duration_us"): _*)

  /** A8 (streaming): sliding event rate — counts per (key, sliding window).
    * `window`/`slide` are duration strings ("600 seconds", "60 seconds"). */
  def slidingRateStream(df: DataFrame, tsCol: String, keyCols: Seq[String],
                        window: String, slide: String): DataFrame =
    df.groupBy((keyCols.map(col) :+
        org.apache.spark.sql.functions.window(col(tsCol), window, slide)): _*)
      .agg(count(lit(1)).as("rate"))
      .select(keyCols.map(col) :+ col("window.start").as("window_start") :+
        col("rate"): _*)
}
