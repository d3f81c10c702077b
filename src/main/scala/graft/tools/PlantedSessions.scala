package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The planted multi-session construction behind gazebench's `fleet_qc`
  * workload: `nSessions` sessions, `per` samples each on the m9 5×5
  * marker-cluster grid, one marker per second, with deterministic
  * sub-milli jitter and the known m9 inverse affine for the eye streams
  * — so every session's fitted model must reproduce the planted forward
  * affine analytically ([[forwardAffine]], which `fleet_qc` verifies
  * against). */
object PlantedSessions {

  /** Base frame: session, k (seconds), cluster (0-24), rep (repeat
    * index within the session's cluster cycle), jit, mx/my (cluster
    * grid position). */
  def base(spark: SparkSession, nSessions: Int, per: Long): DataFrame =
    spark.range(nSessions * per).select(
        concat(lit("s"), expr(s"id DIV $per")).as("session"),
        (col("id") % per).cast("double").as("k"),
        ((col("id") % per) % 25).as("cluster"),
        expr(s"(id % $per) DIV 25").as("rep"),
        (((col("id") * 7) % 97 - 48).cast("double") / 1e5).as("jit"))
      .withColumn("mx", lit(0.1) + (col("cluster") % 5) * 0.2)
      .withColumn("my", lit(0.1) + floor(col("cluster") / 5) * 0.2)

  /** Marker stream from a [[base]] frame. */
  def markers(b: DataFrame): DataFrame = b.select(
    col("session"), col("k").as("timestamp"),
    (col("mx") + col("jit")).as("norm_x"),
    (col("my") - col("jit")).as("norm_y"),
    col("cluster").cast("long").as("marker_cluster_index"))

  /** Eye stream from a [[base]] frame: the m9 inverse affine of the
    * marker + jitter (sign-flipped per eye for full-rank binocular
    * designs), `dt` seconds after the marker, with `conf` as the
    * confidence column. */
  def eye(b: DataFrame, jitSign: Int, dt: Double, conf: Column): DataFrame =
    b.select(
      col("session"), (col("k") + dt).as("timestamp"),
      (((col("mx") - 0.05) * 0.9 - (col("my") - 0.03) * 0.1 / 0.9) / 0.8
        + col("jit") * jitSign).as("norm_x"),
      ((col("my") - 0.03) / 0.9 - col("jit") * jitSign).as("norm_y"),
      conf.as("confidence"))

  /** The planted FORWARD affine (what a correct fit must reproduce):
    * ax = (px·0.8 + py·0.1)/0.9 + 0.05, ay = py·0.9 + 0.03. */
  def forwardAffine(px: Column, py: Column): (Column, Column) =
    ((px * 0.8 + py * 0.1) / 0.9 + 0.05, py * 0.9 + 0.03)
}
