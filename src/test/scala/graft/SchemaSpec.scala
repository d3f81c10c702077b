package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schemas.Schemas

/** SURVEY §1.2 catalog: every promised StructType exists, matches the
  * reference's field inventory, and round-trips through the sources and
  * operators that produce/consume it. */
class SchemaSpec extends SparkSpec {
  import spark.implicits._

  def names(s: StructType): Seq[String] = s.fields.map(_.name).toSeq

  test("catalog field inventory matches SURVEY §1.2") {
    assert(names(Schemas.pupil) == Seq("timestamp", "norm_pos", "confidence",
      "diameter", "ellipse", "luminance", "id"))
    assert(Schemas.pupil("ellipse").dataType == Schemas.ellipse)
    assert(names(Schemas.pupilPylids).takeRight(3) ==
      Seq("dlc_kpts_x", "dlc_kpts_y", "dlc_confidence"))
    assert(names(Schemas.markerCircles) ==
      Seq("timestamp", "location", "norm_pos", "size"))
    assert(names(Schemas.markerCheckerboard) == Seq("timestamp",
      "location_full_checkerboard", "norm_pos_full_checkerboard",
      "location", "norm_pos"))
    assert(names(Schemas.clusteredMarker).last == "marker_cluster_index")
    assert(names(Schemas.gaze) == Seq("timestamp", "norm_pos", "confidence"))
    assert(names(Schemas.gazeBinocular).takeRight(2) == Seq("topic", "base_data"))
    assert(Schemas.gazeBinocular("base_data").dataType ==
      ArrayType(Schemas.pupil))
    assert(names(Schemas.odometry).takeRight(4) ==
      Seq("absolute_linear_velocity", "roll", "pitch", "yaw"))
    assert(names(Schemas.segment) == Seq("onset", "offset", "duration"))
    assert(names(Schemas.calibrationModel).head == "model_type")
    assert(names(Schemas.errorGrid) == Seq("y", "x", "err"))
  }

  test("opencvEllipse emits the catalog ellipse struct") {
    val df = Seq((10.0, 20.0, 3.5, 5.0, 2.0))
      .toDF("cx", "cy", "minor_r", "major_r", "angle_rad")
    val out = graft.operators.EllipseGeometry.opencvEllipse(df,
      "cx", "cy", "minor_r", "major_r", "angle_rad")
    assert(out.schema("ellipse").dataType.asInstanceOf[StructType]
      .fields.map(f => (f.name, f.dataType.catalogString)).toSeq ==
      Schemas.ellipse.fields.map(f => (f.name, f.dataType.catalogString)).toSeq)
  }

  test("pldata round-trip with the pupil catalog schema (nested ellipse)") {
    val dir = java.nio.file.Files.createTempDirectory("pldata_schema").toString
    val rows = Seq(
      (0.1, Seq(0.5, 0.5), 0.9, 30.0, ((Seq(10.0, 20.0), Seq(7.0, 10.0), 24.5)), 0.4, 0),
      (0.2, Seq(0.6, 0.4), 0.8, 31.0, ((Seq(11.0, 21.0), Seq(6.0, 9.0), 20.0)), 0.5, 1))
    val df = rows.toDF("timestamp", "norm_pos", "confidence", "diameter",
        "ellipse", "luminance", "id")
      .withColumn("ellipse", col("ellipse").cast(Schemas.ellipse))
      .withColumn("topic", lit("pupil"))
    graft.sources.PldataSource.write(df, dir, "pupil")
    val back = spark.read.format("pldata").option("topic", "pupil")
      .schema(Schemas.pupil).load(dir)
    assert(back.schema("ellipse").dataType == Schemas.ellipse)
    val got = back.orderBy("timestamp").collect()
    assert(got.length == 2)
    val e0 = got(0).getAs[org.apache.spark.sql.Row]("ellipse")
    assert(e0.getAs[scala.collection.Seq[Double]]("center").toSeq == Seq(10.0, 20.0))
    assert(e0.getAs[Double]("angle") == 24.5)
    assert(got(0).getAs[Int]("id") == 0 && got(1).getAs[Int]("id") == 1)
    assert(got(1).getAs[Double]("luminance") == 0.5)
  }

  // Drift guard: the driver has regenerated events.parquet with a new ts
  // physical type twice (TIMESTAMP(NANOS) → naive µs/NTZ). Treat
  // Tables.loadEvents as a compatibility surface: every historical shape
  // must normalize to session-UTC TimestampType so `cast(ts as double)`
  // == DuckDB `epoch(ts)`.
  test("events ts drift guard: all historical parquet shapes normalize") {
    // 2024-01-01T00:00:00.123456Z = 1704067200.123456 epoch seconds
    val want = 1704067200.123456
    val ntz = Seq(1L).toDF("event_id")
      .withColumn("ts", to_timestamp_ntz(lit("2024-01-01 00:00:00.123456")))
    val tz = Seq(1L).toDF("event_id")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00.123456")))
    val ns = Seq(1L).toDF("event_id")
      .withColumn("ts", lit(1704067200123456789L))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    for (raw <- Seq(ntz, tz, ns)) {
      val out = Tables.normalizeEventTs(raw)
      assert(out.schema("ts").dataType == TimestampType)
      val got = out.select(col("ts").cast("double")).head.getDouble(0)
      assert(math.abs(got - want) < 1e-9, s"got $got want $want")
    }
  }

  test("events ts drift guard: the real driver testdata reads and t() resolves") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts surfaced as ${df.schema("ts").dataType} — extend " +
        "Tables.normalizeEventTs for this new driver parquet shape")
    val r = df.select(col("ts").cast("double").as("t")).agg(
      count(lit(1)).as("n"), count(col("t")).as("nt")).head
    assert(r.getLong(0) > 0 && r.getLong(0) == r.getLong(1))
  }

  test("checkerboard corner-ptp size (P5 variant) feeds the P7 gate") {
    // 2×2 corner grid spanning 0.3 in x, 0.3 in y → size (0.4, 0.3) after
    // the 4/3 x-aspect correction; aspect x/y = 4/3 > 1.2 → gated out
    val corners = Seq(Seq(0.1, 0.2), Seq(0.4, 0.2), Seq(0.1, 0.5), Seq(0.4, 0.5))
    // square grid 0.3×0.4 → size (0.4, 0.4), aspect 1.0 → kept
    val square = Seq(Seq(0.1, 0.1), Seq(0.4, 0.1), Seq(0.1, 0.5), Seq(0.4, 0.5))
    val df = Seq((1.0, corners), (2.0, square))
      .toDF("timestamp", "norm_pos_full_checkerboard")
    val sized = graft.operators.MarkerParsing.checkerboardSize(df)
    val s = sized.orderBy("timestamp").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("size").toSeq)
    assert(math.abs(s(0)(0) - 0.4) < 1e-12 && s(0)(1) == 0.3)
    assert(math.abs(s(1)(0) - 0.4) < 1e-12 && s(1)(1) == 0.4)
    val kept = graft.operators.MarkerParsing.removeSmallDetections(
        sized, "size", bimodalStdThreshold = None)
      .select("timestamp").collect().map(_.getDouble(0)).toSeq
    assert(kept == Seq(2.0))
  }
}
