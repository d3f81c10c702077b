package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PldataSpec extends SparkSpec {
  import spark.implicits._

  test("msgpack codec round-trips the pldata value shapes") {
    val v = Map(
      "timestamp" -> 12.345,
      "confidence" -> 0.87,
      "id" -> 1L,
      "topic" -> "pupil",
      "norm_pos" -> Vector(0.1, 0.9),
      "flag" -> true,
      "missing" -> null)
    val back = MsgPack.unpackStream(MsgPack.pack(v)).head
      .asInstanceOf[Map[String, Any]]
    assert(back("timestamp") == 12.345)
    assert(back("norm_pos") == Vector(0.1, 0.9))
    assert(back("id") == 1L)
    assert(back("flag") == true)
    assert(back("missing") == null)
    // negative + small ints, nested arrays
    val v2 = Vector(-5L, 127L, -32L, 300L, Vector(Vector(1L, 2L)))
    assert(MsgPack.unpackStream(MsgPack.pack(v2)).head == v2)
  }

  test("msgpack corrupt lengths fail loudly: no pre-validation allocation, no silent empty") {
    def payload(marker: Int, count: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(5)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.put(marker.toByte).putInt(count)
      bb.array()
    }
    // str32/bin32 with a length far past the buffer must throw a
    // DESCRIPTIVE error before allocating (a 2 GB new Array[Byte] on
    // one corrupt byte is the OOM class), never return
    for (marker <- Seq(0xdb /*str32*/, 0xc6 /*bin32*/);
         n <- Seq(Int.MaxValue - 1, 1000000, -7)) {
      val e = intercept[IllegalArgumentException] {
        MsgPack.unpackStream(payload(marker, n))
      }
      assert(e.getMessage.contains("exceeds remaining"), e.getMessage)
    }
    // array32/map32 with a NEGATIVE count previously decoded as a
    // silently EMPTY collection (Vector.fill(n<=0)) — must throw
    for (marker <- Seq(0xdd /*array32*/, 0xdf /*map32*/)) {
      val e = intercept[IllegalArgumentException] {
        MsgPack.unpackStream(payload(marker, -3))
      }
      assert(e.getMessage.contains("exceeds remaining"), e.getMessage)
    }
    // a VALID zero count still decodes as genuinely empty
    assert(MsgPack.unpackStream(payload(0xdd, 0)).head == Vector())
  }

  test("npy round-trip") {
    val p = Files.createTempDirectory("npy").resolve("t.npy").toString
    val a = Array(1.5, -2.25, 3.75e10, 0.0)
    PldataSource.writeNpyDoubles(p, a)
    assert(PldataSource.readNpyDoubles(p).sameElements(a))
  }

  test("NpyDoubleWriter: header patched on close, reader sees all values") {
    val dir = Files.createTempDirectory("npyw")
    val p = dir.resolve("s.npy").toString
    val a = Array(1.5, -2.25, 3.75e10, 0.0, Double.MinPositiveValue)
    val w = new PldataSource.NpyDoubleWriter(p)
    a.foreach(w.write)
    assert(w.close() == a.length)
    assert(PldataSource.readNpyDoubles(p).sameElements(a))
    // the patched header carries the true shape (numpy parses the
    // right-padded count; verified the ljust form loads in np.load)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val headerLen = ((bytes(9) & 0xff) << 8) | (bytes(8) & 0xff)
    val header = new String(bytes, 10, headerLen, "ASCII")
    assert(header.contains(s"'shape': (${a.length}"), header)
    // empty stream: zero-shape header, zero values
    val p0 = dir.resolve("e.npy").toString
    assert(new PldataSource.NpyDoubleWriter(p0).close() == 0L)
    assert(PldataSource.readNpyDoubles(p0).isEmpty)
  }

  test("pldata write → Spark read round-trip (S4)") {
    val dir = Files.createTempDirectory("pldata").toString
    val df = Seq(
      (0.1, 0.9, Seq(0.2, 0.3), 0L),
      (0.2, 0.8, Seq(0.4, 0.5), 1L),
      (0.3, 0.7, Seq(0.6, 0.7), 0L))
      .toDF("timestamp", "confidence", "norm_pos", "id")
    PldataSource.write(df, dir, "pupil")
    def read(fields: StructField*) = spark.read.format("pldata")
      .option("topic", "pupil")
      .schema(StructType(StructField("topic", StringType) +:
        StructField("timestamp", DoubleType) +: fields))
      .load(dir)
    val back = read(StructField("confidence", DoubleType),
      StructField("norm_pos", ArrayType(DoubleType)),
      StructField("id", LongType))
    assert(back.count() == 3)
    val r = back.orderBy("timestamp").collect()
    assert(r(0).getAs[String]("topic") == "pupil")
    assert(r(0).getAs[Double]("timestamp") == 0.1)
    assert(r(1).getAs[scala.collection.Seq[Double]]("norm_pos").toSeq ==
      Seq(0.4, 0.5))
    assert(r(2).getAs[Long]("id") == 0L)
    // missing field → null column
    val withMissing = read(StructField("confidence", DoubleType),
      StructField("nope", DoubleType))
    assert(withMissing.filter(col("nope").isNull).count() == 3)
  }

  test("gaze_positions.csv export scan (S5) resolves layout and reshapes") {
    val root = java.nio.file.Files.createTempDirectory("plcsv")
    val dir = root.resolve("exports/222")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("gaze_positions.csv"),
      """gaze_timestamp,world_index,confidence,norm_pos_x,norm_pos_y
        |12.5,0,0.95,0.41,0.52
        |12.6,1,0.20,0.44,0.55
        |12.7,2,0.90,0.47,0.58
        |""".stripMargin)
    val df = PldataSource.readGazeCsv(spark, root.toString, outputId = 2)
    assert(df.columns.toSeq == Seq("timestamp", "norm_pos", "confidence"))
    val rows = df.orderBy("timestamp").collect()
    assert(rows.length == 3)
    assert(rows(0).getDouble(0) == 12.5)
    assert(rows(0).getSeq[Double](1) == Seq(0.41, 0.52))
    assert(rows(1).getDouble(2) == 0.20)
  }
}
