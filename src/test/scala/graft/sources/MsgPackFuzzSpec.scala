package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Seeded mutation fuzz of the msgpack decoder behind `format("pldata")`:
  * every mutant of an encoded pldata stream either decodes or throws an
  * exception that `NonFatal` matches. A JVM `Error` (a stack overflow
  * from nested headers) would escape `Pipeline.run`'s failure capture and
  * be treated by Spark as fatal to the executor. */
class MsgPackFuzzSpec extends SparkSpec {

  /** One pldata record: msgpack (topic, packed payload map). */
  private def record(topic: String, payload: Map[String, Any]): Array[Byte] =
    MsgPack.pack((topic, MsgPack.pack(payload)))

  private def gaze(i: Int): Array[Byte] = record("gaze", Map(
    "timestamp" -> (100.0 + i), "norm_pos" -> Vector(i / 10.0, i / 20.0),
    "confidence" -> (0.5 + i / 100.0), "id" -> i.toLong,
    "base_data" -> Vector("pupil.0", 42L, null, true)))

  private def pupil(i: Int): Array[Byte] = record("pupil.0", Map(
    "timestamp" -> (7.25 + i), "norm_pos" -> Vector(0.5, 0.25),
    "confidence" -> 0.9, "diameter" -> 31.0, "id" -> 0L,
    "ellipse" -> Map("center" -> Vector(10.0, 20.0),
      "axes" -> Vector(7.0, 10.0), "angle" -> 24.5),
    "method" -> "2d c++"))

  /** A three-record stream per fixture shape. */
  private val streams: Seq[Array[Byte]] = Seq(
    (0 until 3).flatMap(i => gaze(i)).toArray,
    (0 until 3).flatMap(i => pupil(i)).toArray)

  /** Both decode levels the pldata reader runs: the record stream, then
    * each record's payload. */
  private def decodeAll(bytes: Array[Byte]): Unit =
    MsgPack.unpackStream(bytes).foreach {
      case Vector(_: String, p: Array[Byte]) => MsgPack.unpackStream(p)
      case _ => ()
    }

  /** The contract: decode, or fail with an exception `NonFatal` matches. */
  private def decodesOrFailsCleanly(bytes: Array[Byte], label: String): Unit =
    try decodeAll(bytes)
    catch {
      case NonFatal(_) => ()
      case t: Throwable => fail(s"$label raised ${t.getClass.getName}", t)
    }

  private def nestedArrays(levels: Int): Array[Byte] =
    Array.fill[Byte](levels)(0x91.toByte) :+ 0x00.toByte

  test("the intact fixture streams decode (the fuzz is not vacuous)") {
    assert(MsgPack.unpackStream(streams(0)).length == 3)
    val p = MsgPack.unpackStream(streams(1)).head
      .asInstanceOf[Vector[Any]](1).asInstanceOf[Array[Byte]]
    val payload = MsgPack.unpackStream(p).head.asInstanceOf[Map[String, Any]]
    assert(payload("ellipse").asInstanceOf[Map[String, Any]]("angle") == 24.5)
  }

  test("truncation at every offset decodes or fails cleanly") {
    for (s <- streams; n <- 0 until s.length)
      decodesOrFailsCleanly(s.take(n), s"truncate($n)")
  }

  test("seeded single-byte flips decode or fail cleanly") {
    val rng = new scala.util.Random(71)
    for (s <- streams; _ <- 0 until 3000) {
      val b = s.clone()
      val i = rng.nextInt(b.length)
      b(i) = (if (rng.nextBoolean()) b(i) ^ (1 << rng.nextInt(8))
              else rng.nextInt(256)).toByte
      decodesOrFailsCleanly(b, f"flip@$i to 0x${b(i) & 0xff}%02x")
    }
  }

  test("bomb and negative length fields decode or fail cleanly") {
    // every 32-bit length the encoder writes (str32, bin32, array32,
    // map32) — and any data byte that happens to look like one
    val headers = Set(0xdb, 0xc6, 0xdd, 0xdf)
    for (s <- streams; i <- 0 until s.length - 4
         if headers.contains(s(i) & 0xff);
         n <- Seq(Int.MaxValue, Int.MinValue, -1, s.length - i)) {
      val b = s.clone()
      ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN).putInt(i + 1, n)
      decodesOrFailsCleanly(b, s"length@$i = $n")
    }
  }

  test("nested-header mutants decode or fail cleanly") {
    for (s <- streams; levels <- Seq(4, 2400, 100000)) {
      decodesOrFailsCleanly(nestedArrays(levels) ++ s, s"nest($levels) ++ stream")
      decodesOrFailsCleanly(s ++ MsgPack.pack(("gaze", nestedArrays(levels))),
        s"stream ++ payload nest($levels)")
    }
  }

  test("deep nesting and nil map keys throw IllegalArgumentException with the offset") {
    for (levels <- Seq(100000, 2400, 100)) {
      val e = intercept[IllegalArgumentException](
        MsgPack.unpackStream(nestedArrays(levels)))
      assert(e.getMessage.contains("nesting") &&
        e.getMessage.contains("byte offset"), e.getMessage)
    }
    // the same through maps and 32-bit array headers
    val deepMaps = Array.fill(5000)(Array(0x81, 0xa1, 'k'.toInt).map(_.toByte))
      .flatten :+ 0x00.toByte
    intercept[IllegalArgumentException](MsgPack.unpackStream(deepMaps))
    val deep32 = Array.fill(5000)(Array[Byte](0xdd.toByte, 0, 0, 0, 1))
      .flatten :+ 0x00.toByte
    intercept[IllegalArgumentException](MsgPack.unpackStream(deep32))
    // the nesting pldata records use (at most 4 deep) still decodes
    assert(MsgPack.unpackStream(nestedArrays(4)).length == 1)
    // a nil key would have been a NullPointerException from toString
    val nilKey = Array(0x82, 0xa1, 'a'.toInt, 0x01, 0xc0, 0x02).map(_.toByte)
    val e = intercept[IllegalArgumentException](MsgPack.unpackStream(nilKey))
    assert(e.getMessage.contains("nil map key at byte offset 4"), e.getMessage)
    // and the same nesting inside a record's payload
    val inPayload = MsgPack.pack(("gaze", nestedArrays(100000)))
    intercept[IllegalArgumentException](decodeAll(inPayload))
  }

  test("a nested-header file fails a format(\"pldata\") action; the session goes on") {
    val dir = Files.createTempDirectory("pldata_fuzz").toString
    val bytes = gaze(0) ++ MsgPack.pack(("gaze", nestedArrays(100000)))
    Files.write(Paths.get(dir, "gaze.pldata"), bytes)
    PldataSource.writeNpyDoubles(
      Paths.get(dir, "gaze_timestamps.npy").toString, Array(100.0, 101.0))
    val df = spark.read.format("pldata").option("topic", "gaze")
      .schema(StructType(Seq(StructField("timestamp", DoubleType),
        StructField("id", LongType))))
      .load(dir)
    val e = intercept[org.apache.spark.SparkException](df.collect())
    val root = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq.last
    assert(root.isInstanceOf[IllegalArgumentException] &&
      root.getMessage.contains("nesting"), root.toString)
    assert(spark.range(10).count() == 10)
  }
}
