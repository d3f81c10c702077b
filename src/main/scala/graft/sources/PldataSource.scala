package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S4: the reference's .pldata (msgpack) + _timestamps.npy session store
  * (externals/file_methods.py:133-193, odometry.py:43-58) as a Spark
  * source/sink.
  *
  * This object holds the `.npy` sidecar codec and the driver-side
  * writer; reads go through `spark.read.format("pldata")`
  * ([[PldataV2]]), which decodes one session-topic file per task.
  */
object PldataSource {

  /** Minimal .npy v1 reader: little-endian float64 1-D ('<f8'). */
  def readNpyDoubles(path: String): Array[Double] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length >= 10 && bytes(1) == 'N'.toByte, s"not npy: $path")
    val headerLen = ((bytes(9) & 0xff) << 8) | (bytes(8) & 0xff)
    val header = new String(bytes, 10, headerLen, "ASCII")
    require(header.contains("'<f8'"), s"unsupported npy dtype: $header")
    val data = ByteBuffer.wrap(bytes, 10 + headerLen, bytes.length - 10 - headerLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    val n = (bytes.length - 10 - headerLen) / 8
    Array.fill(n)(data.getDouble())
  }

  /** Minimal .npy v1 writer (float64 1-D). */
  def writeNpyDoubles(path: String, values: Array[Double]): Unit =
    writeNpyDoublesStream(path, values.length.toLong, values.iterator)

  /** Streaming .npy v1 writer: `n` values drawn from `it` through a
    * fixed 64 KB buffer — the fixture-write form for driver-side exports
    * fed by `toLocalIterator` (one partition resident at a time) instead
    * of a full `collect`, so driver memory stays FLAT in the table size
    * (the npy shape header needs the count up front; a Spark `count()`
    * is one cheap aggregate next to materializing the rows). */
  def writeNpyDoublesStream(path: String, n: Long,
                            it: Iterator[Double]): Unit = {
    val dict = s"{'descr': '<f8', 'fortran_order': False, 'shape': ($n,), }"
    val pad = 64 - ((10 + dict.length + 1) % 64)
    val header = dict + (" " * pad) + "\n"
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(path)), 64 * 1024)
    try {
      val hb = ByteBuffer.allocate(10 + header.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      hb.put(0x93.toByte).put("NUMPY".getBytes("ASCII"))
        .put(1.toByte).put(0.toByte)
        .putShort(header.length.toShort).put(header.getBytes("ASCII"))
      out.write(hb.array())
      val vb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      var written = 0L
      while (it.hasNext) {
        vb.clear(); vb.putDouble(it.next())
        out.write(vb.array()); written += 1
      }
      require(written == n, s"npy writer: declared $n values, got $written")
    } finally out.close()
  }

  /** Incremental .npy v1 float64 writer — values appended one at a time,
    * the true count patched into the header on `close()`. The shape field
    * is a fixed 20-char right-padded placeholder so the patch rewrites
    * the header in place at the SAME length (trailing spaces inside a
    * tuple are valid Python literal syntax, so numpy reads it unchanged).
    * Fixture writers fed by `toLocalIterator` use this instead of the
    * count-first [[writeNpyDoublesStream]]: no extra Spark `count()` job
    * just to know the header up front. */
  final class NpyDoubleWriter(path: String) {
    private def dictFor(n: Long): String = {
      val nStr = n.toString.padTo(20, ' ')
      s"{'descr': '<f8', 'fortran_order': False, 'shape': ($nStr,), }"
    }
    private val pad = 64 - ((10 + dictFor(0).length + 1) % 64)
    private def headerBytes(n: Long): Array[Byte] = {
      val header = dictFor(n) + (" " * pad) + "\n"
      val hb = ByteBuffer.allocate(10 + header.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      hb.put(0x93.toByte).put("NUMPY".getBytes("ASCII"))
        .put(1.toByte).put(0.toByte)
        .putShort(header.length.toShort).put(header.getBytes("ASCII"))
      hb.array()
    }
    private val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(path)), 64 * 1024)
    out.write(headerBytes(0))
    private val vb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    private var n = 0L
    def write(v: Double): Unit = {
      vb.clear(); vb.putDouble(v); out.write(vb.array()); n += 1
    }
    /** Flush, patch the true count into the header, return it. */
    def close(): Long = {
      out.close()
      val raf = new java.io.RandomAccessFile(path, "rw")
      try raf.write(headerBytes(n)) finally raf.close()
      n
    }
  }

  /** Write rows as a pldata stream + timestamp sidecar (PLData_Writer,
    * file_methods.py:154-193): each row becomes msgpack (topic,
    * packed-payload); timestamps go to the .npy. BOUNDED driver memory:
    * rows stream through `toLocalIterator` (one partition resident at a
    * time) into buffered file writers — no collect, no whole-stream byte
    * buffer — so the fixture write stays flat in the table size. The
    * 100 TB path writes Parquet; this is the session-file export. */
  /** Spark value → msgpack value (nested structs, e.g. the pupil
    * ellipse, become msgpack maps). Shared by the driver-side [[write]]
    * and the distributed V2 sink ([[PldataV2]]) so the two write paths
    * produce byte-identical records. */
  private[sources] def plainValue(v: Any): Any = v match {
    case r: Row => r.schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> plainValue(r.get(i)) }.toMap
    case s: collection.Seq[_] => s.map(plainValue)
    case x => x
  }

  /** The msgpack payload of one row: every non-`topic` field (timestamp
    * included — the PLData_Writer convention). */
  private[sources] def payloadOf(schema: StructType, r: Row): Map[String, Any] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.name != "topic" => f.name -> plainValue(r.get(i))
    }.toMap

  def write(df: DataFrame, dir: String, topic: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tsIdx = df.schema.fieldIndex("timestamp")
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(dir, s"$topic.pldata")), 64 * 1024)
    val tsW = new NpyDoubleWriter(
      Paths.get(dir, s"${topic}_timestamps.npy").toString)
    try {
      import scala.jdk.CollectionConverters._
      df.toLocalIterator().asScala.foreach { r =>
        out.write(MsgPack.pack((topic, MsgPack.pack(payloadOf(df.schema, r)))))
        tsW.write(r.getDouble(tsIdx))
      }
    } finally { out.close(); tsW.close() }
  }

  /** S5: Pupil-Labs `gaze_positions.csv` export scan (read_pl_gaze_csv,
    * utils.py:12-17): resolves the reference's
    * `<session>/exports/<id><id><id>/gaze_positions.csv` layout (the
    * export sub-directory is the output id repeated three times) and
    * reshapes the flat export columns into the catalog gaze row
    * (timestamp, norm_pos array, confidence). Plain `spark.read.csv` —
    * header + schema inference on doubles only. */
  def readGazeCsv(spark: SparkSession, sessionFolder: String,
                  outputId: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val sub = outputId.toString * 3
    val path = Paths.get(sessionFolder, "exports", sub, "gaze_positions.csv")
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path.toString)
      .select(col("gaze_timestamp").cast("double").as("timestamp"),
        array(col("norm_pos_x").cast("double"),
          col("norm_pos_y").cast("double")).as("norm_pos"),
        col("confidence").cast("double"))
  }
}
