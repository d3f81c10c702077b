package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 front-end for the .pldata session store — the one read
  * path (`spark.read.format("pldata")`, batch and streaming) and the
  * distributed sink. The msgpack record decode and the msgpack → Spark
  * value conversion live here and nowhere else.
  *
  * ```
  * spark.read.format("pldata")
  *   .option("topic", "gaze")          // <dir>/gaze.pldata (+ sidecar)
  *   .option("recursive", "true")      // optional: session subdirs too
  *   .load("/data/session_0001")
  * ```
  *
  * What the V2 plumbing buys over a `binaryFile` scan plus a decode in
  * `mapPartitions`:
  *  - COLUMN PRUNING pushed into the reader
  *    ([[SupportsPushDownRequiredColumns]]): only requested fields are
  *    converted, and the `_timestamps.npy` sidecar is not even OPENED
  *    unless `timestamp` is in the projection (the msgpack stream itself
  *    must still be walked — it is a length-prefixed stream format with
  *    no column layout, documented honestly);
  *  - partition planning by FILE: one input partition per session-topic
  *    file, the natural distribution axis (each file is one device
  *    stream of MBs), with `recursive` turning a session-tree root into
  *    a multi-session scan;
  *  - schema by CATALOG or INFERENCE: an explicit `.schema(...)` (e.g.
  *    [[graft.schemas.Schemas.pupil]]) wins; otherwise the first record
  *    of the first file is decoded driver-side and mapped to Spark types.
  *
  * Paths are POSIX/local (the sidecar contract [[PldataSource
  * .readNpyDoubles]] already sets) — the 100 TB path is Parquet
  * ([[graft.pipeline.Pipeline]]); this is the session-file ingest edge.
  */
class PldataV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pldata"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PldataV2.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    PldataV2.PldataTable(schema,
      new CaseInsensitiveStringMap(properties).asScala.toMap)
}

object PldataV2 {

  /** Decode one pldata byte stream into (topic, payload-map) pairs. */
  private def decodeStream(bytes: Array[Byte]): Vector[(String, Map[String, Any])] =
    MsgPack.unpackStream(bytes).map {
      case Vector(topic: String, payload: Array[Byte]) =>
        topic -> MsgPack.unpackStream(payload).head.asInstanceOf[Map[String, Any]]
      case other =>
        throw new IllegalArgumentException(s"bad pldata record: $other")
    }

  /** Msgpack value → Spark value of `dt` (missing → null, the arraydict
    * convention). */
  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x: Long, DoubleType) => x.toDouble
    case (x: Double, DoubleType) => x
    case (x: Long, LongType) => x
    case (x: Double, LongType) => x.toLong
    case (x: Long, IntegerType) => x.toInt
    case (x: String, StringType) => x
    case (x: Vector[_], ArrayType(DoubleType, _)) =>
      x.map {
        case d: Double => d
        case l: Long => l.toDouble
        case other => Double.NaN
      }
    case (x: Vector[_], ArrayType(inner, _)) => x.map(convert(_, inner))
    // nested detector dicts (e.g. the pupil `ellipse` struct)
    case (x: Map[_, _], st: StructType) =>
      val m = x.asInstanceOf[Map[String, Any]]
      org.apache.spark.sql.Row.fromSeq(
        st.fields.toSeq.map(f => convert(m.get(f.name).orNull, f.dataType)))
    case (x, StringType) => String.valueOf(x)
    case (x, _) =>
      throw new IllegalArgumentException(s"cannot convert $x to $dt")
  }

  private def topicOf(options: Map[String, String]): String =
    options.getOrElse("topic",
      throw new IllegalArgumentException(
        "pldata source needs .option(\"topic\", <name>)"))

  /** The session-topic files under `path`: `<path>/<topic>.pldata`, plus
    * every `<path>/<sub>/<topic>.pldata` when `recursive`. Sorted for a
    * deterministic partition order. Empty is legal for the STREAMING
    * reader (a tail-ingest may start before the first session lands). */
  private[sources] def listFilesAllowEmpty(
      options: Map[String, String]): Seq[String] = {
    val path = options.getOrElse("path",
      throw new IllegalArgumentException("pldata source needs a load(path)"))
    val topic = topicOf(options)
    val recursive = options.get("recursive").exists(_.toBoolean)
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else {
      // `_`/`.`-prefixed subdirs are STAGING (the Hadoop/Spark hidden-file
      // convention, and what this source's own sink uses for in-progress
      // shards): producers write there and RENAME into place, so a
      // listing never sees a torn session — the atomic-appearance
      // contract the streaming reader depends on
      val dirs =
        if (!recursive) Seq(root)
        else root +: {
          val ds = java.nio.file.Files.newDirectoryStream(root)
          try ds.asScala.filter(p => java.nio.file.Files.isDirectory(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith(".")).toSeq
          finally ds.close()
        }
      dirs.map(_.resolve(s"$topic.pldata"))
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).sorted
    }
  }

  private[sources] def listFiles(options: Map[String, String]): Seq[String] = {
    val files = listFilesAllowEmpty(options)
    require(files.nonEmpty,
      s"no ${topicOf(options)}.pldata under ${options.getOrElse("path", "?")}" +
        (if (options.get("recursive").exists(_.toBoolean)) " (recursive)"
         else ""))
    files
  }

  /** Msgpack value → Spark type (first-record inference). */
  private def typeOf(v: Any): DataType = v match {
    case _: Long => LongType
    case _: Double => DoubleType
    case _: String => StringType
    case _: Boolean => BooleanType
    case xs: Vector[_] if xs.nonEmpty => ArrayType(typeOf(xs.head))
    case _: Vector[_] => ArrayType(DoubleType)
    case m: Map[_, _] =>
      StructType(m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .map { case (k, x) => StructField(k, typeOf(x)) })
    case other => throw new IllegalArgumentException(
      s"cannot infer a Spark type for msgpack value $other")
  }

  /** Bounded prefix read: inference needs only the FIRST record, so a
    * multi-GB device stream must not be pulled onto the driver heap to
    * decode it. A record is a small (topic, payload) pair — a 4 MB
    * prefix covers anything sane; a record that somehow exceeds it
    * makes the truncated decode throw, and the whole-file read is the
    * fallback. */
  private def readPrefix(path: String,
                         maxBytes: Int = 4 * 1024 * 1024): Array[Byte] = {
    val p = java.nio.file.Paths.get(path)
    val size = java.nio.file.Files.size(p)
    if (size <= maxBytes) java.nio.file.Files.readAllBytes(p)
    else {
      val ch = java.nio.file.Files.newByteChannel(p)
      try {
        val buf = java.nio.ByteBuffer.allocate(maxBytes)
        while (buf.hasRemaining && ch.read(buf) >= 0) ()
        java.util.Arrays.copyOf(buf.array(), buf.position())
      } finally ch.close()
    }
  }

  private[sources] def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val first = listFiles(opts).head
    val bytes =
      try readPrefix(first)
      catch { case scala.util.control.NonFatal(_) =>
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(first)) }
    // ONE record decodes (incremental reader) — inference must not pay a
    // whole-session-file decode on the driver
    val payload = decodeFirstRecord(first, bytes)
    // topic/timestamp are STRUCTURAL (record tag + sidecar clock); a
    // payload that also carries them — PLData_Writer payloads usually
    // duplicate timestamp — must not shadow them
    StructType(
      StructField("topic", StringType) +:
      StructField("timestamp", DoubleType) +:
      payload.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => k == "topic" || k == "timestamp" }
        .map { case (k, v) => StructField(k, typeOf(v)) })
  }

  private def decodeFirstRecord(first: String,
                                bytes: Array[Byte]): Map[String, Any] = {
    val attempt = try MsgPack.unpackFirst(bytes) catch {
      // truncated prefix mid-record (a >4 MB first record): retry whole
      case scala.util.control.NonFatal(_)
          if bytes.length < java.nio.file.Files.size(
            java.nio.file.Paths.get(first)) =>
        MsgPack.unpackFirst(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(first)))
    }
    attempt match {
      case Some(Vector(_: String, p: Array[Byte])) =>
        MsgPack.unpackFirst(p) match {
          case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          case other => throw new IllegalArgumentException(
            s"bad pldata payload in $first: $other")
        }
      case None => throw new IllegalArgumentException(
        s"cannot infer schema from empty $first")
      case other => throw new IllegalArgumentException(
        s"bad pldata record in $first: $other")
    }
  }

  private[sources] case class PldataTable(tableSchema: StructType,
                                          options: Map[String, String])
      extends Table with SupportsRead with SupportsWrite {
    override def schema(): StructType = tableSchema
    override def name(): String =
      s"pldata(${options.getOrElse("path", "?")}:${topicOf(options)})"
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      PldataScanBuilder(tableSchema, options ++ o.asScala)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new PldataWriteBuilder(info.schema(),
        options ++ info.options().asScala, truncateFirst = false,
        queryId = info.queryId())
  }

  /** V2 sink: each input partition becomes one SESSION SHARD —
    * `<root>/part-<partition>-<job>/<topic>.pldata` + its `.npy`
    * sidecar — exactly the layout the reader's `recursive` mode scans,
    * so a distributed export round-trips through `format("pldata")`
    * without a driver bottleneck (the programmatic [[PldataSource
    * .write]] is the single-file/driver-side form). The shard name
    * carries the WRITE's queryId, so `mode("append")` jobs land beside
    * prior jobs' shards instead of colliding with them (same-named
    * replacement is then only ever the stale-attempt case WITHIN one
    * job). Task attempts write into a uuid-named temp dir and RENAME
    * into place at task commit (one winner per partition under Spark's
    * commit coordination); abort deletes the temp. `mode("overwrite")`
    * truncates prior `part-*` shards and any root-level
    * `<topic>.pldata` first. */
  private[sources] class PldataWriteBuilder(schema: StructType,
                                            options: Map[String, String],
                                            truncateFirst: Boolean,
                                            queryId: String)
      extends WriteBuilder with SupportsTruncate {
    override def truncate(): WriteBuilder =
      new PldataWriteBuilder(schema, options, truncateFirst = true, queryId)
    override def build(): Write = new Write {
      override def toBatch: BatchWrite =
        PldataBatchWrite(schema, options, truncateFirst, queryId)
    }
  }

  private[sources] case class PldataBatchWrite(schema: StructType,
                                               options: Map[String, String],
                                               truncateFirst: Boolean,
                                               queryId: String)
      extends BatchWrite {
    private val root = options.getOrElse("path",
      throw new IllegalArgumentException("pldata sink needs a save(path)"))
    private val topic = topicOf(options)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      require(schema.fieldNames.contains("timestamp"),
        "pldata sink needs a `timestamp` column (the .npy sidecar clock)")
      val rootPath = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootPath)
      if (truncateFirst) {
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val ds = java.nio.file.Files.newDirectoryStream(p)
            try ds.asScala.foreach(rm) finally ds.close()
          }
          java.nio.file.Files.deleteIfExists(p); ()
        }
        val ds = java.nio.file.Files.newDirectoryStream(rootPath)
        try ds.asScala
          .filter(p => p.getFileName.toString.startsWith("part-") ||
            p.getFileName.toString == s"$topic.pldata" ||
            p.getFileName.toString == s"${topic}_timestamps.npy")
          .toSeq.foreach(rm)
        finally ds.close()
      }
      PldataWriterFactory(schema, root, topic, jobTag)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()

    // short per-job disambiguator baked into shard names; queryId is a
    // UUID per write job, so appends never replace earlier jobs' shards
    private def jobTag: String = queryId.replace("-", "").take(12)
  }

  private[sources] case class PldataWriterFactory(schema: StructType,
                                                  root: String, topic: String,
                                                  jobTag: String)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int,
                              taskId: Long): DataWriter[InternalRow] =
      new PldataDataWriter(schema, root, topic, partitionId, jobTag)
  }

  private[sources] case class PldataCommitted(dir: String)
      extends WriterCommitMessage

  private[sources] class PldataDataWriter(schema: StructType, root: String,
                                          topic: String, partitionId: Int,
                                          jobTag: String)
      extends DataWriter[InternalRow] {
    private val tmpDir = java.nio.file.Paths.get(root,
      s"_tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(tmpDir)
    private val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(
        tmpDir.resolve(s"$topic.pldata")), 64 * 1024)
    private val tsW = new PldataSource.NpyDoubleWriter(
      tmpDir.resolve(s"${topic}_timestamps.npy").toString)
    private val tsIdx = schema.fieldIndex("timestamp")
    private val toScala =
      CatalystTypeConverters.createToScalaConverter(schema)

    override def write(record: InternalRow): Unit = {
      val r = toScala(record).asInstanceOf[org.apache.spark.sql.Row]
      out.write(MsgPack.pack(
        (topic, MsgPack.pack(PldataSource.payloadOf(schema, r)))))
      tsW.write(r.getDouble(tsIdx))
    }

    override def commit(): WriterCommitMessage = {
      out.close(); tsW.close()
      val target = java.nio.file.Paths.get(root,
        f"part-$partitionId%05d-$jobTag")
      // the name is unique per (job, partition): one committer per
      // partition (Spark's coordination), so a leftover target can only
      // be a dead prior attempt of THIS job — stale, replace it
      if (java.nio.file.Files.exists(target)) {
        val ds = java.nio.file.Files.newDirectoryStream(target)
        try ds.asScala.toSeq.foreach(java.nio.file.Files.deleteIfExists(_))
        finally ds.close()
        java.nio.file.Files.deleteIfExists(target)
      }
      java.nio.file.Files.move(tmpDir, target)
      PldataCommitted(target.toString)
    }

    override def abort(): Unit = {
      try { out.close(); tsW.close() } catch { case scala.util.control.NonFatal(_) => () }
      val ds = java.nio.file.Files.newDirectoryStream(tmpDir)
      try ds.asScala.toSeq.foreach(java.nio.file.Files.deleteIfExists(_))
      finally ds.close()
      java.nio.file.Files.deleteIfExists(tmpDir); ()
    }

    override def close(): Unit = ()
  }

  private[sources] case class PldataScanBuilder(full: StructType,
                                                options: Map[String, String])
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = full
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = PldataScan(required, options)
  }

  private[sources] case class PldataScan(required: StructType,
                                         options: Map[String, String])
      extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"PldataScan topic=${topicOf(options)} " +
        s"ReadSchema: ${required.simpleString}"
    override def planInputPartitions(): Array[InputPartition] =
      listFiles(options).map(f =>
        PldataPartition(f): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      PldataReaderFactory(required, chaosOf(options))
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new PldataMicroBatchStream(required, options)
  }

  /** STREAMING tail-ingest over a session tree: each micro-batch is the
    * set of session-topic files that APPEARED since the last offset —
    * the `readStream.format("pldata")` front door for score-at-ingest
    * lineages (files are device streams, written then closed, so a
    * present file is immutable — the contract this source assumes).
    * Offsets are the sorted processed-file list itself (JSON array), so
    * restart-from-checkpoint replays exactly the unseen files; no file
    * is ever read twice and arrival order cannot reorder rows within a
    * file. Offset size grows with the SESSION count (one path per seen
    * file, like Spark's own FileStreamSource log) — bounded by devices ×
    * days, not by rows. */
  private[sources] case class PldataFilesOffset(files: Seq[String])
      extends Offset {
    override def json(): String = files.sorted.map(f =>
      "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
  }

  private[sources] object PldataFilesOffset {
    def fromJson(json: String): PldataFilesOffset = {
      val t = json.trim
      require(t.startsWith("[") && t.endsWith("]"), s"bad offset: $json")
      val body = t.substring(1, t.length - 1)
      if (body.trim.isEmpty) PldataFilesOffset(Seq.empty)
      else {
        // split on quotes respecting the two escapes the encoder emits
        val out = scala.collection.mutable.ArrayBuffer[String]()
        val sb = new java.lang.StringBuilder
        var inStr = false; var i = 0
        while (i < body.length) {
          body.charAt(i) match {
            case '\\' if inStr && i + 1 < body.length =>
              sb.append(body.charAt(i + 1)); i += 1
            case '"' if !inStr => inStr = true
            case '"' => inStr = false; out += sb.toString; sb.setLength(0)
            case c if inStr => sb.append(c)
            case _ => ()
          }
          i += 1
        }
        PldataFilesOffset(out.toSeq)
      }
    }
  }

  private[sources] class PldataMicroBatchStream(required: StructType,
                                                options: Map[String, String])
      extends MicroBatchStream {
    override def initialOffset(): Offset = PldataFilesOffset(Seq.empty)
    override def latestOffset(): Offset =
      PldataFilesOffset(listFilesAllowEmpty(options))
    override def deserializeOffset(json: String): Offset =
      PldataFilesOffset.fromJson(json)
    override def planInputPartitions(start: Offset,
                                     end: Offset): Array[InputPartition] = {
      val seen = start.asInstanceOf[PldataFilesOffset].files.toSet
      end.asInstanceOf[PldataFilesOffset].files
        .filterNot(seen).sorted
        .map(f => PldataPartition(f): InputPartition).toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      PldataReaderFactory(required)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private[sources] case class PldataPartition(file: String)
      extends InputPartition

  /** TEST-ONLY: count of chaos-seam throws, so the retry specs can
    * assert a failure was actually injected (same-JVM local mode). */
  private[graft] val chaosInjected = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The dev-only `.option("chaosFailFirstAttemptAfter", n)` knob —
    * absent/0 in production reads; see [[PldataPartitionReader.next]]. */
  private def chaosOf(options: Map[String, String]): Int =
    options.get("chaosfailfirstattemptafter")
      .orElse(options.get("chaosFailFirstAttemptAfter")).map(_.toInt)
      .getOrElse(0)

  private[sources] case class PldataReaderFactory(required: StructType,
                                                  chaosAfter: Int = 0)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PldataPartitionReader(
        p.asInstanceOf[PldataPartition].file, required, chaosAfter)
  }

  /** Per-file reader: decode the msgpack stream, align the `.npy`
    * sidecar by position (opened ONLY when `timestamp` is projected),
    * convert just the required fields. */
  private[sources] class PldataPartitionReader(file: String,
                                               required: StructType,
                                               chaosAfter: Int = 0)
      extends PartitionReader[InternalRow] {
    private val needTs = required.fieldNames.contains("timestamp")
    private val ts: Array[Double] =
      if (!needTs) Array.empty
      else PldataSource.readNpyDoubles(
        file.stripSuffix(".pldata") + "_timestamps.npy")
    private val recs = decodeStream(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
    // a sidecar SHORTER than the record stream is data corruption —
    // fabricating NaN timestamps for the overflow rows would slide
    // silently past downstream filters/joins; fail the task like the
    // missing-sidecar case (the spec-pinned behavior), loudly and early
    if (needTs && recs.length > ts.length)
      throw new java.io.IOException(
        s"pldata sidecar misalignment in $file: ${recs.length} records " +
          s"but only ${ts.length} timestamps")
    private val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(required)
    private var i = -1

    override def next(): Boolean = {
      // TEST-ONLY chaos seam (ChaosRetrySpec): a first-attempt task dies
      // mid-read, and the retry must re-open the file and reproduce the
      // same rows — the executor-loss event a 100 TB scan sees daily.
      // Disabled (0) unless the scan was opened with the chaos option.
      if (chaosAfter > 0 && i + 1 == chaosAfter) {
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0) {
          PldataV2.chaosInjected.incrementAndGet()
          throw new java.io.IOException(
            "graft chaos: injected first-attempt read failure")
        }
      }
      i += 1; i < recs.length
    }

    override def get(): InternalRow = {
      val (topic, payload) = recs(i)
      val vals = required.fields.map { f =>
        f.name match {
          case "topic" => topic
          case "timestamp" => ts(i) // length checked at open
          case name =>
            convert(payload.get(name).orNull, f.dataType)
        }
      }
      toCatalyst(org.apache.spark.sql.Row.fromSeq(vals.toSeq))
        .asInstanceOf[InternalRow]
    }

    override def close(): Unit = ()
  }
}
