package gazebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.model.Calibrator
import graft.streaming.BinocularMerge

/** gaze_stream: S concurrent binocular session tails land as chunk
  * `.pldata` files and flow through `readStream.format("pldata")` →
  * `BinocularMerge.mergeStream` → `applyModels` with models fitted in
  * set-up.
  *
  * Phase 1 is an open loop at the real-time rate of S live tails: each
  * session's recorder lands one `liveChunkSec` chunk every `liveChunkSec`
  * seconds, so a generator thread lands one chunk every
  * `liveChunkSec / S` seconds on a fixed schedule (plain JVM file copies into a
  * staging directory, then an atomic rename, so the source never lists a
  * partial file) and each chunk's latency runs from when it was due to
  * the commit of the micro-batch that consumed it. Phase 2 drains a
  * pre-landed backlog with a fresh query per pass and gives throughput:
  * the first half of every session's backlog is in place when the query
  * starts and the second half lands once the first is consumed, so the
  * second micro-batch's watermark releases rows of the first.
  * Every streamed row must equal, bit for bit, the row `mergeBatch` +
  * `applyModels` produce for the same session at the same position. */
final class GazeStream(val env: Env) extends Workload {
  import GazeStream._

  final case class Drain(rows: Seq[(Long, Row)], inputRows: Long)
  type Out = Drain
  val name = "gaze_stream"

  val sessions: Int = if (env.tiny) 2 else 8
  val liveChunks: Int = if (env.tiny) 24 else 200
  val liveChunkSec = 0.25
  /** Chunks per second in phase 1: every session tail in real time. */
  val rate: Double = sessions / liveChunkSec
  /** Pupil rows per second in phase 1: both eyes at 120 Hz per session. */
  val offeredRowsPerS: Double = rate * 2 * math.round(liveChunkSec * 120)
  val backlogChunksPerSession: Int = if (env.tiny) 4 else 12
  val backlogChunkSec = 4.0

  private var dir: Path = _
  private var models: Calibrator.BinocularModels = _
  private var liveRef: Map[String, Seq[Row]] = Map.empty
  private var backlogRef: Map[String, Seq[Row]] = Map.empty
  private var backlogRows = 0L
  private var drains = 0
  // drains still speed up (JIT) over the first few passes
  override def warmups: Int = if (env.tiny) 1 else 3
  private var wave2Names: Seq[String] = Nil

  /** One session's pupils over [t0, t0 + sec): both eyes at 120 Hz, eye
    * 1 two ms behind eye 0, following a smooth seeded gaze path; about
    * 3 % of samples fall below the 0.6 confidence gate and map
    * monocularly. */
  private def chunkRows(session: String, sIdx: Int, t0: Double,
                        sec: Double): Seq[(Double, ListMap[String, Any])] = {
    val n = math.round(sec * 120).toInt
    val rng = new scala.util.Random(env.seed * 7919 + sIdx * 104729L +
      math.round(t0 * 1000))
    val f1 = 0.05 + 0.02 * sIdx; val f2 = 0.07 + 0.015 * sIdx
    (0 until n).flatMap { i =>
      val t = t0 + i / 120.0
      val gx = 0.5 + 0.3 * math.sin(2 * math.Pi * f1 * t + sIdx)
      val gy = 0.5 + 0.3 * math.cos(2 * math.Pi * f2 * t)
      val (p0x, p0y) = inverseEye0(gx, gy)
      val (p1x, p1y) = inverseEye1(gx, gy)
      def conf() = if (rng.nextInt(33) == 0) 0.4 else 0.9 + rng.nextInt(10) * 0.01
      Seq(
        (t, ListMap[String, Any]("session" -> session, "id" -> 0L,
          "x" -> (p0x + rng.nextGaussian() * 2e-4),
          "y" -> (p0y + rng.nextGaussian() * 2e-4), "confidence" -> conf())),
        (t + 0.002, ListMap[String, Any]("session" -> session, "id" -> 1L,
          "x" -> (p1x + rng.nextGaussian() * 2e-4),
          "y" -> (p1y + rng.nextGaussian() * 2e-4), "confidence" -> conf())))
    }
  }

  /** Chunk k of the live phase belongs to session k mod S and covers its
    * (k div S)-th slice of event time. */
  private def liveChunk(k: Int): (String, Int, Double) =
    (s"live${k % sessions}", k % sessions, (k / sessions) * liveChunkSec)

  def generate(out: Path): Unit = {
    (0 until liveChunks).foreach { k =>
      val (s, i, t0) = liveChunk(k)
      VedbSessions.writeStream(out.resolve("live").resolve(f"c$k%05d"), "pupil",
        chunkRows(s, i, t0, liveChunkSec))
    }
    for (i <- 0 until sessions; j <- 0 until backlogChunksPerSession) {
      val wave = if (j < backlogChunksPerSession / 2) "" else Wave2
      VedbSessions.writeStream(out.resolve("backlog").resolve(wave).resolve(f"b$i%02d_$j%03d"),
        "pupil", chunkRows(s"backlog$i", i, j * backlogChunkSec, backlogChunkSec))
    }
    // calibration recording: 25 grid targets × 3 repeats at 1 Hz, each
    // eye the inverse of its planted affine plus independent jitter
    val rng = new scala.util.Random(env.seed)
    val cal = (0 until 75).map { e =>
      val c = e % 25
      val (mx, my) = (0.1 + 0.2 * (c % 5), 0.1 + 0.2 * (c / 5))
      val (p0x, p0y) = inverseEye0(mx, my)
      val (p1x, p1y) = inverseEye1(mx, my)
      val j1 = (rng.nextInt(11) - 5) / 1e4; val j2 = (rng.nextInt(13) - 6) / 1e4
      Seq(e.toDouble, mx, my, p0x + j1, p0y - j1, p1x + j2, p1y - j2)
        .mkString(",")
    }
    Files.write(out.resolve("calibration.csv"), cal.asJava)
  }

  private def pupils(path: String): DataFrame =
    env.spark.read.format("pldata").schema(pupilSchema)
      .option("topic", "pupil").option("recursive", "true").load(path)

  /** Both waves of the backlog as one batch table. */
  private def backlog: DataFrame = {
    val b = dir.resolve("backlog")
    pupils(b.toString).unionByName(pupils(b.resolve(Wave2).toString))
  }

  private def mapped(merged: Dataset[BinocularMerge.Gaze]): DataFrame =
    BinocularMerge.applyModels(merged.toDF(), models.bino, models.eye0, models.eye1)

  /** The batch reference: `mergeBatch` + `applyModels`, in emission
    * order per session. */
  private def reference(in: DataFrame): Map[String, Seq[Row]] = {
    val spark = env.spark
    import spark.implicits._
    mapped(BinocularMerge.mergeBatch(in.as[BinocularMerge.Pupil]))
      .collect().toSeq.groupBy(_.getAs[String]("session"))
  }

  override def prepare(in: Path): Unit = {
    dir = in
    val spark = env.spark
    import spark.implicits._
    val cal = Files.readAllLines(in.resolve("calibration.csv")).asScala.toSeq
      .map(_.split(",").map(_.toDouble))
    val markers = cal.map(r => (r(0), r(1), r(2))).toDF("timestamp", "norm_x", "norm_y")
    def eye(i: Int, dt: Double) = cal.map(r => (r(0) + dt, r(3 + 2 * i), r(4 + 2 * i), 0.95))
      .toDF("timestamp", "norm_x", "norm_y", "confidence")
    models = Calibrator.fitBinocular(markers, eye(0, 0.002), eye(1, 0.004))
      .getOrElse(throw new IllegalStateException("binocular calibration rejected all points"))
    liveRef = reference(pupils(in.resolve("live").toString))
    backlogRef = reference(backlog)
    backlogRows = backlog.count()
    wave2Names = Files.list(in.resolve("backlog").resolve(Wave2)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
  }

  /** Start the streaming lineage over `src`, collecting every emitted row
    * with its batch id. */
  private def start(src: Path, tag: String,
                    sink: ConcurrentLinkedQueue[(Long, Row)]): StreamingQuery = {
    val spark = env.spark
    import spark.implicits._
    val in = spark.readStream.format("pldata").schema(pupilSchema)
      .option("topic", "pupil").option("recursive", "true").load(src.toString)
      .as[BinocularMerge.Pupil]
    mapped(BinocularMerge.mergeStream(in, watermarkDelay = WatermarkDelay))
      .writeStream.queryName(tag)
      .option("checkpointLocation", env.work.resolve(s"ckpt-$tag").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.collect().foreach(r => sink.add((id, r)))
      }.start()
  }

  /** Move the second backlog wave into the watched directory, or back. */
  private def landWave2(land: Boolean): Unit = {
    val b = dir.resolve("backlog")
    val (from, to) = if (land) (b.resolve(Wave2), b) else (b, b.resolve(Wave2))
    wave2Names.foreach { n =>
      if (Files.exists(from.resolve(n)))
        Files.move(from.resolve(n), to.resolve(n), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** One backlog drain: a fresh query consumes the first wave, then the
    * second. */
  def run(): Drain = {
    drains += 1
    val sink = new ConcurrentLinkedQueue[(Long, Row)]()
    val q = start(dir.resolve("backlog"), s"drain$drains", sink)
    try {
      q.processAllAvailable()
      landWave2(land = true)
      q.processAllAvailable()
    } finally q.stop()
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    Drain(sink.asScala.toSeq, inputRows)
  }

  override def afterPass(): Unit = landWave2(land = false)

  /** Every streamed row must equal the reference row at the same
    * position of its session: the stream's output is a per-session
    * prefix of the batch output. */
  def prefixCheck(out: Seq[(Long, Row)], ref: Map[String, Seq[Row]]): Seq[Op] = {
    val bySession = out.sortBy(_._1).map(_._2).groupBy(_.getAs[String]("session"))
    ref.keys.toSeq.sorted.map { s =>
      val got = bySession.getOrElse(s, Nil)
      val want = ref(s)
      val err =
        if (got.length > want.length) Some(s"${got.length} rows streamed, ${want.length} in the batch reference")
        else got.indices.find(i => !sameRow(got(i), want(i))).map(i =>
          s"row $i differs: ${got(i)} vs ${want(i)}")
      Op(s"session $s", err)
    } ++ bySession.keys.filterNot(ref.contains).map(s => Op(s"session $s", Some("not in the input")))
  }

  def check(d: Drain): Pass = Pass(d.inputRows, Nil,
    prefixCheck(d.rows, backlogRef) ++ Seq(
      Op("drain-input", if (d.inputRows == backlogRows) None
        else Some(s"${d.inputRows} rows read, $backlogRows landed")),
      released("drain-released", d.rows, backlogRef)))

  /** Liveness: the watermark must have released a fair share of the rows,
    * so the bit-for-bit check above is not vacuous. */
  private def released(name: String, out: Seq[(Long, Row)],
                       ref: Map[String, Seq[Row]]): Op = {
    val total = ref.values.map(_.length).sum
    Op(name, if (out.length * 4 >= total) None
      else Some(s"only ${out.length} of $total rows released by the final watermark"))
  }

  /** The open loop at a fixed rate (phase 1), then backlog drains
    * (phase 2) for the rest of the window. */
  override def measure(seconds: Double): Measured = {
    // the open loop first: its micro-batches warm the streaming code
    // further, so the drains after it (the throughput figure) run on
    // steadier code
    val live = openLoop()
    val m = Runner.closedLoop(this, math.max(seconds - liveChunks / rate, 0.0))
    val p50 = Stats.quantile(live.latencies, 0.5)
    m.copy(latencyP50Ms = p50, ops = live.ops ++ m.ops,
      notes = Map("offered_rows_per_s" -> offeredRowsPerS,
        "offered_share_of_drain" -> (if (m.itemsPerS > 0) offeredRowsPerS / m.itemsPerS else 0.0)),
      layer = m.layer ++ live.layer ++ Map("streaming.latency_p50_ms" -> p50,
        "streaming.latency_p95_ms" -> Stats.quantile(live.latencies, 0.95)))
  }

  final case class Live(latencies: Seq[Double], ops: Seq[Op], layer: Map[String, Double])

  private def openLoop(): Live = {
    val watch = env.work.resolve("watch")
    val staging = watch.resolve("_staging")
    Files.createDirectories(staging)
    val src = dir.resolve("live")
    val names = (0 until liveChunks).map(k => f"c$k%05d")
    val landed = new Array[Long](liveChunks)
    val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "live") progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    env.spark.streams.addListener(listener)
    val sink = new ConcurrentLinkedQueue[(Long, Row)]()
    val q = start(watch, "live", sink)
    val intervalMs = 1000.0 / rate
    val startMs = System.currentTimeMillis() + 200
    def due(k: Int): Long = startMs + math.round(k * intervalMs)
    val generator = new Thread(() => {
      names.zipWithIndex.foreach { case (n, k) =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val stage = staging.resolve(n)
        Files.createDirectories(stage)
        Seq("pupil.pldata", "pupil_timestamps.npy").foreach(f =>
          Files.copy(src.resolve(n).resolve(f), stage.resolve(f)))
        Files.move(stage, watch.resolve(n), StandardCopyOption.ATOMIC_MOVE)
        landed(k) = System.currentTimeMillis()
      }
    }, "gazebench-generator")
    generator.start()
    generator.join()
    try {
      q.processAllAvailable()
      org.apache.spark.gazebench.Bus.drain(env.spark.sparkContext)
    } finally {
      q.stop()
      env.spark.streams.removeListener(listener)
    }
    val ps = progress.asScala.toSeq.sortBy(_.batchId)
    // which batch consumed each chunk, from the source offsets (the
    // pldata source's offset is the list of files seen so far)
    val consumedAt = mutable.Map[String, Long]()
    val seenTwice = mutable.ArrayBuffer[String]()
    ps.foreach { p =>
      val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L)
      val before = offsetFiles(p.sources(0).startOffset)
      (offsetFiles(p.sources(0).endOffset) -- before).foreach { f =>
        val n = java.nio.file.Paths.get(f).getParent.getFileName.toString
        if (consumedAt.contains(n)) seenTwice += n
        consumedAt(n) = commitMs
      }
    }
    val latencies = names.indices.flatMap(k => consumedAt.get(names(k)).map(c => (c - due(k)).toDouble))
    val chunkOps = names.map(n => Op(s"chunk $n",
      if (seenTwice.contains(n)) Some("consumed by two batches")
      else if (!consumedAt.contains(n)) Some("never consumed") else None))
    val out = sink.asScala.toSeq
    val data = ps.filter(_.numInputRows > 0)
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    Live(latencies, chunkOps ++ prefixCheck(out, liveRef) :+
      released("live-released", out, liveRef), Map(
      "streaming.batches" -> data.length.toDouble,
      "streaming.batch_ms_p50" -> p50(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble),
      "streaming.add_batch_ms_p50" -> p50(_.durationMs.getOrDefault("addBatch", 0L).toDouble),
      "streaming.commit_ms_p50" -> p50(p => CommitKeys.map(k =>
        p.durationMs.getOrDefault(k, 0L).toLong).sum.toDouble),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.map(s => Stats.mb(s.memoryUsedBytes)).getOrElse(0.0),
      "streaming.late_rows" -> ps.flatMap(_.stateOperators.headOption)
        .map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.generator_lag_ms" -> Stats.quantile(
        names.indices.map(k => (landed(k) - due(k)).toDouble), 0.95),
      // chunks landed but not yet committed when the generator finished
      "streaming.backlog_at_end" -> consumedAt.values.count(_ > landed.max).toDouble))
  }

  /** The batch-side layer calls on the backlog: the pldata scan, the
    * binocular merge and the model apply, each on materialized input. */
  def traced(t: Tracer): Pass = {
    val spark = env.spark
    import spark.implicits._
    val p = t.span("sources.pldata_read") {
      val p = graft.CacheRegistry.persistTracked(backlog); p.count(); p
    }
    val merged = t.span("streaming.merge_batch") {
      val m = BinocularMerge.mergeBatch(p.as[BinocularMerge.Pupil]).persist()
      m.count(); m
    }
    val out = t.span("model.apply") { mapped(merged).collect().toSeq }
    merged.unpersist()
    val sec = t.traceSeconds
    val got = out.groupBy(_.getAs[String]("session"))
    val ops = backlogRef.keys.toSeq.sorted.map(s => Op(s"traced $s",
      if (got.get(s).map(_.length) == Some(backlogRef(s).length) &&
        got(s).zip(backlogRef(s)).forall { case (a, b) => sameRow(a, b) }) None
      else Some("batch merge + apply differs from the reference")))
    Pass(backlogRows, Nil, ops, Map(
      "sources.pldata_read_s" -> sec("sources.pldata_read"),
      "sources.pldata_rows" -> backlogRows.toDouble,
      "sources.pldata_mb" -> Stats.mb(Digest.treeBytes(dir.resolve("backlog"))),
      "model.apply_s" -> sec("model.apply"),
      "model.apply_rows" -> out.length.toDouble))
  }
}

object GazeStream {
  val WatermarkDelay = "1 second"
  /** Hidden (`_`-prefixed) directory the source does not list. */
  val Wave2 = "_wave2"
  val CommitKeys = Seq("walCommit", "commitOffsets", "commitBatch")

  val pupilSchema: StructType = StructType(Seq(
    StructField("session", StringType), StructField("timestamp", DoubleType),
    StructField("id", IntegerType), StructField("x", DoubleType),
    StructField("y", DoubleType), StructField("confidence", DoubleType)))

  /** Planted eye-0 map is the m9 affine; its inverse gives the pupil. */
  def inverseEye0(gx: Double, gy: Double): (Double, Double) = {
    val py = (gy - 0.03) / 0.9
    (((gx - 0.05) * 0.9 - py * 0.1) / 0.8, py)
  }

  /** Planted eye-1 map: (0.7·px + 0.12, 0.85·py + 0.05). */
  def inverseEye1(gx: Double, gy: Double): (Double, Double) =
    ((gx - 0.12) / 0.7, (gy - 0.05) / 0.85)

  /** Bit-for-bit row equality (doubles compared by their bits). */
  def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
        case (x, y) => x == y
      }
    }

  /** The file list of a pldata source offset (a JSON array of paths). */
  def offsetFiles(json: String): Set[String] =
    if (json == null || json.trim.isEmpty || json.trim == "null") Set.empty
    else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSet
}
