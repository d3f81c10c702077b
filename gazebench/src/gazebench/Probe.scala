package gazebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.gazebench.Bus
import org.apache.spark.scheduler._

/** Engine counters for one interval, as deltas. */
final case class Counters(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, execCpuNs: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    execCpuNs - o.execCpuNs, gcMs - o.gcMs)

  /** The `engine` layer's metrics. */
  def metrics: Map[String, Double] = Map(
    "engine.jobs" -> jobs.toDouble,
    "engine.tasks" -> tasks.toDouble,
    "engine.shuffle_mb" -> Stats.mb(shuffleWriteBytes),
    "engine.spill_mb" -> Stats.mb(spillBytes),
    "engine.exec_cpu_s" -> execCpuNs / 1e9,
    "engine.gc_s" -> gcMs / 1e3)
}

/** The benchmark's SparkListener: job/task counters plus the live size of
  * cached RDD blocks (the `cache` layer: every `CacheRegistry` persist
  * shows up here as block updates). Reads go through [[snapshot]], which
  * drains the listener bus first so an interval's counts are complete. */
final class EngineListener(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, shW, spill, cpu, gc = new AtomicLong
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cached = new AtomicLong
  private val cachedPeak = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      cpu.addAndGet(m.executorCpuTime)
      gc.addAndGet(m.jvmGCTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val prev = Option(blocks.put(info.blockId.name, size)).map(_.longValue)
        .getOrElse(0L)
      val now = cached.addAndGet(size - prev)
      cachedPeak.accumulateAndGet(now, math.max)
    }
  }

  def snapshot(): Counters = {
    Bus.drain(sc)
    Counters(jobs.get, tasks.get, shW.get, spill.get, cpu.get, gc.get)
  }

  /** Restart the cached-bytes peak at the current level. */
  def resetCachePeak(): Unit = { Bus.drain(sc); cachedPeak.set(cached.get) }

  def cachePeakBytes: Long = { Bus.drain(sc); cachedPeak.get }
}

/** Process CPU time of this JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def maxHeapBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax
}

/** Peak post-GC heap: the largest heap in use right after any collection
  * (young, mixed or full) since the last [[reset]], summed over the heap
  * pools, as the collectors report it in their notifications. */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val peak = new AtomicLong
  private val delivered = new ConcurrentHashMap[String, AtomicLong]()

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, math.max)
      delivered.computeIfAbsent(info.getGcName, _ => new AtomicLong).incrementAndGet()
    }
  gcs.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  // collections before the listener count as delivered
  gcs.foreach(b => delivered.put(b.getName, new AtomicLong(b.getCollectionCount)))

  /** Some collection has not been delivered yet. */
  private def lagging: Boolean =
    gcs.exists(b => delivered.get(b.getName).get < b.getCollectionCount)

  /** Wait (up to 2 s) until every collection so far has been delivered:
    * notifications arrive on a JMX thread after the collection ends. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (lagging && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def reset(): Unit = { settle(); peak.set(0) }

  /** Collect once more, so the heap the pass leaves behind counts too,
    * then return the peak since [[reset]]. */
  def read(): Long = { System.gc(); settle(); peak.get }
}

object Stats {
  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-key median over a sequence of metric maps. */
  def medianByKey(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k =>
      k -> median(ms.flatMap(_.get(k)))).toMap

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One traced call: `parent` is the id of the enclosing span (0 = none);
  * every span of one traced pass shares `trace`. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans stay in memory while the run measures
  * and are written once, by [[write]], when it ends. A disabled tracer
  * runs each span's body and records nothing, so timing a traced pass
  * against the same pass with a disabled tracer gives the tracing cost. */
final class Tracer(enabled: Boolean = true) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val current = mutable.Map[String, Double]()
  private var stack: List[Int] = Nil
  private var trace = ""
  private var nextId = 1

  /** Open a new trace: the spans recorded until the next call share its
    * id. */
  def begin(traceId: String): Unit = {
    trace = traceId; stack = Nil; current.clear()
  }

  /** Seconds per span name within the current trace. */
  def traceSeconds: Map[String, Double] = current.toMap.withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val sp = Span(id, parent, trace, name, t0, System.nanoTime())
      spans += sp
      current(name) = current.getOrElse(name, 0.0) + sp.seconds
      stack = stack.tail
    }
  }

  /** A span's duration minus the part covered by its child spans. */
  private def selfOf: Span => Double = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    s => s.seconds - childSum.getOrElse(s.id, 0.0)
  }

  /** Self time per span name, summed over every span of that name. */
  def selfSeconds: Map[String, Double] = {
    val self = selfOf
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(self).sum }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val self = selfOf
    val lines = spans.map(s => Json.obj(Seq("trace" -> s.trace,
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> self(s))))
    Files.write(path, lines.asJava)
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }
        .sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

/** Content digest and size of a generated input tree, in path order, so
  * two generations from one seed can be compared byte for byte. */
object Digest {
  def tree(root: Path): (String, Long, Int) = {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    def sha(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
    val files = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    // file contents only, in content order: Spark names its part files
    // with a fresh UUID on every write, so names cannot enter the digest
    val sums = files.map(f => hex(sha(Files.readAllBytes(f)))).sorted
    (hex(sha(sums.mkString.getBytes("UTF-8"))), files.map(Files.size).sum,
      files.length)
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}
