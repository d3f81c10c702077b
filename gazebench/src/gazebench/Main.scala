package gazebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One verified operation (a session, file, chunk or clip): `error` holds
  * the wrong-output reason or the exception's class and message. */
final case class Op(name: String, error: Option[String] = None) {
  def failed: Boolean = error.isDefined
}

/** What one checked pass produced. `items` is the workload's unit of work
  * (sessions, rows or frames); `latenciesMs` holds one value per
  * operation the workload times; `layer` carries per-layer counters. */
final case class Pass(items: Long, latenciesMs: Seq[Double], ops: Seq[Op],
                      layer: Map[String, Double] = Map.empty)

/** What a workload needs from the run: the session, its own scratch
  * directory, the seed and the size switch (tiny for the self-test). */
final case class Env(spark: SparkSession, work: Path, seed: Long,
                     tiny: Boolean, engine: EngineListener)

/** The end-to-end figures of one measured window, plus the per-layer
  * counters it gathered along the way; `notes` are figures the report
  * line prints that are not metrics. */
final case class Measured(itemsPerS: Double, latencyP50Ms: Double, cpuS: Double,
                          heapMb: Double, passWallS: Seq[Double],
                          ops: Seq[Op], layer: Map[String, Double],
                          notes: Map[String, Double] = Map.empty)

trait Workload {
  type Out
  def name: String
  def env: Env

  /** Write the seeded inputs under `dir`. The same seed must give the
    * same bytes. */
  def generate(dir: Path): Unit

  /** Bind to the generated inputs (and do any other set-up work). */
  def prepare(dir: Path): Unit = ()

  def warmups: Int = 1

  /** The timed part of one pass. */
  def run(): Out

  /** Verify a pass's output against the planted truth (untimed). */
  def check(out: Out): Pass

  /** Undo what a pass changed in the inputs (untimed). What a pass
    * writes stays until the run directory is removed when the run ends:
    * deleting files during the run makes the file system discard blocks
    * while later passes are timed. */
  def afterPass(): Unit = ()

  /** One untimed-structure pass with every layer call in its own span. */
  def traced(t: Tracer): Pass

  /** The measured window; batch workloads are a closed loop of passes. */
  def measure(seconds: Double): Measured = Runner.closedLoop(this, seconds)
}

object Runner {

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** One checked pass with what was measured around its timed part;
    * `heapBytes` is the peak post-GC heap of the pass. */
  final case class Timed(pass: Pass, wallS: Double, cpuS: Double,
                         heapBytes: Long, counters: Counters, cachePeakBytes: Long)

  /** Run + check one pass, turning an exception into a failed op. */
  def timedPass(w: Workload): Timed = {
    val e = w.env
    e.engine.resetCachePeak()
    HeapPeak.reset()
    val c0 = e.engine.snapshot()
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val out = try Right(w.run()) catch { case NonFatal(x) => Left(x) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Proc.cpuNs - cpu0) / 1e9
    val counters = e.engine.snapshot() - c0
    val heap = HeapPeak.read()
    val cachePeak = e.engine.cachePeakBytes
    graft.CacheRegistry.releaseAll()
    val pass = out match {
      case Right(o) =>
        try w.check(o)
        catch { case NonFatal(x) => Pass(0, Nil, Seq(Op("check", Some(describe(x))))) }
      case Left(x) => Pass(0, Nil, Seq(Op("pass", Some(describe(x)))))
    }
    w.afterPass()
    Timed(pass, wall, cpu, heap, counters, cachePeak)
  }

  def closedLoop(w: Workload, seconds: Double): Measured = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer[Timed]()
    do passes += timedPass(w) while (System.nanoTime() < deadline)
    val good = passes.filter(_.pass.items > 0).toSeq
    // a workload that times no finer operation has the pass as its latency
    val lat = good.flatMap(t =>
      if (t.pass.latenciesMs.isEmpty) Seq(t.wallS * 1000) else t.pass.latenciesMs)
    def med(f: Timed => Double) = if (good.isEmpty) 0.0 else Stats.median(good.map(f))
    Measured(
      itemsPerS = med(t => t.pass.items / t.wallS),
      latencyP50Ms = if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.5),
      cpuS = med(_.cpuS),
      heapMb = med(t => Stats.mb(t.heapBytes)),
      passWallS = good.map(_.wallS),
      ops = passes.flatMap(_.pass.ops).toSeq,
      layer = Stats.medianByKey(good.map(t => t.pass.layer ++
        t.counters.metrics + ("cache.peak_mb" -> Stats.mb(t.cachePeakBytes)))))
  }
}

/** The result line: every metric as (name, value, unit). */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)])

object Main {

  /** Every workload this program runs. BENCHMARK.json lists the ones the
    * regression runs use (see README.md for why `fleet_qc` is not one). */
  val workloads: Seq[String] =
    Seq("vedb_sessions", "gaze_stream", "video_detect", "fleet_qc")

  def make(name: String, env: Env): Workload = name match {
    case "fleet_qc" => new FleetQc(env)
    case "vedb_sessions" => new VedbSessions(env)
    case "gaze_stream" => new GazeStream(env)
    case "video_detect" => new VideoDetect(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${workloads.mkString(", ")})")
  }

  /** End-to-end metrics: name → unit. Every workload reports every one.
    * Latency and CPU per pass are printed in the report line and are
    * per-layer metrics: across runs they drift with the host's speed by
    * more than any usable regression bound. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "live_heap_peak_mb" -> "MB")

  /** Per-layer metrics: name → unit. A layer a workload does not pass
    * through reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "operators.asof_nearest_s" -> "s",
    "operators.asof_nearest_rows" -> "count",
    "operators.asof_nearest_shuffle_mb" -> "MB",
    "operators.filter_cluster_s" -> "s",
    "operators.filter_cluster_kept_ratio" -> "ratio",
    "model.reduce_s" -> "s", "model.fit_s" -> "s",
    "model.fit_ok_ratio" -> "ratio", "model.error_s" -> "s",
    "model.apply_s" -> "s", "model.apply_rows" -> "count",
    "sources.pldata_read_s" -> "s", "sources.pldata_rows" -> "count",
    "sources.pldata_mb" -> "MB") ++
    VedbSessions.stageNames.map(n => s"pipeline.stage_s.$n" -> "s") ++ Seq(
    "pipeline.jobs" -> "count", "pipeline.bytes_written_mb" -> "MB",
    "pipeline.memo_s" -> "s", "pipeline.memo_hit_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.late_rows" -> "count", "streaming.generator_lag_ms" -> "ms",
    "streaming.latency_p50_ms" -> "ms", "streaming.latency_p95_ms" -> "ms",
    "streaming.backlog_at_end" -> "count",
    "multimodal.decode_s" -> "s", "multimodal.detect_pupils_s" -> "s",
    "multimodal.detect_markers_s" -> "s", "multimodal.frames" -> "count",
    "multimodal.detect_hit_ratio" -> "ratio",
    "cache.peak_mb" -> "MB",
    "engine.jobs" -> "count", "engine.tasks" -> "count",
    "engine.shuffle_mb" -> "MB", "engine.spill_mb" -> "MB",
    "engine.exec_cpu_s" -> "s", "engine.gc_s" -> "s", "process.cpu_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    val a = Args(m.getOrElse("workload", sys.error("--workload is required")),
      m.get("seed").map(_.toLong).getOrElse(1L),
      m.get("seconds").map(_.toDouble).getOrElse(10.0),
      m.get("trace").exists(v => v == "1" || v == "true"))
    require(workloads.contains(a.workload),
      s"unknown workload ${a.workload} (known: ${workloads.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(runDir: Path): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("gazebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one vedb_sessions pass compiles more distinct generated classes
      // than the default cache holds (100), so each pass would compile
      // them again and the JIT would recompile those; with that churn a
      // pass spent about as much CPU in the JIT as its wall time
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Versions and settings a result depends on. */
  def provenance(spark: SparkSession): Seq[(String, Any)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "xmx_mb" -> Stats.mb(Proc.maxHeapBytes).round,
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
        .filter(a => a.startsWith("-X") || a.startsWith("-XX")),
      "commit" -> sys.props.getOrElse("gazebench.commit", "none"),
      "source" -> sys.props.getOrElse("gazebench.source", "unknown"),
      "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive") ||
          k.startsWith("spark.sql.codegen") ||
          k == "spark.master" || k.startsWith("spark.sql.session") }
        .toSeq.sorted.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val code = try { if (run(parse(argv)).correct) 0 else 1 } catch {
      case NonFatal(e) =>
        System.err.println(s"gazebench: ${Runner.describe(e)}")
        e.printStackTrace(System.err)
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Set up, warm up, measure, optionally trace; print the report line
    * and, last, the result line. */
  def run(a: Args, tiny: Boolean = false): Result = {
    val root = Paths.get(sys.props.getOrElse("gazebench.out", ".bench_build/gazebench"))
      .toAbsolutePath
    val runDir = root.resolve(s"run-${a.workload}")
    Digest.deleteTree(runDir)
    Files.createDirectories(runDir)

    val (spark, sessionS) = Stats.time(session(runDir))
    val engine = new EngineListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(engine)
    val env = Env(spark, runDir, a.seed, tiny, engine)
    val w = make(a.workload, env)
    try {
      val setup0 = Setup.run(w, runDir)
      val setup = setup0.copy(seconds = sessionS + setup0.seconds,
        detail = setup0.detail + ("session_start_s" -> sessionS))
      if (!a.trace) {
        val m = w.measure(a.seconds)
        val ops = setup.ops ++ m.ops
        val metrics = Seq("setup_s" -> setup.seconds, "items_per_s" -> m.itemsPerS,
          "live_heap_peak_mb" -> m.heapMb)
        report(a, w, spark, setup, ops, metrics.toMap, m, endToEnd)
      } else {
        // first half: the untraced window, for the counters it gathers;
        // second half: the traced call sequence, alternately with a
        // disabled and an enabled tracer, so the overhead compares the
        // same work; rounds swap the order (disabled first, then enabled
        // first) and there are at least two, so a trend in pass time from
        // the still-warming JIT cancels
        val half = a.seconds / 2
        val m = w.measure(half)
        val tracer = new Tracer
        val disabled = new Tracer(enabled = false)
        def tracedPass(t: Tracer): (Pass, Double) = {
          val r = Stats.time(
            try t.span("pass")(w.traced(t))
            catch { case NonFatal(x) => Pass(0, Nil, Seq(Op("traced", Some(Runner.describe(x))))) })
          graft.CacheRegistry.releaseAll()
          w.afterPass()
          r
        }
        val warm = tracedPass(disabled) // warms the traced call sequence
        val plain, traced = mutable.ArrayBuffer[(Pass, Double)]()
        val deadline = System.nanoTime() + (half * 1e9).toLong
        def enabled(): Unit = {
          tracer.begin(s"${a.workload}-${a.seed}-${traced.length}")
          traced += tracedPass(tracer)
        }
        do {
          if (traced.length % 2 == 0) { plain += tracedPass(disabled); enabled() }
          else { enabled(); plain += tracedPass(disabled) }
        } while (traced.length < 2 || System.nanoTime() < deadline)
        tracer.write(root.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
        val plainS = Stats.median(plain.map(_._2).toSeq)
        val tracedS = Stats.median(traced.map(_._2).toSeq)
        val layer = perLayer.map(_._1 -> 0.0).toMap ++ m.layer +
          ("process.cpu_s" -> m.cpuS) ++
          Stats.medianByKey(traced.map(_._1.layer).toSeq) +
          ("trace.overhead_ratio" -> tracedS / plainS)
        val ops = setup.ops ++ m.ops ++ (warm +: (plain ++ traced)).flatMap(_._1.ops)
        val self = tracer.selfSeconds.map { case (k, v) => k -> v / traced.length }
        println("gazebench-trace " + Json.obj(Seq("workload" -> a.workload,
          "untraced_pass_s" -> plainS, "traced_pass_s" -> tracedS,
          "overhead_s" -> (tracedS - plainS), "self_s_per_pass" -> self)))
        report(a, w, spark, setup, ops, layer.filter { case (k, _) =>
          perLayer.exists(_._1 == k) }, m, perLayer)
      }
    } finally {
      spark.stop()
      Digest.deleteTree(runDir)
    }
  }

  private def report(a: Args, w: Workload, spark: SparkSession, setup: Setup,
                     ops: Seq[Op], metrics: Map[String, Double],
                     m: Measured, units: Seq[(String, String)]): Result = {
    val failed = ops.filter(_.failed)
    val attempted = ops.length
    val failedRatio = if (attempted == 0) 1.0 else failed.length.toDouble / attempted
    // full record: provenance, inputs, failures (class + message), and
    // every metric with its unit, then the one-line result
    println("gazebench-report " + Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "input" -> Map("sha256" -> setup.digest, "bytes" -> setup.bytes,
        "files" -> setup.files),
      "setup_detail_s" -> setup.detail,
      "passes" -> m.passWallS.length, "pass_wall_s" -> m.passWallS,
      "latency_p50_ms" -> m.latencyP50Ms, "cpu_s_per_pass" -> m.cpuS,
      "notes" -> m.notes,
      "failed_ratio" -> failedRatio,
      "errors" -> failed.take(20).map(o => s"${o.name}: ${o.error.get}")) ++
      provenance(spark)))
    units.foreach { case (n, u) =>
      println(f"gazebench-metric ${a.workload}%-14s $n%-38s ${metrics.getOrElse(n, 0.0)}%14.6f $u") }
    val r = Result(failed.isEmpty && attempted > 0, attempted, failed.length,
      units.map { case (n, u) => (n, metrics.getOrElse(n, 0.0), u) })
    println(Json.obj(Seq("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    r
  }
}

/** Set-up: generate the inputs from the seed, bind, then warm up. The
  * input digest goes into the report, so runs can be compared; the
  * self-test checks that one seed gives the same bytes twice. */
final case class Setup(seconds: Double, digest: String, bytes: Long,
                       files: Int, ops: Seq[Op], detail: Map[String, Double])

object Setup {
  def run(w: Workload, runDir: Path): Setup = {
    val dir = runDir.resolve("input")
    Files.createDirectories(dir)
    val (_, genS) = Stats.time(w.generate(dir))
    val (digest, bytes, files) = Digest.tree(dir)
    val (_, prepS) = Stats.time(w.prepare(dir))
    val (warm, warmS) = Stats.time(
      (0 until w.warmups).map(_ => Runner.timedPass(w).pass))
    Setup(genS + prepS + warmS, digest, bytes, files, warm.flatMap(_.ops),
      Map("generate_s" -> genS, "prepare_s" -> prepS, "warmup_s" -> warmS))
  }
}
