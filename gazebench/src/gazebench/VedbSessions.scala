package gazebench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Calibrator, ErrorMap}
import graft.operators.{AsOfJoin, MarkerParsing}
import graft.pipeline.{Pipeline, VedbPipeline}
import graft.sources.{MsgPack, PldataSource}

/** vedb_sessions: a few long recorded sessions on disk (pupil and marker
  * `.pldata` streams with `_timestamps.npy` sidecars, plus the world
  * clock), each read with `format("pldata")` and run through
  * `VedbPipeline.run` into a fresh root, then run again on the same root,
  * which must come back all `Memoized`. The sessions carry the FIXTURES.md
  * §A noise modes (duplicate timestamps, 1e-8 drift, brief spurious
  * detections, an oblique-marker run, a low-confidence pupil span) around
  * a planted affine pupil → gaze map. Each pass takes the next session in
  * turn, so the closed loop cycles through all of them. */
final class VedbSessions(val env: Env) extends Workload {
  import VedbSessions._

  final case class Run(session: String, cold: Map[String, Pipeline.StageResult],
                       memo: Map[String, Pipeline.StageResult],
                       coldMs: Double, memoS: Double, jobs: Long,
                       writtenBytes: Long)
  type Out = Seq[Run]
  val name = "vedb_sessions"

  val nSessions: Int = if (env.tiny) 2 else 3
  val seconds = 150
  // the first pass is cold (JIT, codegen), and pass times still fall
  // over the next seven or so
  override def warmups: Int = if (env.tiny) 1 else 8

  private var dir: Path = _
  private var pass = 0
  private def sessions: Seq[String] = (0 until nSessions).map(i => f"session_$i%02d")

  /** Start the next pass; returns the session it runs. */
  private def nextSession(): String = { pass += 1; sessions((pass - 1) % nSessions) }

  def generate(out: Path): Unit =
    sessions.zipWithIndex.foreach { case (s, i) =>
      writeSession(out.resolve(s), new scala.util.Random(env.seed * 1000 + i), seconds)
    }

  override def prepare(in: Path): Unit = dir = in

  private def inputs(s: String): (DataFrame, DataFrame, DataFrame) = {
    val spark = env.spark
    import spark.implicits._
    val d = dir.resolve(s).toString
    val markers = spark.read.format("pldata").schema(markerSchema)
      .option("topic", "marker_circles").load(d)
      .select("timestamp", "norm_pos", "size")
    val pupils = spark.read.format("pldata").schema(pupilSchema)
      .option("topic", "pupil").load(d)
      .select(col("timestamp"), element_at(col("norm_pos"), 1).as("norm_x"),
        element_at(col("norm_pos"), 2).as("norm_y"), col("confidence"))
    val clock = PldataSource.readNpyDoubles(s"$d/world_timestamps.npy")
      .toSeq.toDF("timestamp")
    (markers, clock, pupils)
  }

  def run(): Seq[Run] = {
    val s = nextSession()
    val (markers, clock, pupils) = inputs(s)
    val root = env.work.resolve(s"pipeline-$pass").resolve(s).toString
    val c0 = env.engine.snapshot()
    val (cold, coldS) = Stats.time(VedbPipeline.run(env.spark, root, markers,
      clock, pupils, epochDuration = EpochDuration,
      clusterDuration = ClusterDuration))
    val jobs = (env.engine.snapshot() - c0).jobs
    val written = Digest.treeBytes(java.nio.file.Paths.get(root))
    val (memo, memoS) = Stats.time(VedbPipeline.run(env.spark, root, markers,
      clock, pupils, epochDuration = EpochDuration,
      clusterDuration = ClusterDuration))
    Seq(Run(s, cold, memo, coldS * 1000, memoS, jobs, written))
  }

  /** The planted truth for one session's pipeline output. */
  def verify(r: Run): Option[String] = {
    val notComputed = r.cold.values.filter(_.state != Pipeline.Computed)
    val notMemo = r.memo.values.filter(_.state != Pipeline.Memoized)
    if (notComputed.nonEmpty)
      Some("cold run: " + notComputed.map(x =>
        s"${x.name}=${x.state} ${x.error.getOrElse("")}").mkString(", "))
    else if (notMemo.nonEmpty)
      Some("re-run not memoized: " + notMemo.map(x => s"${x.name}=${x.state}")
        .mkString(", "))
    else {
      val pupils = PldataSource.readNpyDoubles(
        dir.resolve(r.session).resolve("pupil_timestamps.npy").toString).length
      val e = env.spark.read.parquet(r.cold("error").path).collect()
      val gazeRows = r.cold("gaze").rows
      if (gazeRows != pupils) Some(s"gaze has $gazeRows rows for $pupils pupils")
      else if (e.length != 1) Some(s"${e.length} error summary rows")
      else {
        val n = e(0).getAs[Int]("n_points")
        val med = e(0).getAs[Double]("err_median")
        val wtd = e(0).getAs[Double]("gaze_err_weighted")
        // 16 planted validation targets; jitter 3e-4 of the frame is about
        // 0.03 degrees, so a correct fit stays far inside these bounds
        if (n != ValidationTargets) Some(s"error n_points $n, planted $ValidationTargets")
        else if (!(med < 0.2)) Some(s"error median $med deg exceeds 0.2")
        else if (!(wtd < 0.5)) Some(s"weighted error $wtd deg exceeds 0.5")
        else None
      }
    }
  }

  def check(runs: Seq[Run]): Pass = Pass(runs.length, runs.map(_.coldMs),
    runs.map(r => Op(r.session, verify(r))),
    Map("pipeline.jobs" -> runs.map(_.jobs).sum.toDouble / runs.length,
      "pipeline.bytes_written_mb" -> Stats.mb(runs.map(_.writtenBytes).sum) / runs.length,
      "pipeline.memo_s" -> Stats.median(runs.map(_.memoS)),
      "pipeline.memo_hit_ratio" -> runs.map(r =>
        r.memo.values.count(_.state == Pipeline.Memoized).toDouble / r.memo.size)
        .sum / runs.length))

  /** For the pass's session: the pldata scan, the marker filter/cluster,
    * the keyless as-of match, every pipeline stage through its own `Stage.run` in
    * order, then the calibration fit, the model apply and the error
    * surface as separate calls. Inputs are materialized before each span. */
  def traced(t: Tracer): Pass = {
    val spark = env.spark
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    val s = nextSession()
    val (m0, clock, p0) = inputs(s)
    clock.cache().count()
    val (markers, pupils) = t.span("sources.pldata_read") {
      val m = graft.CacheRegistry.persistTracked(m0)
      val p = graft.CacheRegistry.persistTracked(p0)
      acc("rows") += m.count() + p.count()
      (m, p)
    }
    acc("bytes") += Seq("marker_circles", "pupil").map(n =>
      Files.size(dir.resolve(s).resolve(s"$n.pldata")) +
        Files.size(dir.resolve(s).resolve(s"${n}_timestamps.npy"))).sum
    val kept = t.span("operators.filter_cluster") {
      MarkerParsing.filterAndCluster(markers, clock,
        epochDuration = EpochDuration, clusterDuration = ClusterDuration).count()
    }
    acc("kept") += kept.toDouble / markers.count()
    val c0 = env.engine.snapshot()
    acc("asof_rows") += t.span("operators.asof_nearest") {
      AsOfJoin.nearest(named(markers.withColumn("marker_cluster_index", lit(0L))),
        pupils.select(col("timestamp"), col("norm_x").as("pnx"),
          col("norm_y").as("pny"), col("confidence")),
        "timestamp", "timestamp", Nil, rightPrefix = "p_").count()
    }
    acc("asof_shuffle") += (env.engine.snapshot() - c0).shuffleWriteBytes

    val root = env.work.resolve(s"pipeline-$pass").resolve(s)
    def path(n: String) = root.resolve(n).toString
    val stages = VedbPipeline.stages(markers, clock, pupils,
      epochDuration = EpochDuration, clusterDuration = ClusterDuration)
    val j0 = env.engine.snapshot()
    stages.foreach { st =>
      val in = st.deps.map(d => d -> spark.read.parquet(path(d))).toMap
      t.span(s"pipeline.stage.${st.name}") {
        st.run(spark, in).write.parquet(path(st.name))
      }
      graft.CacheRegistry.releaseAll()
    }
    acc("jobs") += (env.engine.snapshot() - j0).jobs
    acc("written") += Digest.treeBytes(root)

    val cal = named(spark.read.parquet(path("markers_cal")))
    val valM = named(spark.read.parquet(path("markers_val")))
    cal.cache().count(); valM.cache().count()
    val model = t.span("model.fit") { Calibrator.fit(cal, pupils) }
    val gaze = t.span("model.apply") {
      val g = graft.CacheRegistry.persistTracked(model.get.transform(pupils)
        .select(col("timestamp"), col("gaze_x").as("norm_x"),
          col("gaze_y").as("norm_y"), col("confidence")))
      acc("apply_rows") += g.count()
      g
    }
    val summary = t.span("model.error") {
      ErrorMap.compute(valM, gaze, ErrorMap.Config(resolution = (60, 80)))
        .summary.collect()
    }
    Seq(clock, cal, valM).foreach(_.unpersist())
    graft.CacheRegistry.releaseAll()
    val n = summary.headOption.map(_.getAs[Int]("n_points")).getOrElse(-1)
    val op = Op(s, if (n != ValidationTargets) Some(s"traced error n_points $n") else None)
    val sec = t.traceSeconds
    Pass(1, Nil, Seq(op), Map(
      "sources.pldata_read_s" -> sec("sources.pldata_read"),
      "sources.pldata_rows" -> acc("rows"),
      "sources.pldata_mb" -> Stats.mb(acc("bytes").toLong),
      "operators.filter_cluster_s" -> sec("operators.filter_cluster"),
      "operators.filter_cluster_kept_ratio" -> acc("kept"),
      "operators.asof_nearest_s" -> sec("operators.asof_nearest"),
      "operators.asof_nearest_rows" -> acc("asof_rows"),
      "operators.asof_nearest_shuffle_mb" -> Stats.mb(acc("asof_shuffle").toLong),
      "model.fit_s" -> sec("model.fit"),
      "model.fit_ok_ratio" -> (if (op.failed) 0.0 else 1.0),
      "model.apply_s" -> sec("model.apply"),
      "model.apply_rows" -> acc("apply_rows"),
      "model.error_s" -> sec("model.error"),
      "pipeline.jobs" -> acc("jobs"),
      "pipeline.bytes_written_mb" -> Stats.mb(acc("written").toLong)) ++
      stageNames.map(n => s"pipeline.stage_s.$n" -> sec(s"pipeline.stage.$n")))
  }
}

object VedbSessions {
  val stageNames: Seq[String] = Seq("markers_filtered", "markers_cal",
    "markers_val", "calibration", "gaze", "error")

  val EpochDuration: (Double, Double) = (30.0, 150.0)
  val ClusterDuration: (Double, Double) = (0.5, 5.0)
  val ValidationTargets = 16
  val WorldHz = 30.0
  val EyeHz = 120.0

  val markerSchema: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("size", ArrayType(DoubleType))))

  val pupilSchema: StructType = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("confidence", DoubleType)))

  /** Marker rows as the calibrator reads them. */
  def named(df: DataFrame): DataFrame = df.select(
    col("timestamp"),
    element_at(col("norm_pos"), 1).as("norm_x"),
    element_at(col("norm_pos"), 2).as("norm_y"),
    col("marker_cluster_index"))

  /** The planted pupil → gaze map (an invertible affine). */
  def trueGaze(px: Double, py: Double): (Double, Double) =
    (0.8 * px + 0.1 * py + 0.05, 0.9 * py - 0.05 * px + 0.03)

  def pupilFor(mx: Double, my: Double): (Double, Double) = {
    val det = 0.8 * 0.9 - 0.1 * (-0.05)
    (((mx - 0.05) * 0.9 - 0.1 * (my - 0.03)) / det,
      (0.8 * (my - 0.03) - (mx - 0.05) * (-0.05)) / det)
  }

  /** Append one pldata stream (msgpack records + timestamp sidecar). */
  def writeStream(dir: Path, topic: String,
                  rows: Seq[(Double, ListMap[String, Any])]): Unit = {
    Files.createDirectories(dir)
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(dir.resolve(s"$topic.pldata")), 1 << 16)
    try rows.foreach { case (ts, payload) =>
      out.write(MsgPack.pack((topic, MsgPack.pack(payload + ("timestamp" -> ts)))))
    } finally out.close()
    PldataSource.writeNpyDoubles(dir.resolve(s"${topic}_timestamps.npy").toString,
      rows.map(_._1).toArray)
  }

  /** One recorded session: calibration epoch 0-60 s (25 grid targets of
    * 2.4 s), validation epoch 100-135.2 s (16 targets of 2.2 s), with the
    * FIXTURES.md §A noise modes, eye at 120 Hz and world at 30 Hz. */
  def writeSession(dir: Path, rng: scala.util.Random, seconds: Int): Unit = {
    val ms = mutable.ArrayBuffer[(Double, Seq[Double], Seq[Double])]()
    def jit() = rng.nextGaussian() * 5e-4
    for (c <- 0 until 25) {
      val mx = 0.1 + 0.2 * (c % 5); val my = 0.1 + 0.2 * (c / 5)
      val f0 = (c * 2.4 * WorldHz).round.toInt
      for (f <- f0 until f0 + 72)
        ms += ((f / WorldHz, Seq(mx + jit(), my + jit()), Seq(0.05, 0.05)))
    }
    // oblique spurious run (aspect 1.6) inside the calibration epoch
    for (f <- (60 * 30) until (61 * 30))
      ms += ((f / WorldHz, Seq(0.9, 0.9), Seq(0.06, 0.0375)))
    for (c <- 0 until ValidationTargets) {
      val mx = 0.15 + 0.2 * (c % 4); val my = 0.15 + 0.2 * (c / 4)
      val f0 = (100 * 30) + (c * 2.2 * WorldHz).round.toInt
      for (f <- f0 until f0 + 66)
        ms += ((f / WorldHz, Seq(mx + jit(), my + jit()), Seq(0.05, 0.05)))
    }
    // brief tiny detections in the inter-epoch gap
    for (k <- 0 until 8)
      ms += (((70 * 30 + k * 37) / WorldHz, Seq(rng.nextDouble(), rng.nextDouble()),
        Seq(0.004, 0.004)))
    // 20 duplicated calibration timestamps, then 1e-8-scale drift
    ms ++= ms.filter(_._1 < 60).take(20).toSeq
    val markers = ms.zipWithIndex.map { case ((t, pos, size), i) =>
      val ts = if (i % 97 == 0 && t > 1) t + 4e-9 else t
      (ts, ListMap[String, Any]("norm_pos" -> pos, "size" -> size,
        "location" -> Seq(pos(0) * 1280, pos(1) * 1024)))
    }.toSeq
    writeStream(dir, "marker_circles", markers)

    val lowConf = 30.0 + rng.nextInt(20)
    val pupils = (0 until (seconds * EyeHz).toInt).map { i =>
      val t = i / EyeHz
      val (mx, my) =
        if (t < 60) { val c = math.min(24, (t / 2.4).toInt); (0.1 + 0.2 * (c % 5), 0.1 + 0.2 * (c / 5)) }
        else if (t >= 100 && t < 135.2) {
          val c = math.min(15, ((t - 100) / 2.2).toInt); (0.15 + 0.2 * (c % 4), 0.15 + 0.2 * (c / 4)) }
        else (0.5, 0.5)
      val (px, py) = pupilFor(mx, my)
      val conf = if (t >= lowConf && t < lowConf + 2) 0.3 else 0.9 + (i % 7) * 0.01
      (t, ListMap[String, Any](
        "norm_pos" -> Seq(px + rng.nextGaussian() * 3e-4, py + rng.nextGaussian() * 3e-4),
        "confidence" -> conf, "diameter" -> (30.0 + rng.nextGaussian()), "id" -> 0L))
    }
    writeStream(dir, "pupil", pupils)
    PldataSource.writeNpyDoubles(dir.resolve("world_timestamps.npy").toString,
      Array.tabulate((seconds * WorldHz).toInt)(_ / WorldHz))
  }
}
