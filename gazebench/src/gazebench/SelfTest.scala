package gazebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import graft.pipeline.Pipeline

/** The benchmark's own tests, at tiny sizes:
  *  1. `BENCHMARK.json` names exactly the workloads and metrics (with
  *     units) this program emits;
  *  2. a run of each workload, untraced and traced, is correct and emits
  *     every metric with its unit (end-to-end values never 0);
  *  3. one seed generates byte-identical inputs twice, per workload;
  *  4. each verifier rejects a deliberately wrong output.
  *
  * Usage: `python3 gazebench/run.py --selftest` (argument: the path of
  * BENCHMARK.json). Exits 0 only when every check holds. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok    " else "FAIL  ") + what)
    if (!ok) failures += what
  }

  private def mutate(r: Row, column: String)(f: Any => Any): Row = {
    val i = r.fieldIndex(column)
    new GenericRowWithSchema(r.toSeq.updated(i, f(r.get(i))).toArray, r.schema)
  }

  def main(args: Array[String]): Unit = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(args(0)).toFile)
    def listed(key: String, field: String): Seq[String] =
      spec.get(key).elements().asScala.map(_.get(field).asText()).toSeq
    def metrics(key: String) = listed(key, "name").zip(listed(key, "unit"))
    expect(listed("workloads", "name").forall(Main.workloads.contains),
      "BENCHMARK.json names only workloads this program runs")
    expect(metrics("end_to_end") == Main.endToEnd, "BENCHMARK.json end_to_end matches the emitted metrics")
    expect(metrics("per_layer") == Main.perLayer, "BENCHMARK.json per_layer matches the emitted metrics")

    for (w <- Main.workloads; trace <- Seq(false, true)) {
      val r = Main.run(Main.Args(w, 7, 2.0, trace), tiny = true)
      val want = if (trace) Main.perLayer else Main.endToEnd
      expect(r.correct && r.failed == 0 && r.attempted > 0, s"$w trace=$trace: all operations correct")
      expect(r.metrics.map(m => (m._1, m._3)) == want, s"$w trace=$trace: every metric with its unit")
      if (!trace)
        expect(r.metrics.forall(_._2 > 0), s"$w: no end-to-end metric is 0")
    }

    determinismAndRejections()
    println(if (failures.isEmpty) "selftest: all checks passed"
      else s"selftest: ${failures.length} checks failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  /** Generate each workload's inputs twice from one seed and compare
    * their digests; then feed each verifier a correct output, then a
    * deliberately wrong one. */
  private def determinismAndRejections(): Unit = {
    val root = Paths.get(sys.props.getOrElse("gazebench.out", ".bench_build/gazebench"))
      .toAbsolutePath.resolve("selftest")
    Digest.deleteTree(root)
    val spark = Main.session(root)
    val engine = new EngineListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(engine)
    def prepared[W <: Workload](make: Env => W): W = {
      val w = make(Env(spark, root, 7, tiny = true, engine))
      val dir = root.resolve(s"input-${w.name}")
      Files.createDirectories(dir)
      w.generate(dir); w.prepare(dir); w
    }
    try {
      for (name <- Main.workloads) {
        val w = Main.make(name, Env(spark, root, 7, tiny = true, engine))
        val digests = Seq("a", "b").map { k =>
          val dir = root.resolve(s"determinism-$name-$k")
          Files.createDirectories(dir)
          w.generate(dir)
          Digest.tree(dir)._1
        }
        expect(digests.distinct.size == 1, s"$name: one seed generates the same input bytes twice")
      }

      val fleet = prepared(new FleetQc(_))
      val rows = fleet.run()
      expect(fleet.checkRows(rows).forall(!_.failed), "fleet_qc: the report passes the verifier")
      val healthy = rows.indexWhere(_.getAs[String]("session") == "s0")
      val wrongFit = rows.updated(healthy, mutate(rows(healthy), "planted_ok_l")(_ => false))
      expect(fleet.checkRows(wrongFit).count(_.failed) == 1, "fleet_qc: a fit off the planted affine is rejected")
      val dead = rows.indexWhere(_.getAs[String]("session") == "s3")
      val wrongCascade = rows.updated(dead, mutate(rows(dead), "status_calibration_l")(_ => "ok"))
      expect(fleet.checkRows(wrongCascade).count(_.failed) == 1, "fleet_qc: a wrong status cascade is rejected")
      expect(fleet.checkRows(rows.drop(1)).exists(_.failed), "fleet_qc: a missing session row is rejected")
      graft.CacheRegistry.releaseAll()

      val vedb = prepared(new VedbSessions(_))
      val runs = vedb.run()
      expect(runs.forall(r => vedb.verify(r).isEmpty), "vedb_sessions: the pipeline output passes the verifier")
      val r0 = runs.head
      val notMemo = r0.copy(memo = r0.memo.updated("gaze", r0.memo("gaze").copy(state = Pipeline.Computed)))
      expect(vedb.verify(notMemo).nonEmpty, "vedb_sessions: a re-run that recomputes a stage is rejected")
      val lostRows = r0.copy(cold = r0.cold.updated("gaze", r0.cold("gaze").copy(rows = r0.cold("gaze").rows - 1)))
      expect(vedb.verify(lostRows).nonEmpty, "vedb_sessions: a gaze stage that drops a pupil is rejected")

      val stream = prepared(new GazeStream(_))
      val drain = stream.run()
      expect(!stream.check(drain).ops.exists(_.failed), "gaze_stream: the drained stream passes the verifier")
      val (b, first) = drain.rows.head
      val nudged = (b, mutate(first, "gaze_x")(v => Math.nextUp(v.asInstanceOf[Double]))) +: drain.rows.tail
      expect(stream.check(drain.copy(rows = nudged)).ops.exists(_.failed),
        "gaze_stream: a gaze value one ulp off the batch reference is rejected")
      expect(stream.check(drain.copy(inputRows = drain.inputRows - 1)).ops.exists(_.failed),
        "gaze_stream: a drain that loses an input row is rejected")
      stream.afterPass()

      val video = prepared(new VideoDetect(_))
      val d = video.run()
      expect(!video.check(d).ops.exists(_.failed), "video_detect: the detections pass the verifier")
      val shiftedPupil = d.pupils.updated(0, mutate(d.pupils(0), "center_x")(v => v.asInstanceOf[Double] + 1.0))
      expect(video.verifyPupils(shiftedPupil).count(_._1.failed) == 1, "video_detect: a pupil centre 1 px off is rejected")
      val shiftedMarker = d.markers.updated(0, mutate(d.markers(0), "loc_y")(v => v.asInstanceOf[Double] - 1.0))
      expect(video.verifyMarkers(shiftedMarker).count(_._1.failed) == 1, "video_detect: a marker centre 1 px off is rejected")
    } finally {
      spark.stop()
      Digest.deleteTree(root)
    }
  }
}
