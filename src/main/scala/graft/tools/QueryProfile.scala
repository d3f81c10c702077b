package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Dev profiling harness for the optimization rounds: for each named
  * SparkEntry query, dump `.explain("formatted")` to
  * `plans/<roundDir>/<name>_<tag>.txt` and time a noop-sink drain while
  * counting jobs / stages / tasks (a driver-iteration fit shows up as a
  * large job count; an extra exchange as an extra stage). Bench-identical
  * session conf (local[*], 32 shuffle partitions, AQE on).
  *
  * Run: `runMain graft.tools.QueryProfile <tag> <sfDir> <q1,q2,...> [runs]`
  * Plans land in plans/r17/<q>_<tag>.txt; timings print to stdout.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("curation_pipeline_tuned"))
    val runs = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicLong(0)
    val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    // per-job wall + call site, for SPARK_GRAFT_PROFILE_JOBS=1 deep dives
    val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val logJobs = sys.env.contains("SPARK_GRAFT_PROFILE_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (logJobs) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          jobStartMs.put(j.jobId, (System.currentTimeMillis(), site))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (logJobs) Option(jobStartMs.remove(j.jobId)).foreach {
          case (t0, site) =>
            jobLog.add((System.currentTimeMillis() - t0, site)); ()
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    })

    val planDir = new java.io.File("plans/r17")
    planDir.mkdirs()

    // warmup (codegen/JIT) on the tiny sf, mirroring Bench
    Seq("join_agg_revenue", "w2_sessionize", "j2_asof_nearest").foreach { q =>
      try graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case NonFatal(_) => () }
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // plan dump (captured from explain's Console output)
      try {
        val df = fn(spark, dir)
        val sw = new java.io.StringWriter
        Console.withOut(new java.io.PrintStream(new java.io.OutputStream {
          override def write(b: Int): Unit = sw.write(b)
        })) { df.explain("formatted") }
        graft.CacheRegistry.releaseAll()
        java.nio.file.Files.write(
          new java.io.File(planDir, s"${name}_$tag.txt").toPath,
          sw.toString.getBytes("UTF-8"))
      } catch { case NonFatal(e) =>
        System.err.println(s"[profile] $name explain failed: $e")
      }
      val ts = (1 to runs).map { runIdx =>
        if (logJobs && runIdx == runs) jobLog.clear()
        val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
        val n0 = System.nanoTime()
        var buildSec = -1.0
        val ok = try {
          spark.sparkContext.setJobDescription(name)
          val df = fn(spark, dir) // eager driver work (fits, probes) here
          buildSec = (System.nanoTime() - n0) / 1e9
          df.write.mode("overwrite").format("noop").save(); true
        } catch { case NonFatal(e) =>
          System.err.println(s"[profile] $name failed: $e"); false
        }
        val dt = (System.nanoTime() - n0) / 1e9
        if (ok && runIdx == runs)
          println(f"[profile]    $name build=$buildSec%6.2f s drain=${dt - buildSec}%6.2f s")
        graft.CacheRegistry.releaseAll()
        (if (ok) dt else -1.0, jobs.get - j0, stages.get - s0, tasks.get - t0)
      }
      val best = ts.map(_._1).filter(_ >= 0) match {
        case s if s.nonEmpty => s.min
        case _ => -1.0
      }
      val (_, j, st, tk) = ts.last
      println(f"[profile] $name%-30s min=$best%7.2f s  jobs=$j%4d stages=$st%4d tasks=$tk%6d  (runs=${ts.map(t => f"${t._1}%.2f").mkString(",")})")
      if (logJobs) {
        import scala.jdk.CollectionConverters._
        val bySite = jobLog.asScala.toSeq.groupBy(_._2)
          .map { case (s, xs) => (xs.map(_._1).sum, xs.length, s) }
          .toSeq.sortBy(-_._1).take(14)
        bySite.foreach { case (ms, n, s) =>
          println(f"[profile]    $ms%6d ms over $n%3d jobs  $s")
        }
      }
    }
    spark.stop()
  }
}
