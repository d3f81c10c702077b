package graft.streaming

import scala.collection.mutable

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame

object RestartRecoverySpec {
  /** foreachBatch target keyed by (test, batchId): a re-delivered
    * batch after restart OVERWRITES its slot instead of double-counting
    * — the downstream contract foreachBatch consumers carry anyway. */
  val drainedRows: mutable.Map[(String, Long), Seq[String]] =
    mutable.Map.empty
}

/** Restart-recovery parity for the stateful streaming twins (r12 verdict
  * #3): the micro-batch-split parity specs prove the state TRANSITION is
  * arrival-order-free, but never killed a query and resumed it from its
  * checkpoint — the state-store round-trip (serialize → HDFSBackedStore
  * files → deserialize) is the one streaming axis a single uninterrupted
  * run can't exercise, and at cluster scale every long-lived query
  * crosses it. Each test: run a prefix, STOP the query, restart from the
  * same checkpointLocation, feed the rest, and assert the drained result
  * is identical to the uninterrupted run — including pairs/counters that
  * SPAN the restart (proof the state, not just the offsets, came back). */
class RestartRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_restart").toString

  test("sketch counters recover: stop/restart == uninterrupted == batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs: Seq[(Long, String)] = (0L until 60L).map { i =>
      val t = if (i % 3 == 0) s"x y tail$i" else s"a$i b$i c${i % 7}"
      i -> t
    }
    val (n, depth, width) = (2, 3, 64)
    val cp = tmp()
    val input = MemoryStream[(Long, String)]
    def start() = SketchStream.countersShared(
        input.toDS().toDF("doc_id", "text"), "text", n, depth, width)
      .writeStream.format("memory").queryName("cm_restart")
      .option("checkpointLocation", cp)
      .outputMode("complete").start()

    val q1 = start()
    input.addData(docs.take(35))
    q1.processAllAvailable()
    q1.stop() // hard stop mid-stream: state lives only in the checkpoint
    input.addData(docs.drop(35))
    val q2 = start() // recovery path: offsets + state store reload
    q2.processAllAvailable()
    q2.stop()

    def asMap(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = asMap(spark.table("cm_restart"))
    val batch = asMap(TextOps.cmSketchCountersShared(
      docs.toDF("doc_id", "text"), "text", n, depth, width))
    assert(streamed == batch,
      "restarted sketch aggregate diverged from the batch twin")
    // the pre-stop mass is only reachable through the recovered state:
    // a counter fed by BOTH halves must exceed the post-restart half
    val heavyAfterRestart = docs.drop(35).count(_._2.startsWith("x y"))
    assert(batch.values.max > heavyAfterRestart,
      "fixture too weak: no counter spans the restart")
    spark.catalog.dropTempView("cm_restart")
  }

  /** foreachBatch sink into [[RestartRecoverySpec.drainedRows]] under
    * `test` (rows stringified — schema-agnostic). */
  private def rowSink[T](test: String)(
      batch: org.apache.spark.sql.Dataset[T], batchId: Long): Unit =
    RestartRecoverySpec.drainedRows.synchronized {
      RestartRecoverySpec.drainedRows((test, batchId)) =
        batch.toDF().collect().map(_.toString).toSeq
    }

  private def drainedOf(test: String): Seq[String] =
    RestartRecoverySpec.drainedRows.synchronized {
      RestartRecoverySpec.drainedRows.collect {
        case ((t, _), rows) if t == test => rows
      }.flatten.toSeq
    }

  test("binocular FSM queues recover: a pair split across the restart merges") {
    implicit val sqlCtx = spark.sqlContext
    import BinocularMerge.{Pupil, mergeStream, runSeries}
    // the planted m9 schedule: one eye0+eye1 pair per event; splitting
    // at an ODD index leaves event 15's eye0 alone in the FSM queue at
    // stop time — its binocular pair exists only if that queue survives
    val ps = (0 until 30).flatMap { i =>
      Seq(Pupil("cal", i + 0.002, 0, 0.1 * i, 0.2, 0.95),
          Pupil("cal", i + 0.004, 1, 0.3, 0.1 * i, 0.95))
    }
    val cp = tmp()
    val input = MemoryStream[Pupil]
    def start() = mergeStream(input.toDS(), reorder = false)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[BinocularMerge.Gaze],
                       id: Long) => rowSink("bino")(b, id) }
      .outputMode("append").start()

    val q1 = start()
    input.addData(ps.take(31))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    input.addData(ps.drop(31))
    q2.processAllAvailable()
    q2.stop()

    val got = drainedOf("bino").sorted
    val wantRows = runSeriesRows(ps).sorted
    assert(got == wantRows,
      "restarted binocular merge diverged: FSM queue state did not recover")
    assert(runSeries(ps).count(_.binocular) == 30,
      "fixture lost its binocular schedule")
  }

  /** The batch-FSM truth, stringified through the SAME Dataset encoder
    * the drained rows came through. */
  private def runSeriesRows(ps: Seq[BinocularMerge.Pupil]): Seq[String] = {
    import spark.implicits._
    BinocularMerge.runSeries(ps).toDS().toDF().collect()
      .map(_.toString).toSeq
  }

  test("pldata tail source recovers offsets: files landed while down " +
       "arrive once, ingested files are never re-read") {
    import org.apache.spark.sql.types._
    val root = tmp(); val cp = tmp()
    def writeSession(dir: String, ids: Range): Unit = {
      val rows = ids.map(i => (
          "gaze", 100.0 + i, Seq(i / 10.0, i / 20.0), 0.5 + i / 100.0,
          i.toLong))
        .toDF("topic", "timestamp", "norm_pos", "confidence", "id")
      graft.sources.PldataSource.write(rows, dir, "gaze")
    }
    val schema = StructType(Seq(
      StructField("timestamp", DoubleType),
      StructField("norm_pos", ArrayType(DoubleType)),
      StructField("confidence", DoubleType),
      StructField("id", LongType)))
    def start() = spark.readStream.format("pldata").option("topic", "gaze")
      .option("recursive", "true").schema(schema).load(root)
      .select("id", "timestamp")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => rowSink("pldata")(b, id) }
      .outputMode("append").start()

    writeSession(s"$root/s1", 0 until 10)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // two sessions land WHILE THE QUERY IS DOWN — the restart must pick
    // up exactly these from the recovered file-list offset
    writeSession(s"$root/s2", 100 until 115)
    writeSession(s"$root/s3", 200 until 208)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = drainedOf("pldata")
    val want = ((0 until 10) ++ (100 until 115) ++ (200 until 208))
      .map(i => s"[${i.toLong},${100.0 + i}]")
    assert(got.sorted == want.sorted,
      s"tail restart re-read or dropped rows: ${got.sorted}")
  }

  test("frontier first-seen state recovers: no duplicate admission after restart") {
    implicit val sqlCtx = spark.sqlContext
    val pages: Seq[(Long, String, String)] = Seq(
      (1L, "http://a.com/1",
        "<body><a href=\"/p1\">x</a> <a href=\"/seen\">s</a></body>"),
      (2L, "http://a.com/2",
        "<body><a href=\"http://b.com/z\">z</a></body>"),
      // arrives AFTER the restart and re-references /p1: the suppression
      // is only reachable through the RECOVERED first-seen state
      (3L, "http://a.com/3",
        "<body><a href=\"/p1\">x again</a> <a href=\"/p9\">new</a></body>"))
    val crawled = Seq("http://a.com/seen").toDF("url")
    val cp = tmp()
    val input = MemoryStream[(Long, String, String)]
    def start() = FrontierStream.admittedStream(
        input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
        crawled, "url")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[FrontierStream.Admitted],
         id: Long) => rowSink("frontier")(b, id) }
      .outputMode("append").start()

    val q1 = start()
    input.addData(pages.take(2))
    q1.processAllAvailable()
    q1.stop() // /p1's admission lives only in the state store now
    val q2 = start()
    input.addData(pages.drop(2))
    q2.processAllAvailable()
    q2.stop()

    val got = drainedOf("frontier")
    // exactly one admission per distinct new url, across the restart
    assert(got.size == got.distinct.size,
      s"duplicate admission after restart: $got")
    assert(got.toSet == Set(
      "[http://a.com/p1,a.com]", "[http://b.com/z,b.com]",
      "[http://a.com/p9,a.com]"),
      s"restarted frontier diverged: $got")
  }

  test("bloom-fronted frontier recovers: sketch rebuilt, state resumed, no dupes") {
    // the bounded-state operator's restart axis: the Bloom sketch is
    // DRIVER-side and rebuilt deterministically from the crawled table
    // at every (re)start — only the first-seen state rides the
    // checkpoint, and a post-restart re-reference of a pre-restart
    // admission is suppressible ONLY through the recovered state store.
    // fpp = 0.5 keeps the verify path load-bearing across the restart.
    implicit val sqlCtx = spark.sqlContext
    val pages: Seq[(Long, String, String)] = Seq(
      (1L, "http://a.com/1",
        "<body><a href=\"/p1\">x</a> <a href=\"/seen\">s</a></body>"),
      (2L, "http://a.com/2",
        "<body><a href=\"http://b.com/z\">z</a></body>"),
      (3L, "http://a.com/3",
        "<body><a href=\"/p1\">x again</a> <a href=\"/p9\">new</a></body>"))
    val crawledPath = tmp() + "/crawled"
    Seq("http://a.com/seen").toDF("url")
      .write.mode("overwrite").parquet(crawledPath)
    val cp = tmp()
    val input = MemoryStream[(Long, String, String)]
    def start() = FrontierStream.admittedStreamBloom(
        input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
        crawledPath, fpp = 0.5)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[FrontierStream.Admitted],
         id: Long) => rowSink("frontier_bloom")(b, id) }
      .outputMode("append").start()

    val q1 = start()
    input.addData(pages.take(2))
    q1.processAllAvailable()
    q1.stop() // /p1's admission lives only in the state store now
    val q2 = start()
    input.addData(pages.drop(2))
    q2.processAllAvailable()
    q2.stop()

    val got = drainedOf("frontier_bloom")
    assert(got.size == got.distinct.size,
      s"duplicate admission after restart: $got")
    assert(got.toSet == Set(
      "[http://a.com/p1,a.com]", "[http://b.com/z,b.com]",
      "[http://a.com/p9,a.com]"),
      s"restarted bloom frontier diverged: $got")
  }
}
