package graft.streaming

import graft.SparkSpec
import graft.operators.HtmlOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Frontier-at-ingest contract ([[FrontierStream.admittedStream]]):
  * admitted set equals the batch [[HtmlOps.frontierFilter]] url/host set
  * for any micro-batch split; crawled urls never pass; re-deliveries and
  * repeat references emit nothing. */
class FrontierStreamSpec extends SparkSpec {
  import spark.implicits._

  // pages: doc 1 and 3 both link /p1 (repeat reference across batches);
  // /seen is in the crawled set; doc 2 adds a cross-host absolute
  val pages: Seq[(Long, String, String)] = Seq(
    (1L, "http://a.com/1",
      """<body><a href="/p1">x</a> <a href="/seen">s</a></body>"""),
    (2L, "http://a.com/2",
      """<body><a href="http://b.com/z">z</a> <a href="#f">f</a></body>"""),
    (3L, "http://a.com/sub/3",
      """<body><a href="/p1">x again</a> <a href="q2/">rel dir</a></body>"""))

  def crawled = Seq("http://a.com/seen").toDF("url")

  def runStream(batches: Seq[Seq[(Long, String, String)]]): Set[(String, String)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val name = s"frontier_${System.nanoTime()}"
    val q = FrontierStream.admittedStream(
        input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
        crawled, "url")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
  }

  def batchSet(rows: Seq[(Long, String, String)]): Set[(String, String)] =
    HtmlOps.frontierFilter(
        HtmlOps.extractLinks(rows.toDF("doc", "page_url", "html"),
          "html", "page_url"),
        crawled, "url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("admitted set == batch frontier for any micro-batch split") {
    val expected = batchSet(pages)
    // the crawled url is excluded, the repeat-referenced /p1 is one row,
    // the relative-dir url resolved against the page's directory
    assert(expected == Set(
      ("http://a.com/p1", "a.com"),
      ("http://b.com/z", "b.com"),
      ("http://a.com/sub/q2/", "a.com")))
    assert(runStream(pages.map(Seq(_))) == expected)
    assert(runStream(Seq(pages)) == expected)
    assert(runStream(Seq(pages.take(1), pages.drop(1))) == expected)
  }

  test("bloom epoch loop: admissions == batch exactly once; state bounded by epoch") {
    implicit val sqlCtx = spark.sqlContext
    val crawledPath = java.nio.file.Files
      .createTempDirectory("frontier_crawled").toString + "/crawled"
    crawled.write.mode("overwrite").parquet(crawledPath)
    // fpp = 0.5 forces genuinely-new urls through the maybe-verify path
    // too: exactness must come from the sketch+verify PAIR, not from a
    // lucky sketch
    def epoch(rows: Seq[(Long, String, String)],
              tag: String): (Set[(String, String)], Long) = {
      val input = MemoryStream[(Long, String, String)]
      val name = s"frontier_bloom_${tag}_${System.nanoTime()}"
      val q = FrontierStream.admittedStreamBloom(
          input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
          crawledPath, fpp = 0.5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(rows); q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      q.stop()
      (spark.table(name).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet, stateRows)
    }
    val (e1, s1) = epoch(pages.take(2), "e1")
    assert(e1 == Set(("http://a.com/p1", "a.com"), ("http://b.com/z", "b.com")))
    // the drain: epoch-1 admissions become crawled rows, epoch 2 starts
    // with EMPTY state and must not re-admit /p1 (doc 3 references it)
    FrontierStream.snapshotAdmitted(spark,
      e1.toSeq.toDF("url", "dst_host"), crawledPath)
    val (e2, s2) = epoch(pages.drop(2), "e2")
    assert(e2 == Set(("http://a.com/sub/q2/", "a.com")))
    // exactly-once across the epoch boundary, and the union is the batch
    // frontier over the whole corpus
    assert((e1 & e2).isEmpty && (e1 ++ e2) == batchSet(pages))
    // THE state bound: each epoch's state store holds its OWN admissions
    // only — the already-crawled majority (incl. last epoch's /p1) dies
    // at the sketch/verify front and never creates a state row
    assert(s1 == e1.size.toLong, s"epoch-1 state $s1 != admissions ${e1.size}")
    assert(s2 == e2.size.toLong, s"epoch-2 state $s2 != admissions ${e2.size}")
  }

  test("at-least-once: a re-delivered page admits nothing new") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val name = s"frontier_redeliver_${System.nanoTime()}"
    val q = FrontierStream.admittedStream(
        input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
        crawled, "url")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData(pages); q.processAllAvailable()
    val afterFirst = spark.table(name).count()
    input.addData(pages); q.processAllAvailable() // full re-delivery
    val afterSecond = spark.table(name).count()
    q.stop()
    assert(afterFirst == 3L && afterSecond == afterFirst)
  }

  test("crash window: snapshot and epoch heal") {
    // an interrupted ArtifactSwap promotion leaves crawledPath ABSENT
    // with the real seen set under `_prev`. A snapshotAdmitted landing
    // there must heal FIRST — a mode('append') into the window would
    // create a fresh one-epoch table beside the real seen set, after
    // which the bloom front re-admits every crawled url. Same discipline
    // for the epoch's own read.
    implicit val sqlCtx = spark.sqlContext
    val crawledPath = java.nio.file.Files
      .createTempDirectory("frontier_window").toString + "/crawled"
    crawled.write.mode("overwrite").parquet(crawledPath)
    val live = new java.io.File(crawledPath)
    val prev = new java.io.File(crawledPath + "_prev")
    def strand(): Unit =
      assert(live.renameTo(prev) && !live.exists(), "could not strand")
    strand()
    FrontierStream.snapshotAdmitted(spark,
      Seq(("http://a.com/q1", "a.com")).toDF("url", "dst_host"),
      crawledPath)
    assert(!prev.exists(), "snapshot stranded the seen set under _prev")
    assert(spark.read.parquet(crawledPath).collect()
      .map(_.getString(0)).toSet ==
      Set("http://a.com/seen", "http://a.com/q1"),
      "snapshot append lost the pre-crash seen set")
    // an epoch run through a re-created window still rejects BOTH the
    // pre-crash url (/seen) and the snapshot-drained one (/q1)
    strand()
    val input = MemoryStream[(Long, String, String)]
    val name = s"frontier_window_${System.nanoTime()}"
    val q = FrontierStream.admittedStreamBloom(
        input.toDF().toDF("doc", "page_url", "html"), "html", "page_url",
        crawledPath, fpp = 0.5)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData(Seq((1L, "http://a.com/1",
      """<body><a href="/p1">n</a> <a href="/q1">s</a> <a href="/seen">s</a></body>""")))
    q.processAllAvailable(); q.stop()
    assert(spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("http://a.com/p1", "a.com")))
    assert(!prev.exists(), "epoch read left the window unhealed")
  }
}
