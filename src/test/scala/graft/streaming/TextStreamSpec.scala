package graft.streaming

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Doc(doc_id: Long, text: String)

/** Row-local text analysis is a pure projection, so the SAME operator
  * code runs unchanged over a stream — no state store, no watermark, no
  * shuffle introduced by the operator itself — and the streamed output
  * equals the batch output on the same rows regardless of how the input
  * is split into micro-batches. This is the ingest-time scoring shape a
  * training-data pipeline runs in front of the dedup/pack stages.
  * (repetitionStats is excluded by design: its top-token multiplicity
  * needs an aggregation, which append-mode requires a watermark for.) */
class TextStreamSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    Doc(1L, "the quick brown fox jumps over the lazy dog and the cat"),
    Doc(2L, "contact me at alice@example.com or 192.168.0.1 please"),
    Doc(3L, "der hund und die katze sind nicht das problem"),
    Doc(4L, "el perro y la casa de que hablas"),
    Doc(5L, ""),
    Doc(6L, "le chat et les chiens des villes un jour"),
    Doc(7L, "short"),
    Doc(8L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"))

  /** Run `op` over the docs as a 3-micro-batch stream, assert zero
    * stateful operators, and return the sink rows. */
  private def streamed(name: String, op: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = op(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData(docs.take(3))
    q.processAllAvailable()
    input.addData(docs.slice(3, 5))
    q.processAllAvailable()
    input.addData(docs.drop(5))
    q.processAllAvailable()
    val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    q.stop()
    assert(stateOps.isEmpty, s"$name: row-local op grew state: $stateOps")
    spark.table(name).orderBy("doc").collect().toSeq
  }

  test("chunking at ingest: stream == batch, stateless") {
    // chunkTokens is a per-row sequence explode — stream-legal as-is
    val op = (df: DataFrame) =>
      TextOps.chunkTokens(df, "doc_id", "text", chunkSize = 6, overlap = 2)
    val got = streamed("chunk_ingest", op)
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    val want = op(docs.toDF()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == want && got.nonEmpty)
  }

  test("pii -> quality over scrubbed text: stream == batch, stateless") {
    val op = (df: DataFrame) =>
      TextOps.qualityScore(
        TextOps.piiScrub(df, "doc_id", "text")
          .withColumnRenamed("doc", "doc_id"), "doc_id", "scrubbed")
    val got = streamed("pii_quality", op)
    val want = op(docs.toDF()).orderBy("doc").collect().toSeq
    assert(got == want)
    assert(got.size == docs.size)
  }

  test("langId + bpe token count: stream == batch across splits") {
    val lang = (df: DataFrame) => TextOps.langId(df, "doc_id", "text")
    assert(streamed("lang_stream", lang) ==
      lang(docs.toDF()).orderBy("doc").collect().toSeq)

    val bpe = (df: DataFrame) => df.select(col("doc_id").as("doc"),
      TextOps.bpeTokenCount(col("text")).as("n_bpe"))
    assert(streamed("bpe_stream", bpe) ==
      bpe(docs.toDF()).orderBy("doc").collect().toSeq)
  }

  test("fingerprint: stream == batch (repartition is stream-legal)") {
    val fp = (df: DataFrame) => TextOps.fingerprintDf(df, "doc_id", "text")
      .withColumnRenamed("doc_id", "doc")
    assert(streamed("fp_stream", fp) ==
      fp(docs.toDF()).orderBy("doc").collect().toSeq)
  }

  test("domain blocklist at ingest: literal form streams, == batch") {
    // the zero-shuffle literal twin of domainSuffixBlock is a pure
    // projection — blocklist gating runs AT INGEST, before any fetch
    val op = (df: DataFrame) => df.select(col("doc_id").as("doc"),
      TextOps.domainSuffixBlockCol(
        concat(lit("h"), col("doc_id"), lit(".site9.org")),
        Seq("site9.org", "h2.site9.org")).as("blocked_by"))
    val got = streamed("domain_stream", op)
    assert(got == op(docs.toDF()).orderBy("doc").collect().toSeq)
    assert(got.map(r => r.getLong(0) -> r.getString(1)).toMap
      .apply(2L) == "h2.site9.org") // specificity holds in-stream
  }

  test("gopher rules at ingest: stream == batch, stateless") {
    val op = (df: DataFrame) => TextOps.gopherRules(df, "doc_id", "text")
    assert(streamed("gopher_stream", op) ==
      op(docs.toDF()).orderBy("doc").collect().toSeq)
  }

  test("winnowed fingerprints at ingest: stream == batch, stateless") {
    // the MOSS selection is row-local (windows over the per-doc gram-hash
    // array, thinned BEFORE the explode), so fingerprint-at-ingest runs
    // the same code as batch — the shape that feeds winnowPairs' join
    // downstream of the ingest edge
    // k=5, w=6: doc 4 (8 tokens -> 4 grams < w) exercises the short-doc
    // whole-window pick; docs 5/7 (< k tokens, zero grams) emit nothing
    val op = (df: DataFrame) =>
      TextOps.winnowedFingerprints(df, "doc_id", "text", k = 5, w = 6)
    val got = streamed("winnow_ingest", op)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity)
    val want = op(docs.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(identity)
    assert(got == want && got.nonEmpty)
    // the documented short-doc deviation holds identically across the
    // stream/batch split: whole-doc pick present, gram-less docs absent
    assert(got.count(_._1 == 4L) == 1 && !got.exists(_._1 == 5L) &&
      !got.exists(_._1 == 7L))
  }

  test("html extract at ingest: stream == batch, stateless") {
    // the WET path's extraction stage is pure row-local column logic —
    // it must ride a readStream unchanged, growing zero state operators
    val op = (df: DataFrame) => graft.operators.HtmlOps.htmlExtract(
      df.select(col("doc_id").as("doc"),
        concat(lit("<html><head><title>T</title></head><body>" +
            "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav><p>"),
          col("text"),
          lit("</p><p>tail &amp; more</p></body></html>")).as("html")),
      "html")
    val got = streamed("html_ingest", op)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val want = op(docs.toDF()).orderBy("doc").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got == want && got.nonEmpty)
    // the boilerplate nav dropped, the entity decoded, on every row
    assert(got.forall(t => !t._3.contains("Home") &&
      t._3.endsWith("tail & more")))
  }
}
