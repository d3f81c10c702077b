package graft.streaming

import graft.SparkSpec
import graft.multimodal.{AudioOps, VisionFixtures, VisionOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The modal kernels (render/decode/detect, WAV features) are row-local
  * mapPartitions passes, so the SAME operator code runs unchanged over a
  * stream — no state store, no watermark — and streamed output equals
  * batch output for any micro-batch split: the ingest-time shape for
  * feature-extracting media as it arrives. */
class MediaStreamSpec extends SparkSpec {
  import spark.implicits._

  val ids: Seq[Long] = Seq(0L, 1L, 2L, 5L, 7L, 11L)

  private def streamed(name: String, op: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = op(input.toDF().toDF("doc_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    ids.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
    val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    q.stop()
    assert(stateOps.isEmpty, s"$name: row-local kernel grew state: $stateOps")
    spark.table(name).collect().toSeq
  }

  test("pupil detection at ingest: stream == batch, stateless") {
    val op = (df: DataFrame) =>
      VisionOps.detectPupils(VisionFixtures.plantMedia(df, "doc_id", "pupil"))
    val got = streamed("media_pupils", op).sortBy(_.getLong(0))
    val want = op(ids.toDF("doc_id")).collect().toSeq.sortBy(_.getLong(0))
    assert(got == want && got.size == ids.size)
  }

  test("audio features at ingest: stream == batch, stateless") {
    val op = (df: DataFrame) =>
      AudioOps.extractAudioFeatures(AudioOps.plantAudioMedia(df, "doc_id"))
    val got = streamed("media_audio", op).sortBy(_.getLong(0))
    val want = op(ids.toDF("doc_id")).collect().toSeq.sortBy(_.getLong(0))
    assert(got == want && got.size == ids.size)
  }

  test("image aHash at ingest: stream == batch, stateless") {
    val op = (df: DataFrame) =>
      graft.multimodal.MultimodalOps.imageAHash(
        VisionFixtures.plantMedia(df, "doc_id", "pupil"))
    val got = streamed("media_ahash", op)
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = op(ids.toDF("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got == want && got.size == ids.size)
  }
}
