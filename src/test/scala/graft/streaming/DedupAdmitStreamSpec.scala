package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract edges of the streaming dedup admission
  * ([[DedupAdmitStream]]) that the drained `stream_dedup_admit` oracle
  * can't reach: the non-recursive family rule, Bloom exactness at a
  * hostile fpp and the seen-table crash window. */
class DedupAdmitStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def bandsOf(rows: (Long, Long, Int, Long)*) =
    rows.toSeq.toDF("doc", "ord", "band_id", "band_hash")

  private def docsOf(rows: (Long, Long)*) =
    rows.toSeq.toDF("doc", "ord")

  private def admitted(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.filter(col("admitted")).select("doc").as[Long].collect().toSet

  test("non-recursive family rule: rejecting against a rejected doc still suppresses the chain") {
    // doc1 {X,Y}, doc2 {Y,Z}, doc3 {Z,W}: doc2 collides with doc1 only,
    // doc3 with doc2 only. Non-recursive semantics reject BOTH doc2 and
    // doc3 — an admitted-set-only state would re-admit doc3.
    val seen = tmp("dedup_seen")
    val bands = bandsOf(
      (1L, 1L, 0, 100L), (1L, 1L, 1, 200L),
      (2L, 2L, 1, 200L), (2L, 2L, 2, 300L),
      (3L, 3L, 2, 300L), (3L, 3L, 3, 400L))
    val r = DedupAdmitStream.admitBatch(spark,
      docsOf((1L, 1L), (2L, 2L), (3L, 3L)), bands, "ord", seen)
    assert(admitted(r) == Set(1L))
    val rows = r.orderBy("doc").collect()
    assert(rows.map(_.getAs[Long]("n_bands")).toSeq == Seq(2L, 2L, 2L))
  }

  test("cross-batch: snapshot bands (admitted or not) block later batches; fresh bands admit") {
    val seen = tmp("dedup_seen")
    val b1 = bandsOf((1L, 1L, 0, 100L), (2L, 2L, 0, 100L)) // 2 rejected
    val d1 = DedupAdmitStream.admitBatch(spark,
      docsOf((1L, 1L), (2L, 2L)), b1, "ord", seen)
    assert(admitted(d1) == Set(1L))
    DedupAdmitStream.snapshotSeen(spark, b1, seen)
    // doc3 duplicates the REJECTED doc2's band — still blocked; doc4 new
    val b2 = bandsOf((3L, 11L, 0, 100L), (4L, 12L, 0, 999L))
    val d2 = DedupAdmitStream.admitBatch(spark,
      docsOf((3L, 11L), (4L, 12L)), b2, "ord", seen)
    assert(admitted(d2) == Set(4L))
  }

  test("a doc with no bands is admitted with n_bands = 0") {
    val seen = tmp("dedup_seen")
    val r = DedupAdmitStream.admitBatch(spark, docsOf((7L, 7L)),
      bandsOf(), "ord", seen).collect()(0)
    assert(r.getAs[Boolean]("admitted") && r.getAs[Long]("n_bands") == 0L)
  }

  test("Bloom exactness: fpp 0.5 and fpp 1e-6 admit identically (verify sliver is exact)") {
    val seen = tmp("dedup_seen")
    // seed 300 seen bands
    val seed = (0L until 300L).map(i => (i, i, (i % 4).toInt, i * 37L))
    DedupAdmitStream.snapshotSeen(spark, bandsOf(seed: _*), seen)
    // batch: half colliding, half fresh
    val batch = (0L until 200L).map { i =>
      val h = if (i % 2 == 0) (i % 300) * 37L else 1000000L + i
      (1000L + i, 1000L + i, (i % 4).toInt, h)
    }
    // band_id must match the seed's too for a true collision
    val batchFixed = batch.map { case (d, o, b, h) =>
      if ((d - 1000L) % 2 == 0) (d, o, ((d - 1000L) % 300 % 4).toInt, h)
      else (d, o, b, h)
    }
    val docs = docsOf(batchFixed.map(r => (r._1, r._2)): _*)
    val loose = DedupAdmitStream.admitBatch(spark, docs,
      bandsOf(batchFixed: _*), "ord", seen, fpp = 0.5)
    val tight = DedupAdmitStream.admitBatch(spark, docs,
      bandsOf(batchFixed: _*), "ord", seen, fpp = 1e-6)
    assert(admitted(loose) == admitted(tight))
    // and the collisions actually rejected (the test isn't vacuous)
    assert(admitted(tight).size < 200 && admitted(tight).nonEmpty)
  }

  test("admitBatch heals a crash window at entry") {
    val seen = tmp("dedup_seen")
    for (k <- 0 until 5) // 5 appends
      DedupAdmitStream.snapshotSeen(spark,
        bandsOf((k.toLong, k.toLong, 0, 5000L + k)), seen)
    val probe = bandsOf((50L, 50L, 0, 5002L), (51L, 51L, 0, 7777L))
    val probeDocs = docsOf((50L, 50L), (51L, 51L))
    val before = admitted(
      DedupAdmitStream.admitBatch(spark, probeDocs, probe, "ord", seen))
    assert(before == Set(51L))
    // crash window: live dir renamed away, real table stranded at _prev
    val fs = new org.apache.hadoop.fs.Path(seen)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(seen),
      new org.apache.hadoop.fs.Path(seen + "_prev"))
    assert(admitted(
      DedupAdmitStream.admitBatch(spark, probeDocs, probe, "ord", seen)) == before,
      "admitBatch did not heal the stranded-prev crash window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(seen)))
  }

  test("bandsWithOrd carries the lshBandTable chain (4 bands per shingled doc) plus the order key") {
    val docs = Seq((1L, 10L, "alpha beta gamma delta epsilon"),
                   (2L, 20L, "zz")) // < 3 tokens → no shingles
      .toDF("doc", "ord", "text")
    val b = DedupAdmitStream.bandsWithOrd(docs, "doc", "text", "ord")
    val rows = b.collect()
    assert(rows.length == 4 && rows.forall(_.getAs[Long]("doc") == 1L))
    assert(rows.forall(_.getAs[Long]("ord") == 10L))
    assert(rows.map(_.getAs[Int]("band_id")).toSet == Set(0, 1, 2, 3))
  }
}
