package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Build/search split of the LSH text index (LshIndexIO): pairs computed
  * over the persisted band table must be bit-identical to the inline
  * minhashLshPairs lineage on the same corpus. */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  // small corpus with planted near-dups: docs 0/1 and 4/5 share most
  // shingles; the rest are distinct
  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and often"),
    (2L, "completely different text about spark catalyst optimizer rules"),
    (3L, "yet another unrelated document discussing parquet column pruning"),
    (4L, "minhash signatures band together into lsh buckets for dedup work"),
    (5L, "minhash signatures band together into lsh buckets for dedup runs"),
    (6L, "short doc"),
    (7L, "")).toDF("doc_id", "text")

  def pairKey(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
    .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("est_jaccard"))))
    .toSet

  test("pairs over a built index == inline minhashLshPairs, bit-for-bit") {
    val inline = pairKey(TextOps.minhashLshPairs(docs, "doc_id", "text"))
    graft.CacheRegistry.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    val n = LshIndexIO.build(docs, "doc_id", "text", dir)
    // one row per doc×band for every doc with >= k tokens
    assert(n > 0 && n % 4 == 0, s"band table rows $n not a multiple of bands")
    // band table is band-partitioned on disk (file-listing pruning axis)
    val bandsDir = new java.io.File(s"$dir/bands")
    assert(bandsDir.listFiles().exists(_.getName.startsWith("band_id=")),
      "band table not partitioned by band_id")
    val viaIndex = pairKey(LshIndexIO.pairs(spark, dir))
    graft.CacheRegistry.releaseAll()
    assert(inline.nonEmpty && viaIndex == inline)
    // the planted near-dup pair survives the index round-trip
    assert(viaIndex.map(t => (t._1, t._2)).contains((0L, 1L)))
  }

  test("probe == from-scratch pairs restricted to new-touching, bit-for-bit") {
    // old snapshot: docs 0-4 and 6-7; new batch: doc 5 plus 9 (a
    // byte-identical copy of 5 — the new×new branch, colliding in every
    // band) plus 8 (a near-dup of OLD doc 0 — the new×old branch)
    val old = docs.filter("doc_id in (0, 1, 2, 3, 4, 6, 7)")
    val batch = docs.filter("doc_id = 5").union(Seq(
      (8L, "the quick brown fox jumps over the lazy dog again and anew"),
      (9L, "minhash signatures band together into lsh buckets for dedup runs"))
      .toDF("doc_id", "text"))
    val all = old.union(batch)
    val newIds = Set(5L, 8L, 9L)
    // full-corpus pairs, restricted to new-touching, re-oriented to the
    // probe's (doc_new, doc_match) convention
    val expected = TextOps.minhashLshPairs(all, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("est_jaccard"))))
      .filter(t => newIds(t._1) || newIds(t._2))
      .map { case (a, b, j) =>
        if (newIds(a)) (a, b, newIds(b), j) else (b, a, newIds(a), j) }
      .toSet
    graft.CacheRegistry.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx_inc").toString
    LshIndexIO.build(old, "doc_id", "text", dir)
    val probed = LshIndexIO.probe(spark, dir, batch, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_match"),
        r.getAs[Boolean]("match_is_new"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("est_jaccard"))))
      .toSet
    graft.CacheRegistry.releaseAll()
    assert(probed == expected && expected.nonEmpty)
    // both branches genuinely exercised
    assert(probed.exists(_._3) && probed.exists(!_._3))
    // no old×old pair leaks into the probe
    assert(probed.forall(t => newIds(t._1)))
  }

  test("append == rebuild: admitted batch extends the index exactly") {
    val old = docs.filter("doc_id in (0, 1, 2, 3, 6, 7)")
    val batch = docs.filter("doc_id in (4, 5)")
    val dirInc = java.nio.file.Files.createTempDirectory("lsh_app").toString
    LshIndexIO.build(old, "doc_id", "text", dirInc)
    val nApp = LshIndexIO.append(batch, "doc_id", "text", dirInc)
    assert(nApp > 0 && nApp % 4 == 0)
    val dirFull = java.nio.file.Files.createTempDirectory("lsh_full").toString
    LshIndexIO.build(docs, "doc_id", "text", dirFull)
    val viaApp = pairKey(LshIndexIO.pairs(spark, dirInc))
    graft.CacheRegistry.releaseAll()
    val viaFull = pairKey(LshIndexIO.pairs(spark, dirFull))
    graft.CacheRegistry.releaseAll()
    assert(viaApp == viaFull && viaFull.nonEmpty)
  }

  test("stats: cap-pressure trips on a mass-dup corpus, quiet otherwise") {
    import spark.implicits._
    val dirQ = java.nio.file.Files.createTempDirectory("lsh_stats_q").toString
    LshIndexIO.build(docs, "doc_id", "text", dirQ)
    val quiet = LshIndexIO.stats(spark, dirQ).head()
    assert(quiet.getAs[Long]("capped_buckets") == 0L &&
      quiet.getAs[Long]("max_occupancy") >= 1L)
    // 40 byte-identical docs against cap=10: every one of their 4 shared
    // buckets holds 40 >= cap — the "cap is binding" signal must trip
    val dup = (0L until 40L).map(i => (i, "all the same text in every copy here"))
      .toDF("doc_id", "text")
    val dirH = java.nio.file.Files.createTempDirectory("lsh_stats_h").toString
    LshIndexIO.build(dup, "doc_id", "text", dirH)
    val hot = LshIndexIO.stats(spark, dirH, cap = 10).head()
    assert(hot.getAs[Long]("capped_buckets") == 4L &&
      hot.getAs[Long]("max_occupancy") == 40L &&
      hot.getAs[Double]("skew") == 1.0)
  }

  test("compact: file count collapses, probe and stats are bit-invisible") {
    val old = docs.filter("doc_id in (0, 1, 2, 3, 6, 7)")
    val dir = java.nio.file.Files.createTempDirectory("lsh_cpt").toString
    LshIndexIO.build(old, "doc_id", "text", dir)
    // a short append chain: each batch adds files under every band dir
    LshIndexIO.append(docs.filter("doc_id = 4"), "doc_id", "text", dir)
    LshIndexIO.append(docs.filter("doc_id = 5"), "doc_id", "text", dir)
    val batch = Seq((8L, "the quick brown fox jumps over the lazy dog again and anew"))
      .toDF("doc_id", "text")
    val before = LshIndexIO.probe(spark, dir, batch, "doc_id", "text")
      .collect().map(_.toString).toSet
    graft.CacheRegistry.releaseAll()
    val statsBefore = LshIndexIO.stats(spark, dir).head().toString
    val (filesBefore, filesAfter) = LshIndexIO.compact(spark, dir,
      targetPartitions = 4)
    // the chain fragmented the table (build + 2 appends × 4 band dirs ⇒
    // ≥ 12 files); compaction bounds files by writer arity (4 range
    // tasks, plus at most one dir-boundary straddle each), not by
    // append count
    assert(filesBefore >= 12, s"append chain left only $filesBefore files")
    assert(filesAfter <= 8 && filesAfter < filesBefore,
      s"compact left $filesAfter files (before: $filesBefore)")
    val after = LshIndexIO.probe(spark, dir, batch, "doc_id", "text")
      .collect().map(_.toString).toSet
    graft.CacheRegistry.releaseAll()
    assert(after == before && before.nonEmpty)
    assert(LshIndexIO.stats(spark, dir).head().toString == statsBefore)
  }

  test("reshingle == from-scratch build at the new k, frame-identical") {
    def bandKey(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_hash"),
        r.getAs[scala.collection.Seq[Long]]("sig").toList)).toSet
    val dir = java.nio.file.Files.createTempDirectory("lsh_rs").toString
    LshIndexIO.build(docs, "doc_id", "text", dir, shingleK = 3)
    val k3 = bandKey(LshIndexIO.load(spark, dir))
    val n = LshIndexIO.reshingle(docs, "doc_id", "text", dir, shingleK = 5)
    assert(n > 0)
    val dirFresh = java.nio.file.Files.createTempDirectory("lsh_rs_f").toString
    LshIndexIO.build(docs, "doc_id", "text", dirFresh, shingleK = 5)
    val viaReshingle = bandKey(LshIndexIO.load(spark, dir))
    val viaFresh = bandKey(LshIndexIO.load(spark, dirFresh))
    assert(viaReshingle == viaFresh && viaFresh.nonEmpty)
    // the generation actually changed (k=5 hashes differ from k=3's)
    assert(viaReshingle != k3)
  }

  test("operating-point sidecar: mismatched append/probe fail fast") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_conf").toString
    LshIndexIO.build(docs, "doc_id", "text", dir, shingleK = 3)
    // mismatched probe rejected with the persisted value in the message
    val e = intercept[IllegalArgumentException] {
      LshIndexIO.probe(spark, dir, docs.filter("doc_id = 0"),
        "doc_id", "text", shingleK = 4)
    }
    assert(e.getMessage.contains("shingleK") &&
      e.getMessage.contains("mixed generations"))
    // after a reshingle the sidecar moves: the OLD default k now fails
    // fast instead of silently appending k=3 rows into a k=5 index
    LshIndexIO.reshingle(docs, "doc_id", "text", dir, shingleK = 5)
    intercept[IllegalArgumentException] {
      LshIndexIO.append(docs.filter("doc_id = 0"), "doc_id", "text", dir)
    }
    // matching parameters pass
    LshIndexIO.append(docs.filter("doc_id = 0"), "doc_id", "text", dir,
      shingleK = 5)
    assert(LshIndexIO.probe(spark, dir, docs.filter("doc_id = 1"),
      "doc_id", "text", shingleK = 5).columns.contains("doc_new"))
    graft.CacheRegistry.releaseAll()
  }

  test("conf sidecar rides the generation: in-dir, swap-atomic, compact-carried") {
    def conf(dir: String): String = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "bands", "_CONF")), "UTF-8").trim
    val dir = java.nio.file.Files.createTempDirectory("lsh_conf_gen").toString
    LshIndexIO.build(docs, "doc_id", "text", dir, shingleK = 3)
    assert(conf(dir) == "3 16 4") // written INSIDE the band-table dir
    // reshingle stages the NEW conf inside the next generation, so data
    // and operating point promote in one atomic rename
    LshIndexIO.reshingle(docs, "doc_id", "text", dir, shingleK = 5)
    assert(conf(dir) == "5 16 4")
    // compact rewrites the generation and must CARRY the sidecar — a
    // compacted index that forgot its k would stop fail-fasting appends
    LshIndexIO.compact(spark, dir, targetPartitions = 2)
    assert(conf(dir) == "5 16 4")
    intercept[IllegalArgumentException] { // default k=3 still rejected
      LshIndexIO.append(docs.filter("doc_id = 0"), "doc_id", "text", dir)
    }
    graft.CacheRegistry.releaseAll()
  }

  test("recover: stranded-prev crash state heals on the next compact") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_recover").toString
    LshIndexIO.build(docs, "doc_id", "text", dir)
    val batch = Seq(
      (8L, "the quick brown fox jumps over the lazy dog again and anew"))
      .toDF("doc_id", "text")
    val before = LshIndexIO.probe(spark, dir, batch, "doc_id", "text")
      .collect().map(_.toString).toSet
    graft.CacheRegistry.releaseAll()
    // simulate the swap crash window: bands retired to _prev, promote
    // never ran — the live band table is ABSENT
    val live = new java.io.File(s"$dir/bands")
    assert(live.renameTo(new java.io.File(s"$dir/bands_prev")))
    // the next maintenance entry recovers and completes normally
    val (_, filesAfter) = LshIndexIO.compact(spark, dir,
      targetPartitions = 2)
    assert(filesAfter > 0)
    val after = LshIndexIO.probe(spark, dir, batch, "doc_id", "text")
      .collect().map(_.toString).toSet
    graft.CacheRegistry.releaseAll()
    assert(after == before && before.nonEmpty)
  }

  test("append into the crash window heals first — never a batch-only table") {
    // the silent-loss scenario: bands retired to _prev, promote never
    // ran; a scheduled append's mode('append') write would CREATE a
    // fresh bands dir holding only the batch — recover() would then see
    // live-exists and never roll _prev back, and the next compact would
    // promote the batch-only table and DELETE the real index. The
    // append must heal the window before writing.
    val old = docs.filter("doc_id in (0, 1, 2, 3, 6, 7)")
    val batch = docs.filter("doc_id in (4, 5)")
    val dir = java.nio.file.Files.createTempDirectory("lsh_app_rec").toString
    LshIndexIO.build(old, "doc_id", "text", dir)
    assert(new java.io.File(s"$dir/bands")
      .renameTo(new java.io.File(s"$dir/bands_prev")))
    LshIndexIO.append(batch, "doc_id", "text", dir)
    assert(!new java.io.File(s"$dir/bands_prev").exists(),
      "append left the retired generation stranded")
    val dirFull = java.nio.file.Files.createTempDirectory("lsh_app_rec_f").toString
    LshIndexIO.build(docs, "doc_id", "text", dirFull)
    val viaApp = pairKey(LshIndexIO.pairs(spark, dir))
    graft.CacheRegistry.releaseAll()
    val viaFull = pairKey(LshIndexIO.pairs(spark, dirFull))
    graft.CacheRegistry.releaseAll()
    assert(viaApp == viaFull && viaFull.nonEmpty)
  }

  test("bucket cap applies identically over the loaded index") {
    val inline = pairKey(TextOps.minhashLshPairs(docs, "doc_id", "text",
      maxBandBucket = Some(2)))
    graft.CacheRegistry.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx_cap").toString
    LshIndexIO.build(docs, "doc_id", "text", dir)
    val viaIndex = pairKey(LshIndexIO.pairs(spark, dir,
      maxBandBucket = Some(2)))
    graft.CacheRegistry.releaseAll()
    assert(viaIndex == inline)
  }

  test("corrupt conf sidecar fails with the file named, never a bare parse error") {
    // a truncated or foreign _CONF must not surface as a context-free
    // ArrayIndexOutOfBounds/NumberFormatException — and must NOT be
    // silently treated as "no conf" (that would skip the operating-point
    // validation the sidecar exists for)
    val dir = java.nio.file.Files.createTempDirectory("lsh_badconf").toString
    LshIndexIO.build(docs, "doc_id", "text", dir, shingleK = 3)
    val confFile = java.nio.file.Paths.get(dir, "bands", "_CONF")
    // corrupting the file out-of-band: drop the local FS checksum
    // sidecar too, or the read fails on the crc before the parse
    def corrupt(payload: String): Unit = {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "bands", "._CONF.crc"))
      java.nio.file.Files.write(confFile, payload.getBytes("UTF-8"))
    }
    for (bad <- Seq("3 16", "a b c", "3 16 4 9")) {
      corrupt(bad)
      val e = intercept[IllegalArgumentException] {
        LshIndexIO.probe(spark, dir, docs.filter("doc_id = 0"),
          "doc_id", "text", shingleK = 3)
      }
      graft.CacheRegistry.releaseAll()
      assert(e.getMessage.contains("_CONF") &&
        e.getMessage.contains(bad) && e.getMessage.contains("corrupt"),
        s"for '$bad': ${e.getMessage}")
    }
    // a repaired sidecar serves again
    corrupt("3 16 4")
    assert(LshIndexIO.probe(spark, dir, docs.filter("doc_id = 1"),
      "doc_id", "text", shingleK = 3).columns.contains("doc_new"))
    graft.CacheRegistry.releaseAll()
  }
}
