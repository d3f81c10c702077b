package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Decontamination, PII scrub, repetition metrics, BM25 search. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate: shingle overlap with the benchmark set") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zzz alpha beta gamma yyy"), // shares "alpha beta gamma"
      (2L, "no shared phrases at all here"),
      (3L, "xx yy")) // < 3 tokens → zero shingles
      .toDF("doc_id", "text")
    val out = TextOps.decontaminate(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._2 == 1L && out(1L)._3)
    assert(out(2L)._2 == 0L && !out(2L)._3)
    assert(out(3L) == ((0L, 0L, false)))
    graft.CacheRegistry.releaseAll()
  }

  test("piiScrub: counts and placeholder replacement") {
    val docs = Seq(
      (1L, "mail bob.smith@corp.example.org from 192.168.1.17 tel 415-555-0042"),
      (2L, "two mails a@b.io c.d@e.net and versions 1.2.3 and 10.0.0.1"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 1L, 1L, "mail <EMAIL> from <IP> tel <PHONE>")))
    // "1.2.3" is not an IPv4; both emails caught
    assert(out(2L)._1 == 2L && out(2L)._2 == 1L && out(2L)._3 == 0L)
    assert(out(2L)._4 == "two mails <EMAIL> <EMAIL> and versions 1.2.3 and <IP>")
    assert(out(3L) == ((0L, 0L, 0L, "nothing sensitive here")))
  }

  test("repetitionStats: unique ratio, top-token fraction, dup 3-grams") {
    val docs = Seq(
      (1L, "a a a b"),     // 4 toks, 2 unique, top=3; grams {aaa,aab} → dup 0
      (2L, "a a a a"),     // grams: "a a a"×2 → distinct 1 of 2 → dup 0.5
      (3L, "w1 w2 w3 w4"), // all unique
      (4L, "x y"))         // < 3 tokens → null dup_3gram_frac
      .toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    assert(out(1L) == ((4L, 2L, 0.5, 0.75, 0.0)))
    assert(out(2L)._5 == 0.5)
    assert(out(3L) == ((4L, 4L, 1.0, 0.25, 0.0)))
    assert(out(4L)._5.isNaN)
    graft.CacheRegistry.releaseAll()
  }

  test("bpeTokenCount: contractions, digits, punctuation, multi-space") {
    val rows = Seq(
      (1L, "I'll say it's 42 dogs, maybe 3.14!"),
      (2L, "plain words only here"),
      (3L, "a  b"), // double space → one \s+ token between the letters
      (4L, "x=1;y=2")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // I | 'll | say | it | 's | 42 | dogs | , | maybe | 3 | . | 14 | !
    assert(rows(1L) == 13L)
    assert(rows(2L) == 4L)
    assert(rows(3L) == 3L)
    // x | = | 1 | ; | y | = | 2
    assert(rows(4L) == 7L)
  }

  test("bm25TopK: rational-idf scores, ordering, k cut") {
    val docs = Seq(
      (1L, "x x y a"), // rare y + double x → top
      (2L, "x a b c"),
      (3L, "a b c d")) // no query terms → excluded
      .toDF("doc_id", "text")
    val rows = TextOps.bm25TopK(docs, "doc_id", "text", Seq("x", "y"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L))
    // N=3, avgdl=4, df_x=2, df_y=1 ⇒ idf_x=0.6, idf_y=5/3; len norm = 1
    // d1 = 0.6·(2·2.2/3.2) + (5/3)·(2.2/2.2); d2 = 0.6·(2.2/2.2)
    assert(math.abs(rows(0)._2 - (0.6 * (2 * 2.2 / 3.2) + 5.0 / 3.0)) < 1e-12)
    assert(math.abs(rows(1)._2 - 0.6) < 1e-12)
    // k cut: k=1 keeps only the best
    assert(TextOps.bm25TopK(docs, "doc_id", "text", Seq("x", "y"), k = 1)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    graft.CacheRegistry.releaseAll()
  }

  test("dedupLines drops corpus-wide boilerplate, keeps order, keeps empty docs") {
    val boiler = "subscribe now"
    val docs = (1L to 6L).map { i =>
      val own = s"unique line $i a" + "\n" + s"unique line $i b"
      (i, if (i <= 5) own + "\n" + boiler else boiler)
    }.toDF("doc_id", "text")
    // boiler appears 6 times > max 4 -> dropped everywhere
    val out = TextOps.dedupLines(docs, "doc_id", "text", "\n", maxOccurrences = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.CacheRegistry.releaseAll()
    for (i <- 1L to 5L) {
      assert(out(i)._1 == 3 && out(i)._2 == 2)
      assert(out(i)._3 == s"unique line $i a" + "\n" + s"unique line $i b")
    }
    // doc 6 was ONLY boilerplate: present, empty text
    assert(out(6L) == ((1L, 0L, "")))
  }

  test("dedupLines below threshold keeps everything verbatim") {
    val docs = Seq((1L, "a\nb\nc"), (2L, "a\nx")).toDF("doc_id", "text")
    val out = TextOps.dedupLines(docs, "doc_id", "text", "\n", maxOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    graft.CacheRegistry.releaseAll()
    assert(out(1L) == "a\nb\nc" && out(2L) == "a\nx")
  }

  test("substringDedupSpans: cross-doc spans found, merged, and bounded") {
    // shared run of 6 tokens s1..s6 inside two docs; doc 3 clean; doc 4
    // repeats a gram WITHIN itself only (must NOT count as duplicated)
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c $shared x y z"),
      (2L, s"p q $shared r"),
      (3L, "totally unrelated text with no overlap at all whatsoever"),
      (4L, "m n o m n o m n o m n o")) // self-repetition only
      .toDF("doc_id", "text")
    val out = TextOps.substringDedupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    graft.CacheRegistry.releaseAll()
    // doc 1: tokens a b c s1..s6 x y z — the duplicated 3-grams are those
    // fully inside s1..s6: positions 4..7, one merged span [4, 9]
    // doc 2: tokens p q s1..s6 r — positions 3..6 → span [3, 8]
    assert(out sameElements Array(
      (1L, 4L, 9L, 6L), (2L, 3L, 8L, 6L)))
  }

  test("substringDedupSpans: adjacent-but-distinct gram islands stay split") {
    // two duplicated grams separated by a gap > k must yield two spans
    val docs = Seq(
      (1L, "dup1 dup1 dup1 g1 g2 g3 g4 g5 dup2 dup2 dup2"),
      (2L, "dup1 dup1 dup1 h1 h2 h3 h4 h5 dup2 dup2 dup2"))
      .toDF("doc_id", "text")
    val out = TextOps.substringDedupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    graft.CacheRegistry.releaseAll()
    assert(out sameElements Array(
      (1L, 1L, 3L), (1L, 9L, 11L), (2L, 1L, 3L), (2L, 9L, 11L)))
  }

  test("decontaminateBloom ≡ decontaminate even at an absurd fpp") {
    // fpp = 0.5 floods the prefilter with false positives — the exact
    // verify join must remove every one (bit-identical outputs)
    val bench = (0 until 50).map(i =>
      (1000L + i, s"alpha$i beta$i gamma$i delta$i")).toDF("doc_id", "text")
    val train = (0 until 500).map { i =>
      val t = if (i % 10 == 0) s"x alpha${i % 50} beta${i % 50} gamma${i % 50} y"
      else s"t$i u$i v$i w$i"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val exact = canon(TextOps.decontaminate(train, bench, "doc_id", "text"))
    graft.CacheRegistry.releaseAll()
    val bloomy = canon(TextOps.decontaminateBloom(train, bench, "doc_id",
      "text", fpp = 0.5))
    graft.CacheRegistry.releaseAll()
    assert(bloomy == exact)
    // and the planted contamination is actually found (non-vacuous)
    assert(exact.count(_._4) == 50)
  }

  test("winnowedFingerprints == brute per-window rightmost-min reference") {
    val rng = new scala.util.Random(11)
    val vocab = Array.tabulate(40)(i => s"v$i")
    val docs = Seq.tabulate(30) { d =>
      val n = 1 + rng.nextInt(25) // includes < k and < w shapes
      (d.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val (k, w) = (3, 4)
    val got = TextOps.winnowedFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute reference: dense gram hashes per doc, every full window's
    // rightmost min (whole doc as one window when grams < w)
    def hash60Ref(s: String): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16)
    }
    val want = docs.collect().flatMap { r =>
      val toks = r.getString(1).trim.split(" ")
      val grams = (0 to toks.length - k)
        .map(i => hash60Ref(toks.slice(i, i + k).mkString(" ")))
      if (grams.isEmpty) Seq.empty
      else {
        val windows =
          if (grams.length >= w) (0 to grams.length - w).map(j => (j, w))
          else Seq((0, grams.length))
        windows.map { case (j, len) =>
          val p = (j until j + len).minBy(q => (grams(q), -q))
          (r.getLong(0), (p + 1).toLong)
        }.distinct
      }
    }.toSet
    assert(got == want)
    // thinning is real: ≈ 2/(w+1) of dense positions on random text
    val dense = docs.collect().map(r =>
      math.max(r.getString(1).trim.split(" ").length - k + 1, 0)).sum
    assert(got.size < dense, s"no thinning: ${got.size} of $dense")
  }

  test("winnowing guarantee: shared runs >= w+k-1 tokens always collide") {
    val rng = new scala.util.Random(23)
    val vocab = Array.tabulate(50)(i => s"u$i")
    val (k, w) = (5, 4)
    val shared = Seq.fill(w + k - 1)(vocab(rng.nextInt(50))).mkString(" ")
    val docs = Seq.tabulate(20) { d =>
      val pre = Seq.fill(rng.nextInt(15))(vocab(rng.nextInt(50))).mkString(" ")
      val post = Seq.fill(rng.nextInt(15))(vocab(rng.nextInt(50))).mkString(" ")
      (d.toLong, s"$pre $shared $post".trim)
    }.toDF("doc_id", "text")
    val pairs = TextOps.winnowPairs(docs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheRegistry.releaseAll()
    // every doc pair shares the planted run -> every pair must appear
    val all = (for (a <- 0L until 20L; b <- a + 1 until 20L) yield (a, b)).toSet
    assert(pairs == all, s"missing ${(all -- pairs).take(5)}")
  }

  test("centroidClassifier separates planted classes, holds out correctly") {
    // class A: stopword-rich short words; class B: long rare words.
    // Train on even ids only; odd ids are held out but same-shaped.
    val docs = (0L until 200L).map { i =>
      val t = if (i % 2 == 0 || i % 3 == 0) // mixed assignment, not id-aligned
        "the of and to in the of and to in"
      else
        "hyperborean vicissitudes perspicacious grandiloquent obstreperous"
      (i, t)
    }.toDF("doc_id", "text")
    val out = TextOps.centroidClassifier(docs, "doc_id", "text",
      isTrain = col("doc_id") % 5 === 0,
      label = col("doc_id") % 2 === 0 || col("doc_id") % 3 === 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getDouble(3)))).toMap
    // every doc — train or held-out — lands with its class
    for (i <- 0L until 200L) {
      val expect = i % 2 == 0 || i % 3 == 0
      assert(out(i)._2 == expect, s"doc $i misclassified")
      assert(out(i)._1 == (i % 5 == 0))
      // margin sign agrees with the label
      assert((out(i)._3 > 0) == expect, s"doc $i margin ${out(i)._3}")
    }
  }

  test("centroidClassifier: single-class train surfaces null predictions") {
    val docs = (0L until 20L).map(i => (i, "the of and to in common text"))
      .toDF("doc_id", "text")
    val out = TextOps.centroidClassifier(docs, "doc_id", "text",
      isTrain = col("doc_id") < 10, label = lit(true))
    // negative centroid is null → comparisons are null, not fabricated
    assert(out.filter(col("label_pred").isNull).count() == 20)
  }

  test("substringDedupSpans: docs shorter than k produce no rows") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.substringDedupSpans(docs, "doc_id", "text", k = 3)
    assert(out.count() == 0)
    graft.CacheRegistry.releaseAll()
  }

  test("removeDuplicatedSpans cuts exactly the spans, keeps clean docs verbatim") {
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c $shared x y z"),      // span [4,9] cut
      (2L, s"p q $shared r"),            // span [3,8] cut
      (3L, "clean doc stays exactly as written"),
      (4L, shared), (5L, shared))        // fully duplicated -> empty
      .toDF("doc_id", "text")
    val out = TextOps.removeDuplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.CacheRegistry.releaseAll()
    assert(out(1L) == ((12L, 6L, "a b c x y z")))
    assert(out(2L) == ((9L, 6L, "p q r")))
    assert(out(3L) == ((6L, 0L, "clean doc stays exactly as written")))
    // whole-doc duplicates: kept rows with empty text, not dropped
    assert(out(4L) == ((6L, 6L, "")) && out(5L) == ((6L, 6L, "")))
  }

  test("simhashNearDupPairs == brute-force Hamming <= bands-1 (pigeonhole)") {
    // near twins: one word changed; far docs: disjoint vocab
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),  // ~1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // ==1
      (4L, "uno dos tres cuatro cinco seis siete ocho"),
      (5L, "uno dos tres cuatro cinco seis siete nueve"))    // ~4
      .toDF("doc_id", "text")
    val got = TextOps.simhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    graft.CacheRegistry.releaseAll()
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 5
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute)
    assert(got.contains((1L, 3L, 0L)))          // exact twin at 0
    assert(got.exists(p => p._1 == 1L && p._2 == 2L)) // near twin found
    assert(!got.exists(p => p._1 <= 3L && p._2 >= 4L)) // families separate
  }

  test("ngramNovelty: first-owner ratio, repeats score zero, short docs null") {
    val docs = Seq(
      (1L, "a b c d e"),       // 3 distinct grams, all first-owned → 1.0
      (2L, "a b c d e"),       // exact repeat → 0.0
      (3L, "a b c x y z"),     // shares "a b c" (owned by 1), 3 novel of 4
      (4L, "t u")              // < k tokens → null
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((3L, 3L, Some(1.0))))
    assert(out(2L) == ((3L, 0L, Some(0.0))))
    assert(out(3L) == ((4L, 3L, Some(0.75))))
    assert(out(4L) == ((0L, 0L, None)))
  }

  test("chunkTokens: coverage, overlap, tail, and short-doc laws") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b"),                                    // <= overlap → 1 chunk
      (3L, "")                                        // "" token → 1 chunk
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val d1 = out.filter(_._1 == 1L)
    // starts 1,3,5,7 (up to n-overlap=8): windows of 4, tail full here
    assert(d1.map(c => (c._2, c._3, c._4)) ==
      Seq((1, 1, 4L), (2, 3, 4L), (3, 5, 4L), (4, 7, 4L)))
    assert(d1.head._5 == "t1 t2 t3 t4" && d1.last._5 == "t7 t8 t9 t10")
    // consecutive chunks share exactly `overlap` tokens
    assert(d1(0)._5.split(" ").takeRight(2).toSeq ==
      d1(1)._5.split(" ").take(2).toSeq)
    // every token position is covered
    assert(d1.flatMap(c => c._3 until (c._3 + c._4.toInt)).toSet ==
      (1 to 10).toSet)
    assert(out.filter(_._1 == 2L) == Seq((2L, 1, 1, 2L, "a b")))
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._4)) == Seq((1, 1L)))
    // a 9-token doc: start 7 window truncates to the true tail length
    val tail = TextOps.chunkTokens(
        Seq((9L, (1 to 9).map("x" + _).mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getInt(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(tail == Seq((1, 4L), (3, 4L), (5, 4L), (7, 3L)))
  }

  test("chunkTokens property sweep: coverage and reassembly at random shapes") {
    val rnd = new scala.util.Random(1234)
    val docs = (1L to 30L).map { i =>
      val n = rnd.nextInt(40) // 0..39 tokens
      (i, (1 to n).map(k => s"w${i}_$k").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((size, ov) <- Seq((4, 2), (7, 3), (5, 0), (3, 2))) {
      val out = TextOps.chunkTokens(df, "doc_id", "text", size, ov)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getString(4))).groupBy(_._1)
      for ((id, text) <- docs) {
        val toks = text.split(" ", -1).toSeq // "" → Seq("")
        val chunks = out(id).sortBy(_._2)
        // every chunk is the exact slice it claims to be
        chunks.foreach { case (_, _, start, chunk) =>
          assert(chunk == toks.slice(start - 1,
            math.min(start - 1 + size, toks.length)).mkString(" "))
        }
        // positions 1..n are covered with no gaps
        val covered = chunks.flatMap { case (_, _, start, chunk) =>
          start until (start + chunk.split(" ", -1).length)
        }.toSet
        assert(covered == (1 to toks.length).toSet,
          s"doc $id size=$size ov=$ov: coverage hole")
      }
    }
  }

  test("sourceDrift: drifted source scores highest; KL laws hold") {
    // srcA/srcB share the blend; srcC speaks different words entirely
    val docs = Seq(
      (1L, "the cat sat on the mat", "srcA"),
      (2L, "the dog sat on the rug", "srcA"),
      (3L, "the cat ran to the rug", "srcB"),
      (4L, "the dog ran to the mat", "srcB"),
      (5L, "zeta omega psi chi phi xi", "srcC"),
      (6L, "omega zeta xi phi chi psi", "srcC"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceDrift(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out.keySet == Set("srcA", "srcB", "srcC"))
    assert(out.values.forall(_._1 == 12L))
    // KL ≥ 0 always; the alien source dominates the two blended ones
    assert(out.values.forall(_._2 >= 0))
    assert(out("srcC")._2 > out("srcA")._2 && out("srcC")._2 > out("srcB")._2)
    // a source ≡ the corpus scores (near) the smoothing floor
    val uni = Seq((1L, "a b c", "s1"), (2L, "a b c", "s2"))
      .toDF("doc_id", "text", "source")
    val u = TextOps.sourceDrift(uni, "doc_id", "text", "source")
      .collect().map(_.getDouble(2))
    assert(u.forall(_ == 0.0)) // identical distributions → exactly 0 at round-6
    // topVocab truncation keeps only the head support
    val top = TextOps.sourceDrift(docs, "doc_id", "text", "source",
        topVocab = 1) // "the" only
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top("srcA") == 4L && top("srcB") == 4L)
    // a source with zero kept tokens has no distribution to score
    assert(!top.contains("srcC"))
  }

  test("urlCurate normalizes the tricky shapes and flags the blocklist") {
    val docs = Seq(
      (1L, "HTTPS://WWW.Example.COM/a/b/?q=1#frag"), // scheme+www+query+frag+slash
      (2L, "http://cdn.Example.com/x"),              // cdn kept, www-only strip
      (3L, "example.com"),                           // bare host, no scheme
      (4L, "ftp://files.sub.example.org/d///"),      // other scheme, slash run
      (5L, "https://bad.site/page"),                 // blocklisted domain
      (6L, "www.only-host.net")                      // www without scheme
    ).toDF("doc_id", "url")
    val out = TextOps.urlCurate(docs, "doc_id", "url", Seq("bad.site"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == (("example.com/a/b", "example.com", "example.com", false)))
    assert(out(2L) == (("cdn.example.com/x", "cdn.example.com", "example.com", false)))
    assert(out(3L) == (("example.com", "example.com", "example.com", false)))
    assert(out(4L) == (("files.sub.example.org/d", "files.sub.example.org",
      "example.org", false)))
    assert(out(5L) == (("bad.site/page", "bad.site", "bad.site", true)))
    assert(out(6L) == (("only-host.net", "only-host.net", "only-host.net", false)))
    // empty blocklist: nothing blocked
    assert(TextOps.urlCurate(docs, "doc_id", "url", Seq.empty)
      .filter(col("blocked")).count() == 0)
  }

  test("bpeTrain learns the hand-computed merge sequence; feeds apply side") {
    // words: "aaab" ×2, "ab" ×1
    //   iter1 pairs: (a,a)=4 (two per "aaab"), (a,b)=3   → merge (a,a)
    //   iter2: (aa,a)=2, (a,b)=3                          → merge (a,b)
    //   iter3: (aa,ab)=2                                  → merge (aa,ab)
    //   iter4: no pairs left                              → stop early
    val docs = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "doc_id", "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    graft.CacheRegistry.releaseAll()
    assert(merges == Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)))
    // the learned table drives the existing APPLY kernel: "aaab" merges
    // to one token; the second occurrence pre-tokenizes as " aaab"
    // (leading-space rule), whose space symbol stays unmerged → 2 tokens
    val learned = merges.map(m => (m._2, m._3))
    val counts = docs.select(col("doc_id"),
        TextOps.mergeBpeTokenCount(col("text"), learned).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 3L && counts(2L) == 1L)
  }

  test("bpeTrain merges token-adjacent repeats in one pass (banana case)") {
    // "banana" + merge (a,n): the correct Sennrich single-pass result is
    // [b,an,an,a] — a single-space sentinel replace would consume the
    // shared boundary space and leave [b,an,a,n,a], skewing iter-2 pair
    // counts. Corpus: "banana" ×3 so (a,n)=6 dominates iter 1. Iter 2
    // over the CORRECT [b,an,an,a]: pairs (b,an)/(an,an)/(an,a) all ×3,
    // lexicographic tie-break picks (an,a). Over the buggy [b,an,a,n,a]
    // the unmerged (a,n)=3 survives and wins the tie ("a" < "an") — so
    // the iter-2 argmax separates the two rules.
    val docs = Seq((1L, "banana banana banana")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "doc_id", "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    graft.CacheRegistry.releaseAll()
    assert(merges == Seq((1, "a", "n", 6L), (2, "an", "a", 3L)))
    // overlapping l==r runs also match the apply kernel: "aaaa" with
    // merge (a,a) → [aa,aa] (non-overlapping left-to-right), not [aa,a,a]
    val docs2 = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val m2 = TextOps.bpeTrain(docs2, "doc_id", "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    graft.CacheRegistry.releaseAll()
    // iter1: (a,a)=9 (three per word: positions 1-2,2-3,3-4 counted as
    // adjacent pairs → 3 each) → merge (a,a); words become [aa,aa]
    // iter2: (aa,aa)=3
    assert(m2 == Seq((1, "a", "a", 9L), (2, "aa", "aa", 3L)))
  }

  test("r17: bpeTrain driver fast path == forced distributed loop") {
    val docs = Seq((1L, "aaab aaab banana"), (2L, "ab banana the cat"),
      (3L, "banana band bandit")).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      graft.CacheRegistry.releaseAll()
      out
    }
    val local = norm(TextOps.bpeTrain(docs, "doc_id", "text", numMerges = 6))
    val dist = norm(TextOps.bpeTrain(docs, "doc_id", "text", numMerges = 6,
      maxLocalWords = 0))
    assert(local == dist)
  }

  test("bpeTrain tie-break is lexicographic on (lhs, rhs)") {
    // "xy" and "zw" both occur 3 times and share no symbols: first merge
    // must pick (x,y) < (z,w) lexicographically, second picks (z,w)
    val docs = Seq((1L, "xy zw xy zw"), (2L, "zw xy")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "doc_id", "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    graft.CacheRegistry.releaseAll()
    assert(merges == Seq((1, "x", "y", 3L), (2, "z", "w", 3L)))
  }

  test("gopherRules: every published rule trips on its planted violator") {
    val prose = ("the cat sat with all of that and they have been " +
      "going to the market for many fine days ") * 3   // passes everything
    val docs = Seq(
      (1L, prose),
      (2L, "short doc"),                               // word count < 50
      (3L, ("x " * 60).trim),                          // mean word len < 3
      (4L, prose + " " + ("### ##### " * 10).trim),    // symbol ratio > 0.1
      (5L, (1 to 10).map(i => s"- bullet $i").mkString("\n")), // bullets
      (6L, (1 to 10).map(i => s"line $i goes on...").mkString("\n")), // ellipses
      (7L, prose.split(" ").map(_ + " 123 42").mkString(" ")), // alpha < 0.8
      (8L, ("spark rows tables queries scans merge " * 12).trim) // no stops
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    graft.CacheRegistry.releaseAll()
    def rule(id: Long, name: String): Boolean =
      out(id).getAs[Boolean](name)
    assert(rule(1L, "pass_all"), s"prose doc failed: ${out(1L)}")
    assert(!rule(2L, "pass_word_count") && !rule(2L, "pass_all"))
    assert(!rule(3L, "pass_mean_word_len"))
    assert(!rule(4L, "pass_symbol_ratio") && rule(4L, "pass_word_count"))
    assert(!rule(5L, "pass_bullet_lines"))
    assert(!rule(6L, "pass_ellipsis_lines"))
    assert(!rule(7L, "pass_alpha_words"))
    assert(!rule(8L, "pass_stop_words") &&
      out(8L).getAs[Long]("n_stop_distinct") == 0L)
    // the prose doc's measured quantities are sane
    assert(out(1L).getAs[Long]("n_words") >= 50 &&
      out(1L).getAs[Double]("alpha_word_frac") == 1.0 &&
      out(1L).getAs[Long]("n_stop_distinct") >= 5L)
  }

  test("gopherRules: whitespace runs and case do not corrupt word rules") {
    // Double spaces after sentences, newline-separated words, and
    // capitalized stop words — all must tokenize as plain words.
    val body = ("alpha beta gamma delta epsilon zeta eta theta " * 7).trim
    val docs = Seq(
      (1L, s"The cat sat.  With that the dog ran.\nOf all days. $body"),
      (2L, "a  b")  // 2 real words, not 3 with an empty middle token
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    graft.CacheRegistry.releaseAll()
    // every token contains a letter; double spaces mint no empty words
    assert(out(1L).getAs[Double]("alpha_word_frac") == 1.0)
    assert(out(1L).getAs[Boolean]("pass_alpha_words"))
    // "The", "With", "that", "the", "Of" → distinct lowercased {the, with, that, of}
    assert(out(1L).getAs[Long]("n_stop_distinct") == 4L)
    assert(out(1L).getAs[Boolean]("pass_stop_words"))
    assert(out(2L).getAs[Long]("n_words") == 2L)
    assert(out(2L).getAs[Double]("mean_word_len") == 1.0)
  }

  test("sftTurnSpans: spans index the rendered conversation exactly") {
    val docs = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val rows = TextOps.sftTurnSpans(docs, "doc_id", "text",
        turnTokens = 2, maxTurns = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    // rendered doc 1: "<|user|>\na b\n<|assistant|>\nc\n"
    assert(rows == Seq(
      (1L, 0, "user", 9L, 12L, false),
      (1L, 1, "assistant", 27L, 28L, true),
      (2L, 0, "user", 9L, 10L, false)))
    // spans really index the rendered string
    val rendered = "<|user|>\na b\n<|assistant|>\nc\n"
    assert(rendered.substring(9, 12) == "a b" &&
      rendered.substring(27, 28) == "c")
    graft.CacheRegistry.releaseAll()
  }

  test("lshRecallAudit: counts found subset of truth; empty truth is null") {
    val near = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "the quick brown fox jumps over the lazy dog tonight ok"),
      (3L, "completely different words appear here without any overlap"))
      .toDF("doc_id", "text")
    val r = TextOps.lshRecallAudit(near, "doc_id", "text").collect().head
    assert(r.getLong(0) >= 1L && r.getLong(1) <= r.getLong(0),
      "found must be a subset of truth")
    assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0,
      "the near-dup pair shares most shingles: every band matches")
    // no qualifying pair at all → n_true 0, recall null (not a crash)
    val none = Seq((1L, "aa bb cc dd ee"), (2L, "vv ww xx yy zz"))
      .toDF("doc_id", "text")
    val r0 = TextOps.lshRecallAudit(none, "doc_id", "text").collect().head
    assert(r0.getLong(0) == 0L && r0.isNullAt(2))
    graft.CacheRegistry.releaseAll()
  }

  test("containmentPairs: catches the asymmetric pair Jaccard is blind to") {
    val small = "alpha beta gamma delta epsilon"        // 3 shingles
    val big = ("pad" + (1 to 12).map(i => s" filler$i").mkString) +
      s" $small " + (13 to 24).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big),
      (3L, "unrelated words entirely different content here"))
      .toDF("doc_id", "text")
    val pairs = TextOps.containmentPairs(docs, "doc_id", "text",
        minContainment = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // A ⊂ B: every shingle of A appears in B → cont_a = 1.0
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L))._1 == 1.0 && pairs((1L, 2L))._2 < 0.2)
    // the Jaccard gate at the same strictness misses it entirely
    val jac = TextOps.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5).collect()
    assert(jac.isEmpty, "jaccard should be blind to the contained pair")
    graft.CacheRegistry.releaseAll()
  }

  test("vocabStats: exact distinct/hapax law, approx twin within bound") {
    // s0: tokens a,b,a,c → distinct 3, tokens 4, hapax {b,c} → 2/3
    val docs = Seq((1L, "a b", "s0"), (2L, "a c", "s0"), (3L, "x x x", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.vocabStats(docs, "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("s0") == ((3L, 4L, 0.75, 0.666667)))
    assert(out("s1") == ((1L, 3L, 0.333333, 0.0)))
    // the documented at-scale swap stays within HLL++ error here
    val approx = docs.select(explode(split(col("text"), " ")).as("w"))
      .agg(approx_count_distinct(col("w")).as("d")).collect().head.getLong(0)
    assert(math.abs(approx - 4L) <= 1L)
    graft.CacheRegistry.releaseAll()
  }

  test("lengthQuantiles: exact interpolation, and the approx twin lands close") {
    // 1..8 tokens in one source: p50 of [1..8] = 4.5 (interpolated)
    val docs = (1 to 8).map(i => (i.toLong, ("w " * i).trim, "s0"))
      .toDF("doc_id", "text", "source")
    val r = TextOps.lengthQuantiles(docs, "text", "source")
      .collect().head
    assert(r.getAs[Long]("n_docs") == 8L)
    assert(r.getAs[Double]("p50") == 4.5)
    assert(r.getAs[Double]("p25") == 2.75 && r.getAs[Double]("p75") == 6.25)
    assert(r.getAs[Long]("max_tokens") == 8L)
    // the documented at-scale swap: approx_percentile on the same data
    // stays within its accuracy bound of the exact answer
    val ap = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(approx_percentile(col("n"), lit(0.5), lit(10000)).as("a"))
      .collect().head.getLong(0)
    assert(math.abs(ap - 4.5) <= 1.0)
    graft.CacheRegistry.releaseAll()
  }

  test("domainSuffixBlock: label boundaries, specificity, join == literal") {
    val hosts = Seq(
      (1L, "site7.com"),          // exact
      (2L, "cdn.site9.org"),      // parent-domain suffix
      (3L, "notsite7.com"),       // NOT a label-boundary match
      (4L, "cdn.site21.org"),     // two patterns match: specificity
      (5L, "a.b.site21.org"),     // deep subdomain, parent wins
      (6L, "clean.example")).toDF("doc", "host")
    val pats = Seq("site7.com", "site9.org", "cdn.site21.org", "site21.org")
    val joined = TextOps.domainSuffixBlock(hosts, "doc", "host",
        pats.toDF("pattern"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[String]("blocked_by"))).toMap
    assert(joined == Map(
      1L -> Some("site7.com"), 2L -> Some("site9.org"), 3L -> None,
      4L -> Some("cdn.site21.org"), 5L -> Some("site21.org"), 6L -> None))
    // the zero-shuffle literal twin applies the identical law
    val lit0 = hosts.select(col("doc"),
        TextOps.domainSuffixBlockCol(col("host"), pats).as("b"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("b"))).toMap
    assert(lit0 == joined)
    graft.CacheRegistry.releaseAll()
  }

  test("phraseSearch: positional index — overlaps, repeats, pruned buckets") {
    val docs = Seq(
      (1L, "a a a b a a"),
      (2L, "b a a c"),
      (3L, "x y z")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Queries.privateIndexBase),
      "postings_spec").toString
    TextOps.buildPostings(docs, "doc_id", "text", idx, buckets = 16)
    def search(ph: String*): Seq[(Long, Int)] =
      TextOps.phraseSearch(spark, idx, ph, buckets = 16)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
        .sortBy(identity).toSeq
    // overlapping occurrences all count (standard positional semantics)
    assert(search("a", "a") == Seq((1L, 0), (1L, 1), (1L, 4), (2L, 1)))
    // repeated-term phrase joins the same posting stream twice
    assert(search("a", "a", "a") == Seq((1L, 0)))
    // cross-token-boundary phrase + single-term lookup
    assert(search("b", "a") == Seq((1L, 3), (2L, 0)))
    assert(search("z") == Seq((3L, 2)))
    assert(search("a", "z").isEmpty)
    // serving reads ONLY the phrase terms' hash buckets: the foldable
    // tb predicate must reach the scan as a partition filter
    val plan = TextOps.phraseSearch(spark, idx, Seq("a", "b"), buckets = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      s"tb partition filter missing:\n$plan")
    graft.CacheRegistry.releaseAll()
  }

  test("frequentNgrams: exact heavy hitters, result independent of sketch params") {
    // "a b" ×5 (from three docs), "b c" ×4, "c d" ×1, "x y" ×2
    val docs = Seq(
      (1L, "a b c a b c d"),   // a b ×2, b c ×2, c a ×1, c d ×1
      (2L, "a b c"),           // a b, b c
      (3L, "a b"), (4L, "x y"), (5L, "x y"), (6L, "z"), (7L, "")
    ).toDF("doc_id", "text")
    def run(minCount: Long, depth: Int, width: Int) = {
      val r = TextOps.frequentNgrams(docs, "doc_id", "text", n = 2,
          minCount = minCount, depth = depth, width = width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.CacheRegistry.releaseAll()
      r
    }
    val want = Map("a b" -> 4L, "b c" -> 3L)  // minCount 3 cuts c a/c d/x y
    assert(run(3, 3, 2048) == want)
    // the sketch is a prefilter, never the answer: a width-1 sketch (all
    // grams share every bucket, estimate = corpus gram total) and a
    // depth-1 sketch must produce the IDENTICAL exact result
    assert(run(3, 1, 1) == want)
    assert(run(3, 1, 7) == want)
    // threshold 1 = every distinct gram, with exact counts
    assert(run(1, 3, 2048) == Map("a b" -> 4L, "b c" -> 3L, "c a" -> 1L,
      "c d" -> 1L, "x y" -> 2L))
    // trigrams: only "a b c" repeats (×2 inside doc 1, ×1 in doc 2)
    val tri = TextOps.frequentNgrams(docs, "doc_id", "text", n = 3,
        minCount = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.CacheRegistry.releaseAll()
    assert(tri == Map("a b c" -> 3L))
  }

  test("logregClassifier separates a planted split; frozen apply matches") {
    // positives: stopword-rich running text; negatives: stopword-free
    // jargon — f1 (stopword ratio) separates them linearly, so the GD
    // fit must recover the boundary from the 50% train split
    val docs = (0L until 40L).map { i =>
      val text =
        if (i % 2 == 0) s"the cat and the dog of the house in town v$i"
        else s"qwzx$i jargon${i}x cryptic blob${i}z stuff$i thing$i"
      (i, text)
    }.toDF("doc_id", "text")
    val label = col("doc_id") % 2 === 0
    val out = TextOps.logregClassifier(docs, "doc_id", "text",
        isTrain = col("doc_id") < 20, label = label)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getDouble(2), r.getBoolean(3)))).toMap
    graft.CacheRegistry.releaseAll()
    // every doc classified correctly, train and holdout alike
    assert(out.forall { case (id, (_, _, pred)) => pred == (id % 2 == 0) })
    assert(out.values.forall { case (_, s, _) => s >= 0.0 && s <= 1.0 })
    val m = TextOps.logregFit(docs, "doc_id", "text",
      isTrain = col("doc_id") < 20, label = label)
    graft.CacheRegistry.releaseAll()
    // determinism: same fit twice (quantized trajectory) == same weights
    val m2 = TextOps.logregFit(docs, "doc_id", "text",
      isTrain = col("doc_id") < 20, label = label)
    graft.CacheRegistry.releaseAll()
    assert(m.w.sameElements(m2.w) && m.mu.sameElements(m2.mu) &&
      m.sd.sameElements(m2.sd))
    // r17: the size-gated driver-side histogram loop and the distributed
    // weighted-aggregate fallback (maxHistRows = 0 forces it) walk the
    // same q6-quantized weight trajectory
    val m3 = TextOps.logregFit(docs, "doc_id", "text",
      isTrain = col("doc_id") < 20, label = label, maxHistRows = 0)
    graft.CacheRegistry.releaseAll()
    assert(m.w.sameElements(m3.w) && m.mu.sameElements(m3.mu) &&
      m.sd.sameElements(m3.sd))
  }

  test("lmScore == hand-computed add-one bigram NLL; short docs null") {
    // corpus: "a b" ×2 docs plus "a c"; vocab {a,b,c} → V=3
    // transitions: (a,b) ×2, (a,c) ×1 → c1(a)=3, c12(a,b)=2, c12(a,c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"),
      (5L, "")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    graft.CacheRegistry.releaseAll()
    // vocab includes "solo" and "" → V=5; p(b|a)=(2+1)/(3+5), p(c|a)=(1+1)/(3+5)
    val nllAb = BigDecimal(-math.log(3.0 / 8.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nllAc = BigDecimal(-math.log(2.0 / 8.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((1L, Some(nllAb))) && out(2L) == ((1L, Some(nllAb))))
    assert(out(3L) == ((1L, Some(nllAc))))
    // the frequent transition scores more fluent (lower NLL)
    assert(nllAb < nllAc)
    // < 2 tokens → nothing to score: null nll, zero transitions
    assert(out(4L) == ((0L, None)) && out(5L) == ((0L, None)))
  }

  test("ccnet buckets: closed form == ntile window, any source size; labels") {
    import org.apache.spark.sql.expressions.Window
    // per-source sizes 1..8 (exercises n < k, n = k, n mod k ∈ {0,1,2}),
    // texts varying in repetitiveness so nll genuinely orders; a 1-token
    // doc per even source for the unscored path
    val rng = new scala.util.Random(11)
    val vocab = Array("the", "cat", "sat", "mat", "dog", "ran", "far")
    var id = 0L
    val rows = (0 until 6).flatMap { s =>
      val n = s + 1 + (s % 3)
      val scoredDocs = (0 until n).map { _ =>
        id += 1
        (id, s"src$s",
          Array.fill(4 + rng.nextInt(6))(vocab(rng.nextInt(vocab.length)))
            .mkString(" "))
      }
      val un = if (s % 2 == 0) { id += 1; Seq((id, s"src$s", "solo")) }
               else Seq.empty
      scoredDocs ++ un
    }
    val docs = rows.toDF("doc_id", "source", "text")
    val got = TextOps.lmBuckets(docs, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(4)) None else Some(r.getLong(4))), r.getString(5)))
      .toMap
    graft.CacheRegistry.releaseAll()
    // reference: the SAME scores through Spark's own ntile window
    val scored = docs.select(col("doc_id").as("doc"), col("source"))
      .join(TextOps.lmScore(docs, "doc_id", "text"), Seq("doc"))
    val w = Window.partitionBy("source").orderBy(col("nll"), col("doc"))
    val ref = scored.filter(col("nll").isNotNull)
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("bucket"))
      .toMap
    graft.CacheRegistry.releaseAll()
    assert(got.size == rows.size && ref.nonEmpty)
    ref.foreach { case (doc, b) =>
      assert(got(doc)._1.contains(b),
        s"doc $doc: closed-form ${got(doc)._1} != ntile $b")
      val want = if (b == 1) "head" else if (b == 3) "tail" else "middle"
      assert(got(doc)._2 == want)
    }
    // unscored docs carry no bucket and the explicit label
    rows.filter(_._3 == "solo").foreach { case (d, _, _) =>
      assert(got(d) == ((None, "unscored")))
    }
  }

  test("dsirWeights: target-like docs score higher; flags and nulls right") {
    // target style: "the cat sat on the mat"-ish function-word bigrams;
    // raw-only style: code-ish tokens. The target gate is a planted flag.
    val tgt = (1L to 6L).map(i => (i, "the cat sat on the mat again"))
    val raw = (7L to 12L).map(i => (i, "x1 += fn(ptr, 0xFF) >> 3"))
    val docs = (tgt ++ raw ++ Seq((13L, "solo"))).toDF("doc_id", "text")
    val out = TextOps.dsirWeights(docs, "doc_id", "text",
        targetPred = col("doc_id") <= 6, buckets = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getBoolean(3)))).toMap
    graft.CacheRegistry.releaseAll()
    // every target doc outweighs every raw doc (disjoint feature buckets
    // ⇒ ln ratios strictly positive vs strictly negative)
    val tw = (1L to 6L).map(out(_)._2.get)
    val rw = (7L to 12L).map(out(_)._2.get)
    assert(tw.min > rw.max)
    assert(tw.forall(_ > 0) && rw.forall(_ < 0))
    // flags mirror the predicate; feature counts = transitions
    assert((1L to 6L).forall(out(_)._3) && (7L to 12L).forall(!out(_)._3))
    assert(out(1L)._1 == 6L && out(7L)._1 == 5L)
    // single-token doc: no features, null weight, flag still evaluated
    assert(out(13L) == ((0L, None, false)))
    // deterministic re-run
    val again = TextOps.dsirWeights(docs, "doc_id", "text",
        targetPred = col("doc_id") <= 6, buckets = 64)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    graft.CacheRegistry.releaseAll()
    assert(again == out.map { case (k, v) => (k, v._2) }.toSet)
  }

  test("cdcChunks: spans tile the doc; boundaries are content-defined") {
    val words = (0 until 200).map(i => s"w${i * 7 % 97}")
    val doc = words.mkString(" ")
    def chunksOf(id: Long, text: String) =
      TextOps.cdcChunks(Seq((id, text)).toDF("doc_id", "text"),
          "doc_id", "text", w = 4, divisor = 8)
        .orderBy("chunk_idx")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5)))
    val base = chunksOf(1L, doc)
    // spans tile [1, n] exactly: contiguous, non-overlapping, full cover
    assert(base.head._2 == 1L && base.last._3 == 200L)
    base.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 == a._3 + 1, s"gap/overlap between $a and $b")
    }
    base.foreach { case (_, s0, e0, nw, _) => assert(nw == e0 - s0 + 1) }
    // THE CDC property: inserting words at the FRONT shifts early
    // chunks but leaves every chunk after the first post-insertion
    // boundary byte-identical (a fixed-size blocker would shift all)
    val edited = chunksOf(2L, "zz yy " + doc)
    val baseTail = base.map(_._5).toSeq.tail
    val editTail = edited.map(_._5).toSeq
    assert(baseTail.nonEmpty && baseTail.forall(editTail.contains),
      "post-edit chunks lost the content-defined alignment")
    // an empty-token doc is ONE empty chunk (the tokens('') contract)
    val empty = chunksOf(3L, "")
    assert(empty.toSeq == Seq((1L, 1L, 1L, 1L,
      java.security.MessageDigest.getInstance("MD5").digest("".getBytes)
        .map("%02x".format(_)).mkString)))
    // bad arity fails at call time
    intercept[IllegalArgumentException] {
      TextOps.cdcChunks(Seq((1L, "a")).toDF("doc_id", "text"),
        "doc_id", "text", w = 4, divisor = 8, target = 8)
    }
  }
}
