package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextVectorOpsSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
    (3L, "completely different words appear here without overlap whatsoever"),
    (4L, "el la de que y words appear here"),
    (5L, "xx yy")) // < 3 tokens
    .toDF("doc_id", "text")

  test("shingles: empty for short docs, distinct 3-grams otherwise") {
    val sh = docs.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).length == 8)
    assert(sh(1L).contains("the quick brown"))
  }

  test("native shingle/minhash kernels are bit-equal to the declarative chain") {
    import graft.functions.TextHash
    import graft.operators.TextOps._
    // edge cases: consecutive spaces (empty tokens), leading/trailing
    // whitespace, exactly k tokens, duplicated shingles
    val tricky = docs.unionByName(Seq(
      (10L, "  a b  c d a b  c  "),
      (11L, "x y z"),
      (12L, "a b c a b c a b c"),
      // control chars: Spark trim() strips SPACES only — tokens keep the
      // embedded/trailing \t and \n, and the native kernel must too
      (13L, "\tp q r s\n"),
      (14L, " p q\tr s t\n u ")).toDF("doc_id", "text"))
    val declar = tricky
      .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("hv", transform(col("sh"), s => pmod(hash60(s), lit(HashMod))))
      .select(col("doc_id"), col("hv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = tricky
      .select(col("doc_id"),
        TextHash.shingle_hash60(col("text"), 3, HashMod).as("hv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == declar)
    // the declarative signature: for hash i, the min over shingles of
    // (a_i·h + b_i) mod M
    def minhashSignature(hashArr: org.apache.spark.sql.Column,
                         numHashes: Int): org.apache.spark.sql.Column =
      array((0 until numHashes).map(i =>
        array_min(transform(hashArr, h =>
          pmod(h * MinhashA(i) + MinhashB(i), lit(HashMod))))): _*)
    val hvDf = tricky.select(col("doc_id"),
      TextHash.shingle_hash60(col("text"), 3, HashMod).as("hv"))
      .filter(size(col("hv")) > 0)
    val sigD = hvDf.select(col("doc_id"),
        minhashSignature(col("hv"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigN = hvDf.select(col("doc_id"),
        TextHash.minhash_sig(col("hv"), MinhashA.take(16).toSeq,
          MinhashB.take(16).toSeq, HashMod).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigN == sigD)
  }

  test("native ngram_array kernel is bit-equal to the declarative chain") {
    import graft.functions.TextHash
    // the frequency-counting contract: ALL positions, duplicates kept,
    // order preserved (unlike shingle_hash60's distinct set); same
    // space-only trim / keep-empty split / single-space join
    val tricky = Seq(
      (0L, "a b c d"), (1L, ""), (2L, "only"),
      (3L, "  a b  c d a b  c  "),       // empty tokens from runs
      (4L, "a b c a b c a b c"),          // repeated grams must repeat
      (5L, "\tp q r s\n"),                // control chars survive trim
      (6L, " p q\tr s t\n u "),
      (7L, "é ü 文 字"),                   // non-ASCII round-trip
      (8L, "x y")).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val toks = split(trim(col("text")), " ")
      val declar = tricky.select(col("doc_id"),
          when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - (n - 1)), i =>
              concat_ws(" ", slice(toks, i, lit(n)))))
            .otherwise(array().cast("array<string>")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val native = tricky.select(col("doc_id"),
          TextHash.ngram_array(col("text"), n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == declar, s"n=$n kernel diverged from declarative")
    }
    // 400 random strings over a space-heavy alphabet, same law
    val rnd = new scala.util.Random(7)
    val alpha = "ab  c"
    val fuzz = Seq.tabulate(400)(i => (i.toLong,
      (0 until rnd.nextInt(12)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString))
      .toDF("doc_id", "text")
    val toks = split(trim(col("text")), " ")
    val d = fuzz.select(col("doc_id"),
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1), i =>
            concat_ws(" ", slice(toks, i, lit(2)))))
          .otherwise(array().cast("array<string>")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val nv = fuzz.select(col("doc_id"),
        TextHash.ngram_array(col("text"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(nv == d, "fuzz: kernel diverged from declarative")
  }

  test("native gram_hash60_array kernel is bit-equal to the declarative chain") {
    import graft.functions.TextHash
    import graft.operators.TextOps
    val tricky = Seq(
      (0L, "a b c d e"), (1L, ""), (2L, "only two"),
      (3L, "  a b  c d a b  c  "),
      (4L, "a b c a b c a b c"),           // duplicate grams kept, in order
      (5L, "\tp q r s\n"), (6L, "é ü 文 字 x")).toDF("doc_id", "text")
    val rnd = new scala.util.Random(13)
    val alpha = "ab  c"
    val fuzz = Seq.tabulate(300)(i => (100L + i,
      (0 until rnd.nextInt(14)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 3, 4); df <- Seq(tricky, fuzz)) {
      val toks = split(trim(col("text")), " ")
      val declar = df.select(col("doc_id"),
          when(size(toks) >= k,
            transform(sequence(lit(1), size(toks) - (k - 1)), i =>
              TextOps.hash60(concat_ws(" ", slice(toks, i, lit(k))))))
            .otherwise(array().cast("array<long>")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = df.select(col("doc_id"),
          TextHash.gram_hash60_array(col("text"), k).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == declar, s"k=$k kernel diverged from declarative")
    }
    intercept[IllegalArgumentException] {
      TextHash.gram_hash60_array(col("text"), 0)
    }
  }

  test("ngram/gram kernels: NULL text yields an EMPTY array (declarative parity)") {
    import graft.functions.TextHash
    import graft.operators.TextOps
    // ADVICE r12: the declarative chains fall through when(size(split(
    // null))…) to otherwise(array()) — the kernels must match, not null
    val df = Seq((0L, Some("a b c")), (1L, None))
      .toDF("doc_id", "text")
    val toks = split(trim(col("text")), " ")
    for (k <- Seq(1, 2)) {
      val declar = df.select(col("doc_id"),
          when(size(toks) >= k,
            transform(sequence(lit(1), size(toks) - (k - 1)), i =>
              TextOps.hash60(concat_ws(" ", slice(toks, i, lit(k))))))
            .otherwise(array().cast("array<long>")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = df.select(col("doc_id"),
          TextHash.gram_hash60_array(col("text"), k).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == declar, s"k=$k null-text parity broken")
      assert(native(1L).isEmpty, "null text must give an EMPTY gram array")
    }
    val ng = df.select(col("doc_id"), TextHash.ngram_array(col("text"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ng(1L).isEmpty && ng(0L) == Seq("a b", "b c"),
      "null text must give an EMPTY ngram array")
  }

  test("ngram_array: n < 1 fails at construction with a clear message") {
    import graft.functions.TextHash
    val e = intercept[IllegalArgumentException] {
      TextHash.ngram_array(col("text"), 0)
    }
    assert(e.getMessage.contains("n >= 1"),
      "misuse must fail at plan time, not as an opaque task error")
    intercept[IllegalArgumentException] { TextHash.ngram_array(col("text"), -3) }
  }

  test("minhash LSH flags the near-duplicate pair and not the distinct one") {
    val pairs = TextOps.minhashLshPairs(docs, "doc_id", "text",
      minEstJaccard = 0.3).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L)))
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L })
    val est = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .get.getDouble(2)
    assert(est > 0.5) // 8/9 true jaccard; minhash estimate should be high
  }

  test("ngram jaccard exact value for the constructed pair") {
    val pairs = TextOps.ngramJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc1/doc2: 10 tokens → 8 shingles each; only the final shingle holds
    // the differing last token → |A∩B| = 7, union = 8+8−7 = 9
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-12)
  }

  test("gated ngram jaccard: subset of exact with identical values, finds the near-dup") {
    val exact = TextOps.ngramJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gated = TextOps.ngramJaccardPairsGated(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision is exact: every gated pair appears in the exact result with
    // the same Jaccard (verification stage recomputes the true value)
    gated.foreach { case (k, v) => assert(math.abs(exact(k) - v) < 1e-12) }
    assert(gated.contains((1L, 2L))) // the planted near-dup survives the gate
  }

  test("nearDupPairsLsh: subset of brute with identical sims, multi-probe recall") {
    val rng = new scala.util.Random(17)
    val vecs = Seq.tabulate(80)(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val brute = VectorOps.nearDupPairs(vecs, "vec_id", "embedding", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gated = VectorOps.nearDupPairsLsh(vecs, "vec_id", "embedding",
        col("vec_id") < 16, bands = 4, rowsPerBand = 4, 0.5, multiProbe = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(brute.nonEmpty)
    gated.foreach { case (k, v) => assert(math.abs(brute(k) - v) < 1e-12) }
    val single = VectorOps.nearDupPairsLsh(vecs, "vec_id", "embedding",
        col("vec_id") < 16, bands = 4, rowsPerBand = 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // multi-probe candidates strictly contain the single-probe ones
    assert(single.subsetOf(gated.keySet))
    val recall = gated.size.toDouble / brute.size
    assert(recall >= 0.5, s"multi-probe recall $recall over ${brute.size} pairs")
  }

  test("band-bucket cap defuses a boilerplate-dominated corpus (skew lever)") {
    // 200 docs share one boilerplate body (one hot band bucket of 200 →
    // ~20k candidate pairs); 4 distinct docs include one planted near-dup
    // pair. The RANK cap keeps each hot bucket's 50 smallest ids pairing
    // (bounded cap² work, canonical keepers retained — a whole-bucket drop
    // would lose every mass-duplicate pair) while the planted pair, whose
    // bands are untouched by the cap, survives.
    val boiler = (0 until 200).map(i =>
      (i.toLong, "the quarterly report header is identical across documents every single time"))
    val distinct = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (901L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 900
      (902L, "completely different content lives here with no overlap at all"),
      (903L, "yet another unrelated document body goes right here today"))
    val docs = (boiler ++ distinct).toDF("doc_id", "text")
    val uncapped = TextOps.minhashLshPairs(docs, "doc_id", "text",
      minEstJaccard = 0.0, maxBandBucket = None)
    val capped = TextOps.minhashLshPairs(docs, "doc_id", "text",
      minEstJaccard = 0.0, maxBandBucket = Some(50))
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count() >= 199L * 200 / 2) // quadratic without the cap
    assert(cappedPairs.contains((900L, 901L))) // planted pair survives
    val boilerPairs = cappedPairs.filter { case (a, b) => a < 200 && b < 200 }
    assert(boilerPairs.size == 50 * 49 / 2, // exactly the 50 smallest ids pair
      s"got ${boilerPairs.size} boilerplate pairs")
    assert(boilerPairs.forall { case (a, b) => a < 50 && b < 50 })
    // gated exact-Jaccard path honors the same cap
    val gated = TextOps.ngramJaccardPairsGated(docs, "doc_id", "text",
      maxBandBucket = Some(50)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated.contains((900L, 901L)))
    assert(gated.filter { case (a, b) => a < 200 && b < 200 }
      .forall { case (a, b) => a < 50 && b < 50 })
  }

  test("annTopK multi-probe recall dominates single-probe (recall lever)") {
    val rng = new scala.util.Random(23)
    val vecs = Seq.tabulate(120)(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val anchors = vecs.filter(col("vec_id") < 5)
    def hits(multiProbe: Boolean): Set[(Long, Long)] =
      VectorOps.annTopK(vecs, "vec_id", "embedding", anchors,
        col("v_id") < 10, k = 3, multiProbe = multiProbe)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val single = hits(multiProbe = false)
    val multi = hits(multiProbe = true)
    val brute = VectorOps.bruteTopK(vecs.filter(col("vec_id") < 10), vecs,
      "vec_id", "embedding", 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    def recall(s: Set[(Long, Long)]) = (brute intersect s).size.toDouble / brute.size
    assert(recall(multi) >= recall(single))
    assert(recall(multi) > 0.4, s"multi-probe recall ${recall(multi)}")
    // multi-probe only widens the candidate set per query
    assert(single.subsetOf(multi) || recall(multi) > recall(single))
  }

  test("PQ: codes well-formed, encode deterministic, top-k recall vs brute") {
    // 64-dim corpus clustered around 6 planted centers — the regime PQ
    // serves (structure each subspace can quantize)
    val rng = new scala.util.Random(31)
    val centers = Array.fill(6)(Array.fill(64)(rng.nextGaussian()))
    val vecs = Seq.tabulate(150) { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.3 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val sample = VectorOps.normalized(vecs, "vec_id", "embedding")
      .orderBy("vec_id").limit(10000).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    val books = VectorOps.pqTrain(sample, m = 8, k = 16)
    assert(books.length == 8 && books.forall(_.length == 16)
      && books.forall(_.forall(_.length == 8)))
    val enc1 = VectorOps.pqEncode(vecs, "vec_id", "embedding", books)
      .collect().map(r => r.getAs[Long]("v_id") ->
        r.getSeq[Int](r.fieldIndex("codes"))).toMap
    val enc2 = VectorOps.pqEncode(vecs, "vec_id", "embedding", books)
      .collect().map(r => r.getAs[Long]("v_id") ->
        r.getSeq[Int](r.fieldIndex("codes"))).toMap
    assert(enc1 == enc2)
    assert(enc1.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 1 && c <= 16)))
    val pq = VectorOps.pqTopK(vecs, "vec_id", "embedding",
        col("v_id") < 10, k = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    graft.CacheRegistry.releaseAll()
    val brute = VectorOps.bruteTopK(vecs.filter(col("vec_id") < 10), vecs,
        "vec_id", "embedding", 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall $recall over ${brute.size} pairs")
  }

  test("ivfPqTopK: residual-PQ recall vs brute, deterministic") {
    val rng = new scala.util.Random(47)
    // clustered 64-dim corpus: coarse cells absorb the cluster structure,
    // the residual codebooks only have to quantize the in-cluster noise
    val centers = Array.fill(5)(Array.fill(64)(rng.nextGaussian()))
    val vecs = Seq.tabulate(150) { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.25 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qp = col("v_id") < 10
    val run1 = VectorOps.ivfPqTopK(vecs, "vec_id", "embedding", qp,
        k = 3, nCells = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    graft.CacheRegistry.releaseAll()
    val brute = VectorOps.bruteTopK(vecs.filter(col("vec_id") < 10), vecs,
        "vec_id", "embedding", 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(run1.nonEmpty)
    val recall = (brute intersect run1).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall over ${brute.size} pairs")
    val run2 = VectorOps.ivfPqTopK(vecs, "vec_id", "embedding", qp,
        k = 3, nCells = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    graft.CacheRegistry.releaseAll()
    assert(run1 == run2)
  }

  test("array_dot / array_sq_dist: null on length mismatch, never truncation") {
    import graft.functions.ArrayDot
    val rows = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),   // well-formed
      (2L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)),        // malformed right
      (3L, Seq(1.0), Seq(4.0, 5.0, 6.0)))             // malformed left
      .toDF("id", "a", "b")
    val out = rows.select(col("id"),
        ArrayDot.array_dot(col("a"), col("b")).as("dot"),
        ArrayDot.array_sq_dist(col("a"), col("b")).as("sq"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(32.0), Some(27.0)))
    // a malformed embedding row surfaces as null — a min-length truncation
    // would yield a plausible-but-wrong 14.0 / 18.0 here
    assert(out(2L) == (None, None))
    assert(out(3L) == (None, None))
    // interpreted path agrees with codegen: eval directly on literals
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def arrLit(xs: Seq[Double]) = Literal(
      CatalystTypeConverters.convertToCatalyst(xs), ArrayType(DoubleType))
    val e = graft.functions.ArrayDotProduct(arrLit(Seq(1.0, 2.0)), arrLit(Seq(3.0)))
    assert(e.eval(null) == null)
    val ok = graft.functions.ArrayDotProduct(
      arrLit(Seq(1.0, 2.0)), arrLit(Seq(3.0, 4.0)))
    assert(ok.eval(null) == 11.0)
  }

  test("operator caches release after materialization (no storage leak)") {
    import graft.CacheRegistry
    CacheRegistry.releaseAll() // clean slate
    val before = spark.sparkContext.getPersistentRDDs.size
    // three cache-carrying operators, materialized end to end
    val pairs = TextOps.ngramJaccardPairsGated(docs, "doc_id", "text").count()
    val rng = new scala.util.Random(5)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    VectorOps.nearDupPairsLsh(vecs, "vec_id", "embedding",
      col("vec_id") < 16, bands = 4, rowsPerBand = 4, 0.5).count()
    assert(CacheRegistry.trackedCount > 0, "operators stopped tracking caches")
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "expected live caches before release")
    CacheRegistry.releaseAll()
    assert(CacheRegistry.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"storage not empty after release: ${spark.sparkContext.getPersistentRDDs}")
    // results survive release (lineage recompute, not failure)
    assert(TextOps.ngramJaccardPairsGated(docs, "doc_id", "text").count() == pairs)
    CacheRegistry.releaseAll()
  }

  test("simhash: identical texts get identical hashes, disjoint texts differ") {
    val d2 = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "zz yy xx ww"))
      .toDF("doc_id", "text")
    val hs = TextOps.simhash(d2, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  test("fingerprint: null under 4 tokens, stable otherwise") {
    val fp = TextOps.fingerprintDf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(fp(5L).isEmpty)
    assert(fp(1L).nonEmpty)
    // identical text → identical fingerprint
    val fp2 = TextOps.fingerprintDf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(fp == fp2)
  }

  test("langId votes spanish for marker-heavy doc") {
    val out = TextOps.langId(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[String]("lang_pred")).toMap
    assert(out(4L) == "es")
    assert(out(1L) == "en")
  }

  test("cosine + bruteTopK find the planted nearest neighbor") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val out = VectorOps.bruteTopK(vecs.filter(col("vec_id") === 0), vecs,
      "vec_id", "embedding", 2).orderBy("rank").collect()
    assert(out(0).getAs[Long]("n_id") == 1L)
    assert(math.abs(out(0).getAs[Double]("sim") -
      0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
    assert(out(1).getAs[Long]("n_id") == 2L)
  }

  test("annTopK returns bucket-local results consistent with brute force") {
    val rng = new scala.util.Random(9)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ann = VectorOps.annTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 3), col("v_id") < 5, 3).collect()
    assert(ann.nonEmpty)
    // every ANN neighbor must share the query's bucket → sim computable and
    // rank ordering must be strictly decreasing per query
    ann.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sortBy(-_)))
    }
  }

  test("cellRanks: sorted-struct ranking == brute (d, cid) order, cid ties") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val cents = Array.fill(6)(Array.fill(4)(rng.nextGaussian()))
    // exact distance tie for EVERY vector: centroid 3 duplicates centroid
    // 1, so rank order between them must fall back to the lower cid —
    // the property the hash-parity oracles (ORDER BY d, cid) rely on
    cents(3) = cents(1).clone()
    val rows = (0 until 50).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian()))).toDF("vec_id", "vn")
    val got = rows
      .withColumn("cells", VectorOps.cellRanks(col("vn"), cents))
      .select("vn", "cells").collect()
    got.foreach { r =>
      val vn = r.getAs[scala.collection.Seq[Double]]("vn").toArray
      // brute reference: sequential left-to-right sum (= ArraySqDist
      // fold order), sort by (d, cid)
      val expect = cents.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < vn.length) { val t = vn(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(identity).toSeq
      val ranked = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cells")
        .map(s => (s.getDouble(0), s.getInt(1)))
      assert(ranked == expect)
      // the planted tie is adjacent and ordered cid 1 before cid 3
      val pos1 = ranked.indexWhere(_._2 == 1)
      assert(ranked(pos1 + 1)._2 == 3)
    }
  }

  test("ivfTopK: high recall vs brute force on clustered vectors") {
    val rng = new scala.util.Random(31)
    // 4 planted clusters of 30 vectors each
    val centers = Array.fill(4)(Array.fill(8)(rng.nextGaussian() * 2))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val qp = col("v_id") < 8
    val brute = VectorOps.bruteTopK(vecs.filter(col("vec_id") < 8), vecs,
      "vec_id", "embedding", 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = VectorOps.ivfTopK(vecs, "vec_id", "embedding", qp,
      k = 3, nCells = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(ivf.nonEmpty)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.8, s"recall $recall")
    // deterministic across runs
    val ivf2 = VectorOps.ivfTopK(vecs, "vec_id", "embedding", qp,
      k = 3, nCells = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(ivf == ivf2)
  }

  test("clusterMixture: hot semantic cells down-sample at sqrt(cmin/c)") {
    val rng = new scala.util.Random(31)
    // 4 tight clusters with sizes 4 / 4 / 40 / 4: the hot cluster must
    // keep ≈ sqrt(4/40) of its members, the small ones keep everything
    val centers = Array.fill(4)(Array.fill(8)(rng.nextGaussian() * 3))
    val sizes = Seq(4, 4, 40, 4)
    var id = -1L
    val vecs = sizes.zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map { _ =>
        id += 1
        (id, centers(c).map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)
      }
    }.toDF("vec_id", "embedding")
    val out = VectorOps.clusterMixture(vecs, "vec_id", "embedding",
      nCells = 4, salt = "t1").collect()
      .map(r => (r.getAs[Long]("v_id"), r.getAs[Int]("cid"),
        r.getAs[Double]("rate")))
    graft.CacheRegistry.releaseAll()
    val byCell = out.groupBy(_._2)
    // every cell's rate is sqrt(cmin / count); the small cells keep all
    val rates = byCell.view.mapValues(_.head._3).toMap
    assert(rates.values.toSet.contains(1.0), "no cell kept whole")
    val hot = rates.minBy(_._2)
    assert(math.abs(hot._2 - math.sqrt(4.0 / 40.0)) < 1e-12,
      s"hot-cell rate ${hot._2} != sqrt(0.1)")
    // the hot cluster genuinely thinned; small clusters survived whole
    assert(byCell(hot._1).length < 40)
    assert(byCell.filter(_._1 != hot._1).values.map(_.length).sum == 12)
    // deterministic: same salt, same rows
    val again = VectorOps.clusterMixture(vecs, "vec_id", "embedding",
      nCells = 4, salt = "t1").collect().length
    graft.CacheRegistry.releaseAll()
    assert(again == out.length)
  }

  test("semDedup: lower-id rule per cell, chains keep one representative") {
    val rng = new scala.util.Random(47)
    // 20 scattered vectors FIRST (they seed the k-means init), then 3
    // planted near-dup groups (cos ≈ 1 within group)
    val rest = (0 until 20).map(i =>
      (i.toLong, Array.fill(8)((rng.nextGaussian() * 2).toFloat)))
    val groups = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 2))
    val dups = (0 until 9).map { i =>
      val g = groups(i / 3)
      ((20 + i).toLong, g.map(x => (x + rng.nextGaussian() * 1e-3).toFloat))
    }
    val vecs = (rest ++ dups).toDF("vec_id", "embedding")
    val out = VectorOps.semDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, nCells = 8).collect()
    assert(out.length == 29) // every vector classified exactly once
    val byId = out.map(r => r.getAs[Long]("v_id") ->
      (r.getAs[Int]("cid"), r.getAs[Boolean]("is_kept"))).toMap
    // each near-dup group collapses to its minimum id (same cell by
    // construction: cos ≈ 1 → same nearest centroid)
    for (g <- 0 until 3) {
      val ids = (20 + g * 3) until (20 + g * 3 + 3)
      assert(ids.map(i => byId(i)._1).distinct.size == 1, s"group $g split")
      assert(byId(ids.head)._2, s"group $g representative dropped")
      assert(ids.tail.forall(i => !byId(i)._2), s"group $g dup kept")
    }
    // independent replay: kept == greedy lower-id filtering of the
    // intra-cell near-dup pair graph
    val cells = out.map(r => r.getAs[Long]("v_id") -> r.getAs[Int]("cid")).toMap
    val pairs = VectorOps.nearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) => cells(a) == cells(b) }
    val expectDropped = pairs.map(_._2).toSet // a < b always ⇒ b has a lower-id dup
    out.foreach { r =>
      val id = r.getAs[Long]("v_id")
      assert(r.getAs[Boolean]("is_kept") == !expectDropped(id), s"id $id")
    }
  }

  test("hierKmeans + semDedupHier: two-level cells, same keep-first law") {
    val rng = new scala.util.Random(53)
    val rest = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)((rng.nextGaussian() * 2).toFloat)))
    val groups = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 2))
    val dups = (0 until 9).map { i =>
      val g = groups(i / 3)
      ((40 + i).toLong, g.map(x => (x + rng.nextGaussian() * 1e-3).toFloat))
    }
    val vecs = (rest ++ dups).toDF("vec_id", "embedding")
    val out = VectorOps.semDedupHier(vecs, "vec_id", "embedding",
      threshold = 0.95, k1 = 4, k2 = 4).collect()
    assert(out.length == 49)
    val byId = out.map(r => r.getAs[Long]("v_id") ->
      (r.getAs[Int]("cid"), r.getAs[Boolean]("is_kept"))).toMap
    // near-identical vectors land in the same two-level cell; each group
    // keeps exactly its minimum id
    for (g <- 0 until 3) {
      val ids = (40 + g * 3) until (40 + g * 3 + 3)
      assert(ids.map(i => byId(i)._1).distinct.size == 1, s"group $g split")
      assert(byId(ids.head)._2 && ids.tail.forall(i => !byId(i)._2))
    }
    // deterministic across runs
    val out2 = VectorOps.semDedupHier(vecs, "vec_id", "embedding",
      threshold = 0.95, k1 = 4, k2 = 4).collect()
    assert(out.map(_.toSeq).toSet == out2.map(_.toSeq).toSet)
    // every (scid, ccid) honors the stride numbering: cid / stride < k1
    val model = VectorOps.hierKmeans(
      vecs.orderBy("vec_id").collect().map(
        _.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray).map { v =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }, 4, 4)
    assert(model.nCells <= 16 && model.stride <= 4)
    out.foreach(r => assert(r.getAs[Int]("cid") / model.stride < 4))
  }

  test("ivfPqHierTopK: k1=1 collapses to the flat ivfPqTopK bit-for-bit") {
    val rng = new scala.util.Random(61)
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian() * 2))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val qp = col("v_id") < 6
    val flat = VectorOps.ivfPqTopK(vecs, "vec_id", "embedding", qp,
      k = 3, nCells = 8, nprobe = 4, m = 8, codebookK = 8).collect()
      .map(_.toSeq).toSet
    val hier = VectorOps.ivfPqHierTopK(vecs, "vec_id", "embedding", qp,
      k = 3, k1 = 1, k2 = 8, probeSupers = 1, nprobe = 4, m = 8,
      codebookK = 8).collect().map(_.toSeq).toSet
    assert(flat == hier,
      "single-super hier IVF-PQ must equal the flat path exactly")
  }

  test("ivfPqHierTopK: two-level probe keeps recall on clustered vectors") {
    val rng = new scala.util.Random(67)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 2))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val qp = col("v_id") < 8
    val brute = VectorOps.bruteTopK(vecs.filter(col("vec_id") < 8), vecs,
      "vec_id", "embedding", 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val hier = VectorOps.ivfPqHierTopK(vecs, "vec_id", "embedding", qp,
      k = 3, k1 = 4, k2 = 4, probeSupers = 2, nprobe = 6,
      rerank = 16).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(hier.nonEmpty)
    val recall = (brute intersect hier).size.toDouble / brute.size
    assert(recall > 0.7, s"recall $recall")
    // deterministic across runs
    val hier2 = VectorOps.ivfPqHierTopK(vecs, "vec_id", "embedding", qp,
      k = 3, k1 = 4, k2 = 4, probeSupers = 2, nprobe = 6,
      rerank = 16).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(hier == hier2)
  }

  test("opqTrain: orthogonal rotation, lower MSE on cross-subspace structure") {
    // plant correlation STRADDLING the contiguous subspace split: dim j
    // and dim j+8 nearly equal, so plain PQ's independent subspace
    // codebooks re-code shared structure the learned rotation removes
    val rng = new scala.util.Random(71)
    val sample = Array.fill(400) {
      val base = Array.fill(8)(rng.nextGaussian())
      val x = new Array[Double](16)
      for (j <- 0 until 8) {
        x(j) = base(j)
        x(j + 8) = base(j) + 0.05 * rng.nextGaussian()
      }
      val n = math.sqrt(x.map(v => v * v).sum)
      x.map(_ / n)
    }
    val (rot, books) = VectorOps.opqTrain(sample, m = 2, k = 8, altIters = 8)
    // orthogonality: RᵀR = I
    val dim = 16
    for (i <- 0 until dim; j <- 0 until dim) {
      val e = (0 until dim).map(t => rot(t)(i) * rot(t)(j)).sum
      assert(math.abs(e - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"R not orthogonal at ($i,$j): $e")
    }
    val eye = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val pqBooks = VectorOps.pqTrain(sample, 2, 8)
    val msePq = VectorOps.pqMse(sample, eye, pqBooks)
    val mseOpq = VectorOps.pqMse(sample, rot, books)
    assert(mseOpq < msePq * 0.9,
      s"OPQ MSE $mseOpq not clearly below plain PQ $msePq")
    // deterministic refit
    val (rot2, _) = VectorOps.opqTrain(sample, m = 2, k = 8, altIters = 8)
    assert(rot.zip(rot2).forall { case (a, b) => a.sameElements(b) })
  }

  test("semDedup hot-cell cap: bounded pairs, documented recall miss") {
    // one cell (nCells=1). A=e0, B=e1 (orthogonal to A), C≈B with a
    // higher id. Exact: C is dropped (dup of B). cap=1: C only compares
    // against the cell's single lowest-id member A → survives — the
    // documented recall tradeoff; representatives are never affected.
    val a = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    val b = Array.tabulate(8)(i => if (i == 1) 1f else 0f)
    val c = b.clone(); c(2) = 0.01f
    val vecs = Seq((1L, a), (2L, b), (3L, c)).toDF("vec_id", "embedding")
    def kept(cap: Option[Int]): Map[Long, Boolean] =
      VectorOps.semDedup(vecs, "vec_id", "embedding", threshold = 0.9,
        nCells = 1, maxCellCompare = cap).collect()
        .map(r => r.getAs[Long]("v_id") -> r.getAs[Boolean]("is_kept")).toMap
    assert(kept(None) == Map(1L -> true, 2L -> true, 3L -> false))
    assert(kept(Some(1)) == Map(1L -> true, 2L -> true, 3L -> true))
    assert(kept(Some(2)) == Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("pcaFit: planted orthogonal axes recovered exactly, sign fixed") {
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      graft.Queries.pcaPlanted(col("id")).as("pv"))
    val m = VectorOps.pcaFit(vecs, "pv", k = 3)
    assert(m.eigenvalues.toSeq == Seq(16.0, 4.0, 1.0))
    // components are exactly the planted axes, largest entry positive
    def axis(comp: Array[Double]): Int = comp.indexWhere(_ != 0.0)
    assert(m.components.map(axis).toSeq == Seq(5, 17, 33))
    assert(m.components.forall(c => c(axis(c)) == 1.0 &&
      c.count(_ != 0.0) == 1))
    // constant axes' means survive into the model
    assert(m.mean(6) == 0.0 && m.mean(7) == 0.25 && m.mean(8) == 0.5)
    assert(m.mean(5) == 0.0 && m.mean(17) == 0.0)
  }

  test("pcaApply: rank-2 off-axis data — projection preserves geometry") {
    // data lies exactly in span{u, w} with u ⊥ w, both OFF-axis: the
    // k=2 projection must preserve every pairwise squared distance
    // (rotation invariance) — exercises a real eigendecomposition, not
    // coordinate selection
    val u = Array.tabulate(8)(i => if (i < 4) 0.5 else 0.0)
    val w = Array.tabulate(8)(i => if (i >= 4) 0.5 else 0.0)
    val coefs = Seq((0.0, 1.0), (1.0, 3.0), (2.0, -1.0), (-3.0, 0.5),
      (4.0, 2.0), (-1.0, -2.0))
    val rows = coefs.zipWithIndex.map { case ((a, b), i) =>
      (i.toLong, Array.tabulate(8)(j => a * u(j) + b * w(j)).toSeq) }
    val df = rows.toDF("vec_id", "pv")
    val m = VectorOps.pcaFit(df, "pv", k = 2)
    val proj = VectorOps.pcaApply(df, "pv", m)
      .select("vec_id", "p1", "p2").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def d2(x: (Double, Double), y: (Double, Double)): Double =
      (x._1 - y._1) * (x._1 - y._1) + (x._2 - y._2) * (x._2 - y._2)
    for (i <- rows.indices; j <- (i + 1) until rows.size) {
      val ((ai, bi), (aj, bj)) = (coefs(i), coefs(j))
      val want = ((ai - aj) * (ai - aj) + (bi - bj) * (bi - bj)) * 0.5 * 0.5 * 4
      assert(math.abs(d2(proj(i.toLong), proj(j.toLong)) - want) < 1e-9,
        s"pair ($i,$j): got ${d2(proj(i.toLong), proj(j.toLong))}, want $want")
    }
    // projected variance matches the model's eigenvalues
    val n = rows.size
    def varOf(xs: Seq[Double]): Double = {
      val mu = xs.sum / n; xs.map(x => (x - mu) * (x - mu)).sum / n
    }
    val (p1s, p2s) = (proj.values.map(_._1).toSeq, proj.values.map(_._2).toSeq)
    assert(math.abs(varOf(p1s) - m.eigenvalues(0)) < 1e-9)
    assert(math.abs(varOf(p2s) - m.eigenvalues(1)) < 1e-9)
  }

  test("pcaApply: an input frame's own _vd column survives the staging") {
    val rows = (0 until 8).map(i =>
      (i.toLong, Seq.tabulate(4)(j => (i * (j + 1)).toDouble), s"keep$i"))
    val df = rows.toDF("vec_id", "pv", "_vd")
    val m = VectorOps.pcaFit(df, "pv", k = 1)
    val out = VectorOps.pcaApply(df, "pv", m)
    assert(out.columns.contains("_vd"), "caller's _vd column was dropped")
    val got = out.select("vec_id", "_vd").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == rows.map(r => r._1 -> r._3).toMap,
      "caller's _vd values were overwritten by the staging column")
  }
}
