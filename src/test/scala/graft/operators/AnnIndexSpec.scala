package graft.operators

import graft.SparkSpec
import graft.streaming.AnnIngest
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Build/search split of the IVF-PQ index (AnnIndexIO) + streaming ingest:
  * the persisted-artifact path must be bit-identical to the inline
  * ivfPqTopK, and the stream encode must equal the batch encode for any
  * micro-batch split. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  // clustered 64-dim corpus (same regime as the ivfPqTopK spec: coarse
  // cells absorb cluster structure, codebooks quantize in-cluster noise)
  lazy val vecs = {
    val rng = new scala.util.Random(53)
    val centers = Array.fill(5)(Array.fill(64)(rng.nextGaussian()))
    Seq.tabulate(120) { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.25 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"annindex_$tag").toString

  /** The drift gate a maintenance loop runs after an append: the
    * occupancy monitor's flag decides whether the actuator fires. */
  def drifted(dir: String, skewThreshold: Double): Boolean =
    AnnIndexIO.occupancyStats(spark, dir, skewThreshold)
      .select("recommend_retrain").head().getBoolean(0)

  test("quantizer round-trips through typed Parquet exactly") {
    val model = VectorOps.ivfPqTrain(vecs, "vec_id", "embedding",
      nCells = 8).get
    val dir = tmpDir("model")
    AnnIndexIO.saveModel(spark, model, dir)
    val loaded = AnnIndexIO.modelFromDF(spark.read.parquet(s"$dir/quantizer"))
    assert(loaded.nCells == model.nCells && loaded.m == model.m &&
      loaded.codebookK == model.codebookK && loaded.subDim == model.subDim)
    assert(loaded.cents.zip(model.cents).forall { case (a, b) => a.sameElements(b) })
    assert(loaded.books.zip(model.books).forall { case (ba, bb) =>
      ba.zip(bb).forall { case (a, b) => a.sameElements(b) } })
  }

  test("search over a built index == inline ivfPqTopK, bit-for-bit") {
    val qp = col("v_id") < 10
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val inline = rows(VectorOps.ivfPqTopK(vecs, "vec_id", "embedding", qp,
      k = 3, nCells = 8, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    val dir = tmpDir("index")
    val built = AnnIndexIO.build(vecs, "vec_id", "embedding", dir, nCells = 8)
    assert(built.nonEmpty)
    // the index table is cell-partitioned on disk (partition pruning axis)
    val idxDir = new java.io.File(s"$dir/index")
    assert(idxDir.listFiles().exists(_.getName.startsWith("cid=")),
      "index table not partitioned by cid")
    val viaIndex = rows(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inline)
  }

  test("hier search over a built index == inline ivfPqHierTopK, bit-for-bit") {
    val qp = col("v_id") < 10
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val inline = rows(VectorOps.ivfPqHierTopK(vecs, "vec_id", "embedding",
      qp, k = 3, k1 = 3, k2 = 3, probeSupers = 2, nprobe = 4))
    graft.CacheRegistry.releaseAll()
    val dir = tmpDir("hier")
    val built = AnnIndexIO.buildHier(vecs, "vec_id", "embedding", dir,
      k1 = 3, k2 = 3)
    graft.CacheRegistry.releaseAll()
    assert(built.nonEmpty)
    // quantizer artifact round-trips the ragged children exactly
    val loaded = AnnIndexIO.hierModelFromDF(
      spark.read.parquet(s"$dir/quantizer"))
    assert(loaded.coarse.stride == built.get.coarse.stride)
    assert(loaded.coarse.children.zip(built.get.coarse.children).forall {
      case (ka, kb) => ka.length == kb.length &&
        ka.zip(kb).forall { case (a, b) => a.sameElements(b) } })
    val viaIndex = rows(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, probeSupers = 2, nprobe = 4))
    graft.CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inline)
  }

  test("OPQ×IVF: artifact round-trip, cid-pruned probe scan, exact planted recall") {
    // the query fixture's shape in miniature: 6 tight orthogonal-axis
    // clusters of 20 members (dim 16), nCells = 6 with the first-6-ids
    // init covering all clusters 1:1 — the composed search must return
    // the exact brute-force top-3
    val planted = Seq.tabulate(120) { i =>
      val v = Array.fill(16)(0.0f)
      v(i % 6) = 100.0f
      v(8 + i % 4) = (0.001 * (1 + i % 7)).toFloat
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("opq_ivf")
    assert(AnnIndexIO.buildOpqIvf(planted, "vec_id", "embedding", dir,
      nCells = 6, m = 2, codebookK = 8, altIters = 3))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_KIND")), "UTF-8").trim == "opq_ivf")
    // quantizer artifact round-trips rotation + model exactly
    val (rot, model) = AnnIndexIO.opqIvfModelFromDF(
      spark.read.parquet(s"$dir/quantizer"))
    assert(rot.length == 16 && rot.forall(_.length == 16))
    assert(model.nCells == 6 && model.m == 2)
    // index is cid-partitioned and the probe scan carries the static
    // cid IN pushdown (file-listing pruning, the whole point of the tier)
    val parts = new java.io.File(s"$dir/index").listFiles()
      .map(_.getName).filter(_.contains("="))
    assert(parts.nonEmpty && parts.forall(_.startsWith("cid=")),
      s"opq_ivf index not cid-partitioned: ${parts.mkString(",")}")
    val qp = col("v_id") < 6
    val df = AnnIndexIO.searchOpqIvf(spark, dir, planted, "vec_id",
      "embedding", qp, k = 3, nprobe = 2, rerank = 20)
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      s"opq_ivf probe scan lost the cid partition filter:\n$plan")
    val got = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"))).sortBy(t => (t._1, t._2)).toSeq
    graft.CacheRegistry.releaseAll()
    // brute-force truth, driver-side over the same planted doubles
    val raw = planted.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]](1)
        .map(_.toDouble).toArray)).sortBy(_._1)
    val unit = raw.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / n))
    }
    val want = unit.filter(_._1 < 6).flatMap { case (qid, qv) =>
      unit.filter(_._1 != qid)
        .map { case (id, v) => (id, qv.zip(v).map { case (a, b) => a * b }.sum) }
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), r) => (qid, r + 1, id) }
    }.toSeq.sorted
    assert(got == want, s"opq_ivf missed a true neighbor:\n$got\nvs\n$want")
  }

  test("OPQ×IVF recall >= plain IVF-PQ on cross-subspace-correlated corpus") {
    // correlation straddles the m=2 subspace split (dim j ~ dim j+8, the
    // opqTrain MSE fixture's regime) under a deliberately tight code
    // budget, so plain PQ's independent codebooks blur the asymmetric
    // ranking that feeds the rerank cut; the learned rotation removes
    // the shared structure
    val rng = new scala.util.Random(91)
    val corr = Seq.tabulate(160) { i =>
      val base = Array.fill(8)(rng.nextGaussian())
      val x = new Array[Double](16)
      for (j <- 0 until 8) { x(j) = base(j); x(j + 8) = base(j) + 0.05 * rng.nextGaussian() }
      (i.toLong, x.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qp = col("v_id") < 12
    def recallOf(results: Array[org.apache.spark.sql.Row]): Double = {
      val raw = corr.collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray))
      val unit = raw.map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / n))
      }
      val truth = unit.filter(_._1 < 12).map { case (qid, qv) =>
        qid -> unit.filter(_._1 != qid)
          .map { case (id, v) => (id, qv.zip(v).map { case (a, b) => a * b }.sum) }
          .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
      }.toMap
      val got = results.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val hits = truth.toSeq.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size
      }.sum
      hits.toDouble / (truth.size * 3)
    }
    val pqDir = tmpDir("rc_pq"); val opqDir = tmpDir("rc_opq")
    assert(AnnIndexIO.build(corr, "vec_id", "embedding", pqDir,
      nCells = 4, m = 2, codebookK = 4).nonEmpty)
    val rPq = recallOf(AnnIndexIO.searchAuto(spark, pqDir, corr, "vec_id",
      "embedding", qp, k = 3, nprobe = 2, rerank = 6).collect())
    graft.CacheRegistry.releaseAll()
    assert(AnnIndexIO.buildOpqIvf(corr, "vec_id", "embedding", opqDir,
      nCells = 4, m = 2, codebookK = 4, altIters = 8))
    val rOpq = recallOf(AnnIndexIO.searchOpqIvf(spark, opqDir, corr,
      "vec_id", "embedding", qp, k = 3, nprobe = 2, rerank = 6).collect())
    graft.CacheRegistry.releaseAll()
    assert(rOpq >= rPq,
      s"OPQ×IVF recall $rOpq below plain IVF-PQ $rPq on the correlated corpus")
    assert(rOpq > 0.5, s"OPQ×IVF recall degenerate: $rOpq")
  }

  test("learned OPQ×IVF clears the operating-point recall floor on a non-planted corpus") {
    // the ann_opq_real_recall query is rows-only (the Procrustes-SVD
    // rotation is not SQL-replayable), so the >= 0.9 recall@3 claim of
    // the r13 operating point (Queries.annOpqReal*: nprobe/nCells = 1/8,
    // rerank = 100) is pinned HERE instead, at the same ratios, on a
    // deterministic clustered-Gaussian corpus with no planted cell
    // alignment (cluster count 20 != nCells 16)
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(64)(rng.nextGaussian()))
    val corpus = Seq.tabulate(400) { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.2 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("opq_floor")
    assert(AnnIndexIO.buildOpqIvf(corpus, "vec_id", "embedding", dir,
      nCells = 16))
    val truth = VectorOps.bruteTopK(corpus.filter(col("vec_id") < 10),
        corpus, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = AnnIndexIO.searchOpqIvf(spark, dir, corpus, "vec_id",
        "embedding", col("v_id") < 10, k = 3, nprobe = 2,
        rerank = graft.Queries.annOpqRealRerank)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheRegistry.releaseAll()
    val recall = got.count(truth.contains).toDouble / truth.size
    assert(recall >= 0.9,
      s"learned OPQ×IVF recall@3 $recall below the 0.9 operating floor")
  }

  test("hier index layout: sid-partitioned dirs, pruned probe scan") {
    val qp = col("v_id") < 10
    val dir = tmpDir("hier_layout")
    assert(AnnIndexIO.buildHier(vecs, "vec_id", "embedding", dir,
      k1 = 3, k2 = 3).nonEmpty)
    // directories are SUPER cells (k1 of them), not k1·k2 global cells —
    // the 10⁴-cell regime must not mint 10⁴ directories of tiny files
    val idxDir = new java.io.File(s"$dir/index")
    val parts = idxDir.listFiles().map(_.getName).filter(_.contains("="))
    assert(parts.nonEmpty && parts.forall(_.startsWith("sid=")),
      s"hier index not sid-partitioned: ${parts.mkString(",")}")
    assert(parts.length <= 3, s"more sid dirs than supers: ${parts.length}")
    // the served scan carries the static probe filters: partition
    // pruning on sid plus the cid row-group pushdown
    val df = AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id", "embedding",
      qp, k = 3, probeSupers = 1, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*sid".r.findFirstIn(plan).isDefined,
      s"probe scan lost the sid partition filter:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(cid".r.findFirstIn(plan).isDefined,
      s"probe scan lost the cid row-group pushdown:\n$plan")
    assert(df.count() > 0)
    graft.CacheRegistry.releaseAll()
  }

  test("arity dispatch: flat below the cell threshold, hier at/above it") {
    val qp = col("v_id") < 10
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq

    // BELOW: buildAuto(8 cells) must be the flat path, bit-identical to
    // the inline flat composition
    val flatDir = tmpDir("auto_flat")
    assert(AnnIndexIO.buildAuto(vecs, "vec_id", "embedding", flatDir,
      nCells = 8))
    val flatQ = spark.read.parquet(s"$flatDir/quantizer")
    assert(flatQ.filter(col("kind") === "super").isEmpty,
      "below-threshold build fitted a hier quantizer")
    // the build stamped the _KIND sidecar searchAuto dispatches on
    // (driver-side FS read, no Spark job)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(flatDir, "_KIND")), "UTF-8").trim == "flat")
    val viaAuto = rows(AnnIndexIO.searchAuto(spark, flatDir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    val inline = rows(VectorOps.ivfPqTopK(vecs, "vec_id", "embedding", qp,
      k = 3, nCells = 8, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    assert(viaAuto.nonEmpty && viaAuto == inline)

    // AT/ABOVE: a lowered threshold flips the same request to the
    // two-level quantizer with k1 = k2 = ceil(sqrt(nCells)), bit-identical
    // to the explicit hier search at that arity
    assert(VectorOps.hierArity(9) == 3 && VectorOps.hierArity(10000) == 100)
    val hierDir = tmpDir("auto_hier")
    assert(AnnIndexIO.buildAuto(vecs, "vec_id", "embedding", hierDir,
      nCells = 9, hierThreshold = 9))
    graft.CacheRegistry.releaseAll()
    val hierQ = spark.read.parquet(s"$hierDir/quantizer")
    assert(!hierQ.filter(col("kind") === "super").isEmpty,
      "at-threshold build did not fit the hier quantizer")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hierDir, "_KIND")), "UTF-8").trim == "hier")
    val viaAutoH = rows(AnnIndexIO.searchAuto(spark, hierDir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
    graft.CacheRegistry.releaseAll()
    val inlineH = rows(VectorOps.ivfPqHierTopK(vecs, "vec_id", "embedding",
      qp, k = 3, k1 = 3, k2 = 3, probeSupers = 2, nprobe = 4))
    graft.CacheRegistry.releaseAll()
    assert(viaAutoH.nonEmpty && viaAutoH == inlineH)
    // an index without its _KIND sidecar is refused, naming the file
    java.nio.file.Files.delete(java.nio.file.Paths.get(hierDir, "_KIND"))
    val e = intercept[IllegalStateException] {
      AnnIndexIO.searchAuto(spark, hierDir, vecs, "vec_id", "embedding", qp,
        k = 3, nprobe = 4, probeSupers = 2)
    }
    assert(e.getMessage.contains(s"$hierDir/_KIND"))
  }

  test("streaming ingest encode == batch encode, any micro-batch split") {
    val model = VectorOps.ivfPqTrain(vecs, "vec_id", "embedding",
      nCells = 8).get
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("v_id"), r.getAs[Int]("cid"),
        r.getSeq[Int](r.fieldIndex("codes")).toList)
    val batch = VectorOps.ivfPqEncode(vecs, "vec_id", "embedding", model)
      .collect().map(key).toSet
    val rows = vecs.as[(Long, Seq[Float])].collect().toSeq
    for ((splitSize, tag) <- Seq(7 -> "a", 40 -> "b", rows.length -> "c")) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Seq[Float])]
      val name = s"ann_ingest_${tag}_${System.nanoTime()}"
      val q = AnnIngest.encodeStream(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          model)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rows.grouped(splitSize).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table(name).collect().map(key).toSet
      assert(streamed == batch, s"split $splitSize diverged from batch")
    }
  }

  test("appendAuto: built-on-half + appended-half == one encode of the union") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val first = vecs.filter(col("vec_id") < 60)
    val rest = vecs.filter(col("vec_id") >= 60)
    val qp = col("v_id") < 10
    // flat path: quantizer fitted on the FIRST HALF ONLY, second half
    // encoded against that frozen model via appendAuto
    val dir = tmpDir("append_flat")
    assert(AnnIndexIO.buildAuto(first, "vec_id", "embedding", dir, nCells = 8))
    AnnIndexIO.appendAuto(spark, dir, rest, "vec_id", "embedding")
    val appended = rows(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    // reference: the SAME frozen model encoding the whole corpus at once
    val model = AnnIndexIO.modelFromDF(spark.read.parquet(s"$dir/quantizer"))
    val oneShot = rows(VectorOps.ivfPqSearch(model,
      VectorOps.ivfPqEncode(vecs, "vec_id", "embedding", model),
      vecs, "vec_id", "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    assert(appended.nonEmpty && appended == oneShot)
    // appended rows landed in the cell partitions, not a side table
    assert(AnnIndexIO.occupancyStats(spark, dir)
      .collect()(0).getAs[Long]("n_rows") == 120L)
  }

  test("appendAuto on a hier index dispatches via the sidecar") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"))).sortBy(t => (t._1, t._2)).toSeq
    val first = vecs.filter(col("vec_id") < 60)
    val rest = vecs.filter(col("vec_id") >= 60)
    val qp = col("v_id") < 10
    val dir = tmpDir("append_hier")
    // 3×3 supers×children: small but exercises the hier encode+search
    assert(AnnIndexIO.buildAuto(first, "vec_id", "embedding", dir,
      nCells = 9, hierThreshold = 9))
    AnnIndexIO.appendAuto(spark, dir, rest, "vec_id", "embedding")
    val appended = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
    graft.CacheRegistry.releaseAll()
    val model = AnnIndexIO.hierModelFromDF(
      spark.read.parquet(s"$dir/quantizer"))
    val vnorm = VectorOps.normalized(vecs, "vec_id", "embedding")
      .select(col("vec_id").as("v_id"), col("vn"))
    // rerank matches searchAuto's default (100 since the r13 sweep)
    val oneShot = key(VectorOps.ivfPqSearchHierNormalized(model,
      VectorOps.ivfPqEncodeHierNormalized(vnorm, model), vnorm,
      qp, k = 3, probeSupers = 2, nprobe = 4, rerank = 100))
    graft.CacheRegistry.releaseAll()
    assert(appended.nonEmpty && appended == oneShot)
  }

  test("occupancyStats flags a drifted append, stays quiet on a healthy one") {
    val dir = tmpDir("occupancy")
    assert(AnnIndexIO.buildAuto(vecs, "vec_id", "embedding", dir, nCells = 8))
    // skew = max/mean is bounded by the populated-cell count (8 here),
    // so this toy index probes with a proportional threshold, not the
    // production default (see occupancyStats doc)
    val thr = 4.0
    val healthy = AnnIndexIO.occupancyStats(spark, dir, thr).collect()(0)
    assert(healthy.getAs[Long]("n_rows") == 120L)
    assert(!healthy.getAs[Boolean]("recommend_retrain"),
      s"healthy build flagged: skew ${healthy.getAs[Double]("skew")}")
    // drift: a large batch from ONE tight off-distribution cluster —
    // every appended vector lands in the same coarse cell
    val rng = new scala.util.Random(97)
    val off = Array.fill(64)(rng.nextGaussian() * 3)
    val drifted = Seq.tabulate(2000) { i =>
      (10000L + i, off.map(x => (x + 0.01 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    AnnIndexIO.appendAuto(spark, dir, drifted, "vec_id", "embedding")
    val after = AnnIndexIO.occupancyStats(spark, dir, thr).collect()(0)
    assert(after.getAs[Long]("n_rows") == 2120L)
    assert(after.getAs[Boolean]("recommend_retrain"),
      s"drifted append not flagged: skew ${after.getAs[Double]("skew")}")
  }

  test("planted drift trips the monitor and HEALS through retrainIfDrifted") {
    def topKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    // toy-arity threshold (see occupancyStats doc): 8 populated cells
    // bound skew at 8; the planted blob straddles two cells (measured
    // skew ≈ 3.9 at 620 rows), so the gate sits at 3
    val thr = 3.0
    val dir = tmpDir("retrain")
    assert(AnnIndexIO.buildAuto(vecs, "vec_id", "embedding", dir, nCells = 8))
    // healthy index: the drift gate must not fire the actuator
    assert(!drifted(dir, thr))
    // drift: one tight off-distribution blob, admitted through the FROZEN
    // quantizer — every member lands in one cell, and the base-fitted
    // codebooks cannot discriminate inside the blob (residual = large
    // constant + tiny jitter), so a bounded rerank cut loses true
    // neighbors: recall damage, not just occupancy damage
    // jitter 0.6 over |off| ≈ 24 ⇒ ~0.025 RELATIVE spread after the
    // cosine normalization — the same relative scale as the base
    // clusters' 0.25-over-|v|≈8, so a retrained quantizer CAN
    // discriminate inside the blob; the frozen one cannot (its
    // codebooks never saw the region — the whole blob collapses onto
    // one code word)
    val rng = new scala.util.Random(97)
    val off = Array.fill(64)(rng.nextGaussian() * 3)
    val blob = Seq.tabulate(500) { i =>
      (10000L + i, off.map(x => (x + 0.6 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    AnnIndexIO.appendAuto(spark, dir, blob, "vec_id", "embedding")
    val union = vecs.union(blob)
    val qp = col("v_id") >= 10000L && col("v_id") < 10005L
    def distinctBlobCodes(): Long = spark.read.parquet(s"$dir/index")
      .filter(col("v_id") >= 10000L)
      .select("codes").distinct().count()
    val codesBefore = distinctBlobCodes()
    // the closed loop: monitor trips -> actuator retrains -> swap
    assert(drifted(dir, thr), "drift did not trip the monitor")
    assert(AnnIndexIO.retrain(union, "vec_id", "embedding", dir))
    val codesAfter = distinctBlobCodes()
    // code-level heal — the measurable damage drift does and retrain
    // undoes: the frozen books never saw the blob's region, so its 500
    // members collapse onto a handful of code words (asymmetric ranks
    // tie; the rerank cut is arbitrary inside them — measured 39
    // distinct codes for 500 rows); the retrained books resolve the
    // region at the base clusters' own relative residual scale
    // (measured 500/500 distinct)
    assert(codesBefore < 100 && codesAfter >= 400,
      s"codes did not heal: $codesBefore distinct before, $codesAfter after")
    // maintenance contract: the promoted generation is indistinguishable
    // from a from-scratch build over the accumulated corpus
    val fresh = tmpDir("retrain_fresh")
    assert(AnnIndexIO.buildAuto(union, "vec_id", "embedding", fresh, nCells = 8))
    val servedHealed = topKey(AnnIndexIO.searchAuto(spark, dir, union,
      "vec_id", "embedding", qp, k = 3, nprobe = 3, rerank = 10))
    graft.CacheRegistry.releaseAll()
    val servedFresh = topKey(AnnIndexIO.searchAuto(spark, fresh, union,
      "vec_id", "embedding", qp, k = 3, nprobe = 3, rerank = 10))
    graft.CacheRegistry.releaseAll()
    assert(servedHealed.nonEmpty && servedHealed == servedFresh)
    // retrain preserved the persisted configuration (arity unchanged)
    assert(AnnIndexIO.modelFromDF(
      spark.read.parquet(s"$dir/quantizer")).nCells == 8)
  }

  test("OPQ drift trips the monitor and HEALS through rebuildOpqIfDrifted") {
    // the flat family's closed-loop spec, on the fourth family: gauge
    // (occupancyStats over the opq_ivf cell table) → drift gate →
    // rebuild valve → atomic swap, with the maintenance contract
    // (rebuilt ≡ from-scratch) checked on the served answer
    def topKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val thr = 3.0 // toy-arity threshold (see occupancyStats doc)
    val dir = tmpDir("rebuild_loop")
    assert(AnnIndexIO.buildOpqIvf(vecs, "vec_id", "embedding", dir,
      nCells = 8, m = 2, codebookK = 8, altIters = 3))
    // healthy index: the drift gate must not fire the valve
    assert(!drifted(dir, thr))
    // drift: one tight off-distribution blob admitted through the FROZEN
    // rotation + coarse quantizer — every member lands in one cell
    val rng = new scala.util.Random(97)
    val off = Array.fill(64)(rng.nextGaussian() * 3)
    val blob = Seq.tabulate(500) { i =>
      (10000L + i, off.map(x => (x + 0.6 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    AnnIndexIO.appendOpq(spark, dir, blob, "vec_id", "embedding")
    val union = vecs.union(blob)
    // the closed loop: monitor trips → rebuild re-learns rotation +
    // codebooks + coarse cells from the accumulated corpus → swap
    assert(drifted(dir, thr), "drift did not trip the monitor")
    assert(AnnIndexIO.rebuildOpq(union, "vec_id", "embedding", dir))
    // family and operating point survive the loop
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_KIND")), "UTF-8").trim == "opq_ivf")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_CONF")), "UTF-8").trim == "8 2 8 3")
    // maintenance contract: rebuilt ≡ from-scratch build over everything
    val fresh = tmpDir("rebuild_loop_fresh")
    assert(AnnIndexIO.buildOpqIvf(union, "vec_id", "embedding", fresh,
      nCells = 8, m = 2, codebookK = 8, altIters = 3))
    val qp = col("v_id") >= 10000L && col("v_id") < 10005L
    val healed = topKey(AnnIndexIO.searchOpqIvf(spark, dir, union,
      "vec_id", "embedding", qp, k = 3, nprobe = 3, rerank = 10))
    graft.CacheRegistry.releaseAll()
    val freshly = topKey(AnnIndexIO.searchOpqIvf(spark, fresh, union,
      "vec_id", "embedding", qp, k = 3, nprobe = 3, rerank = 10))
    graft.CacheRegistry.releaseAll()
    assert(healed.nonEmpty && healed == freshly)
  }

  test("quantDrift: drift trips the gauge; rebuildOpq resets the baseline") {
    // drift measured as RECONSTRUCTION ERROR against the artifact's own
    // build-time baseline (_QERR) — self-calibrating, unlike a code-share
    // gauge, which cannot tell drift from genuine concentration (a blob
    // that IS 80% of the corpus keeps its code share after a perfect
    // rebuild; its reconstruction error does not stay high)
    val dir = tmpDir("quant_drift")
    assert(AnnIndexIO.buildOpqIvf(vecs, "vec_id", "embedding", dir,
      nCells = 8, m = 2, codebookK = 8, altIters = 3))
    val healthy = AnnIndexIO.quantDrift(spark, dir, vecs, "vec_id",
      "embedding").head()
    // gauge sample == training sample here (both cover the whole toy
    // corpus), so the healthy ratio is exactly 1
    assert(math.abs(healthy.getAs[Double]("ratio") - 1.0) < 1e-9 &&
      !healthy.getAs[Boolean]("recommend_rebuild"),
      s"healthy build flagged: $healthy")
    // drift: an off-distribution blob admitted through the FROZEN
    // rotation/books — a region the books never saw reconstructs badly
    val rng = new scala.util.Random(97)
    val off = Array.fill(64)(rng.nextGaussian() * 3)
    val blob = Seq.tabulate(500) { i =>
      (10000L + i, off.map(x => (x + 0.6 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    AnnIndexIO.appendOpq(spark, dir, blob, "vec_id", "embedding")
    val union = vecs.union(blob)
    val after = AnnIndexIO.quantDrift(spark, dir, union, "vec_id",
      "embedding").head()
    assert(after.getAs[Boolean]("recommend_rebuild") &&
      after.getAs[Double]("ratio") > 5.0,
      s"drift not flagged: $after")
    // the closed loop: gauge trips → rebuild re-learns rotation + books
    // where the mass now is → the minted baseline reads healthy again
    assert(AnnIndexIO.rebuildOpq(union, "vec_id", "embedding", dir))
    val healed = AnnIndexIO.quantDrift(spark, dir, union, "vec_id",
      "embedding").head()
    assert(!healed.getAs[Boolean]("recommend_rebuild") &&
      math.abs(healed.getAs[Double]("ratio") - 1.0) < 1e-9,
      s"rebuild did not reset the gauge: $healed")
  }

  test("compact: files collapse, search and occupancy bit-invisible, both layouts") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val qp = col("v_id") < 10
    for ((nCells, thr, tag, cap) <- Seq((8, 1000, "flat", 16), (9, 9, "hier", 8))) {
      val dir = tmpDir(s"cpt_$tag")
      assert(AnnIndexIO.buildAuto(vecs.filter(col("vec_id") < 60), "vec_id",
        "embedding", dir, nCells = nCells, hierThreshold = thr))
      // a 3-batch admission chain fragments the cell partitions
      (0 until 3).foreach { b =>
        AnnIndexIO.appendAuto(spark, dir,
          vecs.filter(col("vec_id") >= 60 && col("vec_id") % 3 === b),
          "vec_id", "embedding")
      }
      val before = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
        "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
      graft.CacheRegistry.releaseAll()
      val occBefore = AnnIndexIO.occupancyStats(spark, dir).head().toString
      val (filesBefore, filesAfter) =
        AnnIndexIO.compact(spark, dir, targetPartitions = 4)
      assert(filesAfter < filesBefore && filesAfter <= cap,
        s"$tag: files did not collapse ($filesBefore -> $filesAfter)")
      // layout family preserved: hier keeps sid dirs, flat keeps cid dirs
      val dirs = new java.io.File(s"$dir/index").listFiles().map(_.getName)
      assert(dirs.exists(_.startsWith(if (tag == "hier") "sid=" else "cid=")),
        s"$tag: compaction changed the partition layout: ${dirs.toSeq}")
      val after = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
        "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
      graft.CacheRegistry.releaseAll()
      assert(after == before && before.nonEmpty, s"$tag: search changed")
      assert(AnnIndexIO.occupancyStats(spark, dir).head().toString
        == occBefore, s"$tag: occupancy changed")
    }
  }

  test("retrain refuses OPQ-family artifacts instead of flattening them") {
    val dir = tmpDir("retrain_opq")
    assert(AnnIndexIO.buildOpqIvf(vecs, "vec_id", "embedding", dir,
      nCells = 6, m = 2, codebookK = 8, altIters = 2))
    val e = intercept[IllegalArgumentException] {
      AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("flat/hier"))
    // the artifact is untouched: the rotation still loads and serves
    val (rot, _) = AnnIndexIO.opqIvfModelFromDF(
      spark.read.parquet(s"$dir/quantizer"))
    assert(rot.nonEmpty)
  }

  test("retrain on a HIER index preserves the two-level family and arity") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val first = vecs.filter(col("vec_id") < 60)
    val rest = vecs.filter(col("vec_id") >= 60)
    val qp = col("v_id") < 10
    val dir = tmpDir("retrain_hier")
    // 3×3 is far below the hier threshold: a retrain routed through the
    // arity dispatch would silently rebuild FLAT — the family must come
    // from the artifact, not the threshold
    assert(AnnIndexIO.buildAuto(first, "vec_id", "embedding", dir,
      nCells = 9, hierThreshold = 9))
    AnnIndexIO.appendAuto(spark, dir, rest, "vec_id", "embedding")
    assert(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    val kind = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_KIND")), "UTF-8").trim
    assert(kind == "hier", s"retrain changed the quantizer family: $kind")
    val fresh = tmpDir("retrain_hier_fresh")
    assert(AnnIndexIO.buildAuto(vecs, "vec_id", "embedding", fresh,
      nCells = 9, hierThreshold = 9))
    val healed = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
    graft.CacheRegistry.releaseAll()
    val freshly = key(AnnIndexIO.searchAuto(spark, fresh, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 4, probeSupers = 2))
    graft.CacheRegistry.releaseAll()
    assert(healed.nonEmpty && healed == freshly)
  }

  test("rebuildOpq heals a snapshot-fit OPQ×IVF index == from-scratch build") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("sim"))))
      .sortBy(t => (t._1, t._2)).toSeq
    val planted = Seq.tabulate(120) { i =>
      val v = Array.fill(16)(0.0f)
      v(i % 6) = 100.0f
      v(8 + i % 4) = (0.001 * (1 + i % 7)).toFloat
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val snapshot = planted.filter(col("vec_id") % 5 =!= 4)
    val qp = col("v_id") < 6
    val dir = tmpDir("rebuild_opq")
    // drift planting: rotation/codebooks/coarse fitted on the SNAPSHOT
    // only; the index holds only snapshot rows (no OPQ append path —
    // rebuild is the whole admission valve for this family)
    assert(AnnIndexIO.buildOpqIvf(snapshot, "vec_id", "embedding", dir,
      nCells = 6, m = 2, codebookK = 8, altIters = 3))
    // the valve: re-learn everything from the accumulated corpus
    assert(AnnIndexIO.rebuildOpq(planted, "vec_id", "embedding", dir))
    // family and operating point preserved across the swap
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_KIND")), "UTF-8").trim == "opq_ivf")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_CONF")), "UTF-8").trim == "6 2 8 3")
    // the promoted artifact is indistinguishable from a from-scratch
    // build over the same corpus (deterministic sample ⇒ same fit)
    val fresh = tmpDir("rebuild_opq_fresh")
    assert(AnnIndexIO.buildOpqIvf(planted, "vec_id", "embedding", fresh,
      nCells = 6, m = 2, codebookK = 8, altIters = 3))
    val healed = key(AnnIndexIO.searchOpqIvf(spark, dir, planted, "vec_id",
      "embedding", qp, k = 3, nprobe = 2, rerank = 20))
    graft.CacheRegistry.releaseAll()
    val freshly = key(AnnIndexIO.searchOpqIvf(spark, fresh, planted,
      "vec_id", "embedding", qp, k = 3, nprobe = 2, rerank = 20))
    graft.CacheRegistry.releaseAll()
    assert(healed.nonEmpty && healed == freshly)
    // and the guard rails hold in both directions
    val flatDir = tmpDir("rebuild_flat")
    assert(AnnIndexIO.build(planted, "vec_id", "embedding", flatDir,
      nCells = 6).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      AnnIndexIO.rebuildOpq(planted, "vec_id", "embedding", flatDir)
    }
    assert(e.getMessage.contains("OPQ families only"))
  }

  test("appendOpq == union encode under the frozen model; appendAuto/appendOpq guard rails") {
    val planted = Seq.tabulate(120) { i =>
      val v = Array.fill(16)(0.0f)
      v(i % 6) = 100.0f
      v(8 + i % 4) = (0.001 * (1 + i % 7)).toFloat
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val first = planted.filter(col("vec_id") < 80)
    val rest = planted.filter(col("vec_id") >= 80)
    val dir = tmpDir("opq_append")
    assert(AnnIndexIO.buildOpqIvf(first, "vec_id", "embedding", dir,
      nCells = 6, m = 2, codebookK = 8, altIters = 3))
    AnnIndexIO.appendOpq(spark, dir, rest, "vec_id", "embedding")
    // the admission contract: the appended table IS the frozen-model
    // encode of the union, row for row (no refit, no re-encode of the
    // old rows, appended rows through the same rotation)
    def codesKey(df: org.apache.spark.sql.DataFrame) = df
      .select(col("v_id"), col("cid").cast("long").as("cid"),
        org.apache.spark.sql.functions.concat_ws(",",
          col("codes").cast("array<string>")).as("cs"))
      .collect().map(_.toString).toSet
    val (rot, model) = AnnIndexIO.opqIvfModelFromDF(
      spark.read.parquet(s"$dir/quantizer"))
    val v = VectorOps.normalized(planted, "vec_id", "embedding")
      .select(col("vec_id").as("v_id"), col("vn"))
    val want = codesKey(VectorOps.opqIvfEncodeNormalized(v, rot, model))
    val got = codesKey(spark.read.parquet(s"$dir/index"))
    graft.CacheRegistry.releaseAll()
    assert(got == want && want.nonEmpty,
      "appended index table != frozen-model union encode")
    // guard rails, both directions
    val eAuto = intercept[IllegalArgumentException] {
      AnnIndexIO.appendAuto(spark, dir, rest, "vec_id", "embedding")
    }
    assert(eAuto.getMessage.contains("appendOpq"))
    val flatDir = tmpDir("opq_append_flat")
    assert(AnnIndexIO.build(planted, "vec_id", "embedding", flatDir,
      nCells = 6).nonEmpty)
    val eOpq = intercept[IllegalArgumentException] {
      AnnIndexIO.appendOpq(spark, flatDir, rest, "vec_id", "embedding")
    }
    assert(eOpq.getMessage.contains("appendAuto"))
  }

  test("ArtifactSwap.recover: stranded-prev crash state heals on maintenance entry") {
    val dir = tmpDir("recover")
    assert(AnnIndexIO.build(vecs, "vec_id", "embedding", dir,
      nCells = 8).nonEmpty)
    val qp = col("v_id") < 10
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toString).sorted.toSeq
    val before = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    // simulate retrain's crash window: live retired to _prev, the
    // promote rename never ran — the live path is ABSENT
    val live = new java.io.File(dir)
    val prev = new java.io.File(dir + "_prev")
    assert(live.renameTo(prev) && !live.exists())
    // a SERVING read during the window heals and answers from the
    // retired generation — never a missing-path error
    val served = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    assert(served == before, "serve-through-crash answer changed")
    // re-create the window; the next maintenance entry also recovers
    assert(live.renameTo(prev) && !live.exists())
    assert(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    val after = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    // same corpus, same persisted configuration ⇒ same served answer
    assert(after == before && before.nonEmpty)
    assert(!prev.exists(), "recovery left the stranded generation behind")
  }

  test("every entry refuses a missing or unparseable _KIND/_CONF sidecar") {
    val dir = tmpDir("sidecars")
    assert(AnnIndexIO.build(vecs, "vec_id", "embedding", dir,
      nCells = 4).nonEmpty)
    graft.CacheRegistry.releaseAll()
    val kind = java.nio.file.Paths.get(dir, "_KIND")
    val conf = java.nio.file.Paths.get(dir, "_CONF")
    def refused(file: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(s"$dir/$file"), e.getMessage)
    }
    def put(p: java.nio.file.Path, s: String): Unit = {
      java.nio.file.Files.write(p, s.getBytes("UTF-8"))
      // the checksummed local filesystem verifies .crc files on read
      java.nio.file.Files.deleteIfExists(
        p.resolveSibling(s".${p.getFileName}.crc"))
    }
    val half = vecs.filter(col("vec_id") % 2 === 0)
    // no _CONF: maintenance cannot know the requested operating point
    java.nio.file.Files.delete(conf)
    refused("_CONF")(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    put(conf, "4 eight 16")
    refused("_CONF")(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    put(conf, "4 8") // a hier or OPQ field count would be 4, flat is 3
    refused("_CONF")(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    // no _KIND, or a word that names no kind: no entry guesses the family
    java.nio.file.Files.delete(kind)
    refused("_KIND")(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", col("v_id") < 5, k = 3))
    refused("_KIND")(AnnIndexIO.appendAuto(spark, dir, half, "vec_id",
      "embedding"))
    refused("_KIND")(AnnIndexIO.appendOpq(spark, dir, half, "vec_id",
      "embedding"))
    refused("_KIND")(AnnIndexIO.retrain(vecs, "vec_id", "embedding", dir))
    refused("_KIND")(AnnIndexIO.rebuildOpq(vecs, "vec_id", "embedding", dir))
    put(kind, "opq")
    refused("_KIND")(AnnIndexIO.rebuildOpq(vecs, "vec_id", "embedding", dir))
    // nothing was written by a refused call
    assert(!new java.io.File(s"${dir}_next").exists())
  }

  test("compact crash window: stranded index/ root heals at serve, append, gauge, compact") {
    // compact() swaps `$path/index` — a DIFFERENT root from the
    // whole-dir swap retrain/rebuildOpq promote. Every entry must heal
    // BOTH: an append landing while `index/` is stranded under
    // `index_prev` would otherwise mode('append')-create a fresh
    // batch-only table, and the NEXT compact's swap would delete the
    // real corpus under `_prev` — silent, permanent loss.
    val dir = tmpDir("idx_window")
    assert(AnnIndexIO.build(vecs.filter(col("vec_id") < 100), "vec_id",
      "embedding", dir, nCells = 8).nonEmpty)
    val qp = col("v_id") < 10
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toString).sorted.toSeq
    val before = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    val live = new java.io.File(dir, "index")
    val prev = new java.io.File(dir, "index_prev")
    def strand(): Unit =
      assert(live.renameTo(prev) && !live.exists(), "could not strand")
    // 1. a SERVING read during the window heals the table root
    strand()
    assert(key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3)) == before)
    graft.CacheRegistry.releaseAll()
    // 2. an append during the window must extend the REAL table
    strand()
    AnnIndexIO.appendAuto(spark, dir, vecs.filter(col("vec_id") >= 100),
      "vec_id", "embedding")
    assert(!prev.exists(), "append stranded the real table under _prev")
    // 3. the gauge sees the full (healed + appended) corpus
    strand()
    val occ = AnnIndexIO.occupancyStats(spark, dir).head()
    assert(occ.getAs[Long]("n_rows") == 120L,
      s"gauge lost rows through the window: $occ")
    val appended = key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3))
    graft.CacheRegistry.releaseAll()
    // 4. compact itself heals before its layout sniff, and the rewrite
    // is bit-invisible to search
    strand()
    val (b, a) = AnnIndexIO.compact(spark, dir, targetPartitions = 1)
    assert(a <= b && !prev.exists())
    assert(key(AnnIndexIO.searchAuto(spark, dir, vecs, "vec_id",
      "embedding", qp, k = 3, nprobe = 3)) == appended)
    graft.CacheRegistry.releaseAll()
  }

  test("quantDrift: a memorizing quantizer (zero baseline) is not read as drift") {
    // <= codebookK distinct vectors per subspace: singleton k-means
    // clusters reproduce the final rotated sample exactly, so the
    // build-time _QERR baseline is (near-)zero. The gauge must not read
    // `fp-dust / zero = astronomical ratio` as drift — a rebuild cannot
    // help (it re-mints a zero baseline), so the old behavior was a
    // never-converging monitor→actuator loop.
    val rng = new scala.util.Random(11)
    val basis = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    val tiny = Seq.tabulate(8) { i =>
      (i.toLong, basis(i).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("qd_zero")
    assert(AnnIndexIO.buildOpqIvf(tiny, "vec_id", "embedding", dir,
      nCells = 2, m = 2, codebookK = 8, altIters = 3))
    // a near-duplicate admission (1e-6 off basis(0)) makes the gauge
    // sample's MSE tiny-but-NONZERO — exactly the state whose ratio
    // blows up against a zero baseline
    val eps = Seq((999L, basis(0).zipWithIndex.map { case (x, j) =>
      (x + (if (j == 0) 1e-6 else 0.0)).toFloat }.toSeq))
      .toDF("vec_id", "embedding")
    AnnIndexIO.appendOpq(spark, dir, eps, "vec_id", "embedding")
    val g = AnnIndexIO.quantDrift(spark, dir, tiny.union(eps), "vec_id",
      "embedding").head()
    assert(g.getAs[Double]("baseline_mse") < 1e-20,
      s"scenario not realized — baseline should memorize: $g")
    assert(!g.getAs[Boolean]("recommend_rebuild"),
      s"zero-baseline false alarm: $g")
  }
}
