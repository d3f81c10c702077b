package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-vector operators (similarity search, near-dup).
  *
  * All dot products run in float64 over `transform(v, cast double)` arrays
  * with sequential left-to-right summation — deterministic and identical to
  * the DuckDB oracle's list_sum over list_transform.
  *
  * Scale shapes:
  *  - brute-force top-k: broadcast(queries) × full scan, one window per
  *    query for the top-k — the exact baseline;
  *  - LSH (random-hyperplane via anchor vectors): bucket = 16 sign bits,
  *    one shuffle on the bucket key; candidate set is bucket-local, so
  *    cost is Σ bucket² instead of N² — the 100 TB path (plus per-bucket
  *    caps / multi-probe against skew).
  */
object VectorOps {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product (bit-equal to the HOF
    * aggregate-of-zip_with fold; see [[graft.functions.ArrayDotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDot.array_dot(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k neighbors for each query row. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("cv"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Sign-bit LSH bucket per vector: bit i = (dot(v, anchor_i) > 0).
    * Anchors are the engine's stand-in for random hyperplanes — any fixed
    * small set of vectors (here: rows of the corpus itself chosen by id)
    * works and keeps the oracle expressible. */
  def lshBuckets(vecs: DataFrame, idCol: String, vecCol: String,
                 anchors: DataFrame): DataFrame = {
    val v = vecs.select(col(idCol).as("v_id"), toDouble(col(vecCol)).as("v"))
    val a = anchors.select(col(idCol).as("a_id"), toDouble(col(vecCol)).as("av"))
    v.crossJoin(broadcast(a))
      .withColumn("bit", when(dot(col("v"), col("av")) > 0, "1").otherwise("0"))
      .groupBy("v_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("a_id"), col("bit")))),
        s => s.getField("bit")), "").as("bucket"))
  }

  /** ANN top-k via LSH buckets: exact cosine ranking restricted to the
    * query's bucket. Returns (q_id, rank, n_id, sim).
    *
    * `multiProbe`: the standard recall lever — queries also probe every
    * bucket at Hamming distance 1 (one sign bit flipped), multiplying the
    * probed volume by (1 + bits) while the indexed side stays one bucket
    * per vector. Near-neighbors that straddle a single hyperplane stop
    * being missed; recall goes from 1−(1−pᵇ) to covering all 1-bit-off
    * buckets. The shipped ann_lsh_topk query and its oracle both use the
    * multi-probe shape; the default stays off for library callers who
    * want the minimal single-bucket probe.
    *
    * SCALE: this inline form hashes the corpus per invocation. Serving
    * workloads (many queries over one corpus) should persist the encoded
    * index once and search it — the [[AnnIndexIO]] build/search split is
    * that shape for the IVF-PQ tier, and the same discipline applies
    * here: one corpus pass at build time, per-query work bounded by the
    * probed buckets. */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
              anchors: DataFrame, queryPred: Column, k: Int,
              multiProbe: Boolean = false,
              anchorBits: Option[Int] = None): DataFrame = {
    val buckets = lshBuckets(vecs, idCol, vecCol, anchors)
    val v = vecs.select(col(idCol).as("v_id"), toDouble(col(vecCol)).as("v"))
      .join(buckets, "v_id")
    val q0 = v.filter(queryPred)
      .select(col("v_id").as("q_id"), col("v").as("qv"), col("bucket"))
    val q = if (!multiProbe) q0 else {
      // the flip loop needs a concrete bit arity at plan-build time:
      // callers that know their anchor count pass it (zero jobs); the
      // fallback is one tiny count over the 10¹-row anchor dim table
      val bits = anchorBits.getOrElse(anchors.count().toInt)
      def flipAt(r: Int): Column = concat(
        substring(col("bucket"), 1, r),
        when(substring(col("bucket"), r + 1, 1) === "1", "0").otherwise("1"),
        substring(col("bucket"), r + 2, bits - r - 1))
      q0.withColumn("bucket",
        explode(array(col("bucket") +: (0 until bits).map(flipAt): _*)))
    }
    // no pair dedup needed: each vector indexes exactly one bucket and the
    // probe keys are distinct, so a (q, v) pair matches via at most one key
    val scored = q.join(v, Seq("bucket")).filter(col("q_id") =!= col("v_id"))
      .withColumn("sim", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** (id, vn) with unit-normalized double vectors; the norm is materialized
    * in its own Project first (a transform lambda referencing norm(v) would
    * recompute the norm per element — no CSE across HOF boundaries). */
  def normalized(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    normalizedNarrow(graft.Par.byKey(vecs, col(idCol)), idCol, vecCol)

  /** [[normalized]] minus the repartition: a pure narrow projection, the
    * form a STREAMING ingest maps over each micro-batch (and the shared
    * math, so batch and stream normalize bit-identically). */
  private[graft] def normalizedNarrow(vecs: DataFrame, idCol: String,
                                      vecCol: String): DataFrame =
    vecs
      .select(col(idCol), toDouble(col(vecCol)).as("_v"))
      .select(col(idCol), col("_v"), norm(col("_v")).as("_n"))
      .select(col(idCol), transform(col("_v"), x => x / col("_n")).as("vn"))

  /** Deterministic Lloyd k-means (driver-side, for the IVF coarse
    * quantizer): init = first k vectors, argmin-first assignment. */
  def kmeans(vecs: Array[Array[Double]], k0: Int, iters: Int = 10): Array[Array[Double]] = {
    require(vecs.nonEmpty, "kmeans on empty input")
    val k = math.min(k0, vecs.length) // fewer points than cells: one each
    var cents = vecs.take(k).map(_.clone())
    val dim = vecs(0).length
    // r17: the assignment pass parallelizes over FIXED 512-point chunks —
    // chunk boundaries and the partial-sum merge order derive from the
    // input length only (never the core count), so every centroid bit is
    // machine-independent and run-reproducible; a fit under 512 points is
    // ONE chunk, i.e. the exact pre-r17 sequential sum order. The big
    // driver-side quantizer fits (IVF/PQ/OPQ/semdedup samples, ≤10⁴
    // points × 10²-cell × dim, 10 Lloyd rounds ≈ 10⁹-10¹⁰ flops) were
    // single-threaded on a 32-core box.
    val chunkSize = 512
    val nChunks = (vecs.length + chunkSize - 1) / chunkSize
    for (_ <- 0 until iters) {
      val cur = cents
      val partials = new Array[(Array[Array[Double]], Array[Long])](nChunks)
      def assignChunk(ci: Int): Unit = {
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        val lo = ci * chunkSize
        val hi = math.min(lo + chunkSize, vecs.length)
        var p = lo
        while (p < hi) {
          val v = vecs(p)
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < dim) { val t = v(i) - cur(c)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
          p += 1
        }
        partials(ci) = (sums, counts)
      }
      if (nChunks == 1) assignChunk(0)
      else java.util.stream.IntStream.range(0, nChunks).parallel()
        .forEach(ci => assignChunk(ci))
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var ci = 0
      while (ci < nChunks) { // merge in chunk order: deterministic bits
        val (ps, pc) = partials(ci)
        var c = 0
        while (c < k) {
          var i = 0
          while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
          counts(c) += pc(c)
          c += 1
        }
        ci += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** The centroid matrix as ONE literal node (`typedLit` of the nested
    * Seq): plan-tree size is O(1) in nCells — the former per-centroid
    * expression tree grew as nCells·dim nodes, which capped nCells at
    * ~10² before analysis/codegen blew up. The matrix itself ships with
    * the serialized plan once per stage (nCells·dim·8 B — 5 MB at 10⁴
    * cells × 64 dims), not per row. */
  private def centMatrixLit(cents: Array[Array[Double]]): Column =
    typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)

  /** Per-row coarse-cell ranking as pure map-side compute: squared
    * distance to every centroid via a `transform` over the single
    * matrix literal (native sq-dist kernel inside the lambda), zipped
    * with the cell index and sorted ascending by (d, cid) — struct
    * ordering is field-by-field, so ties break on the lower cid exactly
    * like a `row_number() OVER (ORDER BY d, cid)`, but with NO centroid
    * join, NO nCells× row replication, and NO shuffle: at 100 TB the
    * assignment is one narrow pass instead of an exchange of nCells·N
    * rows. Per-row COST is still O(nCells·dim); above ~10³ cells use the
    * two-level [[hierCellId]] (O(k1+k2) per row) — same ceiling-breaking
    * role, different axis. Returns array<struct<d,cid>>. */
  private[graft] def cellRanks(vn: Column, cents: Array[Array[Double]]): Column =
    array_sort(zip_with(
      transform(centMatrixLit(cents),
        c => graft.functions.ArrayDot.array_sq_dist(vn, c)),
      sequence(lit(0), lit(cents.length - 1)),
      (d, i) => struct(d.as("d"), i.cast("int").as("cid"))))

  /** The probed cell ids: fields of the first `nprobe` ranked cells. */
  private def probeCids(cells: Column, nprobe: Int): Column =
    transform(slice(cells, 1, nprobe), s => s.getField("cid"))

  /** IVF ANN: coarse k-means quantizer (fitted on a driver-side sample),
    * vectors assigned to their nearest centroid cell, queries probe the
    * `nprobe` nearest cells and rank candidates by exact cosine. The
    * centroids fold into the plan as literals; candidate cost is
    * Σ probed-cell sizes instead of N per query — the IVF scale path next
    * to [[annTopK]]'s LSH buckets.
    *
    * SCALE: this inline form refits the quantizer (one TakeOrdered
    * sample scan + driver k-means) and re-assigns every corpus vector on
    * EVERY invocation — a correctness baseline, not a serving shape.
    * Serving workloads use the [[AnnIndexIO]] build/search split: the
    * quantizer is fitted once, the corpus encoded once into a
    * cell-partitioned table, and each search prunes to its probed cells
    * at the file-listing level. */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, nCells: Int = 16,
              nprobe: Int = 4, sampleN: Int = 10000): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val v = normalized(vecs, idCol, vecCol)
      .select(col(idCol).as("v_id"), col("vn"))
    // deterministic sample order (by id): the k-means init and the
    // per-centroid summation order depend on it, so an order-free limit
    // would make the fitted quantizer run-dependent
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("q_id"), lit(0).as("rank"),
          lit(0L).as("n_id"), lit(0.0).as("sim")).limit(0)
    val cents = kmeans(sample, nCells)
    // persisted (tracked): both the cell table and the query probes read
    // the assignment — without it the normalize + rank lineage runs twice
    val assigned = graft.CacheRegistry.persistTracked(
      v.withColumn("_cells", cellRanks(col("vn"), cents)))
    val cells = assigned
      .select(col("v_id"), col("vn"),
        col("_cells").getItem(0).getField("cid").as("cid"))
    val qProbes = assigned.filter(queryPred)
      .select(col("v_id").as("q_id"), col("vn").as("qv"),
        explode(probeCids(col("_cells"), nprobe)).as("cid"))
    val scored = qProbes.join(cells, Seq("cid"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("sim", dot(col("qv"), col("vn")))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    scored.withColumn("rank", row_number().over(wq)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** Product-quantization codebooks: split the (unit-normalized) vectors
    * into `m` contiguous subspaces and run the deterministic [[kmeans]]
    * independently per subspace over the driver-side sample. Returns
    * codebooks(s)(c) = centroid c of subspace s. */
  def pqTrain(sample: Array[Array[Double]], m: Int, k: Int,
              iters: Int = 10): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pqTrain on empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val subDim = dim / m
    Array.tabulate(m)(s =>
      kmeans(sample.map(_.slice(s * subDim, (s + 1) * subDim)), k, iters))
  }

  /** PQ-encode: one row per vector, `codes(s)` = 1-based index of the
    * nearest subspace-`s` centroid (argmin-first on ties, matching
    * [[kmeans]]' assignment rule). The codes column IS the compressed
    * index a 100 TB deployment persists: m bytes per vector instead of
    * 4·dim — the 8-subspace/16-centroid default stores 64-dim float
    * vectors in 8 bytes, a 32× scan-size reduction. Codebooks fold into
    * the plan as literals (like the IVF centroids and LSH anchors), so
    * encoding is a pure codegen map over the scan: the sub-slices are
    * materialized as columns first (no CSE across expression copies), and
    * each code is `array_position(dists, array_min(dists))` over the
    * per-centroid native sq-dist kernel. */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val v = normalized(vecs, idCol, vecCol)
      .select(col(idCol).as("v_id"), col("vn"))
    val sliced = v.select(col("v_id") +: col("vn") +:
      (0 until m).map(s => slice(col("vn"), s * subDim + 1, subDim).as(s"_s$s")): _*)
    def code(s: Int): Column = {
      val dists = transform(centMatrixLit(codebooks(s)),
        c => graft.functions.ArrayDot.array_sq_dist(col(s"_s$s"), c))
      array_position(dists, array_min(dists)).cast("int")
    }
    sliced.select(col("v_id"), col("vn"),
      array((0 until m).map(code): _*).as("codes"))
  }

  /** PQ ANN top-k: exact queries against the PQ-compressed corpus —
    * candidates ranked by the asymmetric distance (query dot
    * reconstructed centroid chain, which decomposes per subspace exactly
    * like an ADC lookup table), then the top `rerank` candidates
    * re-scored with the EXACT vectors and cut to k. The scan side reads
    * codes (m bytes/vector); reconstruction is `element_at` into literal
    * codebooks — no join, no shuffle on the corpus side beyond the final
    * per-query top-k window. Composable with [[ivfTopK]]'s coarse cells
    * (IVF-PQ) by running the same encode inside each probed cell.
    *
    * SCALE: flat PQ is by definition a per-query linear scan of ALL codes
    * (a broadcast nested-loop of queries × compressed corpus) — correct,
    * and 32× cheaper than scanning raw vectors, but still O(N) per query.
    * Beyond ~10⁷ corpus rows compose with coarse cells instead:
    * [[ivfPqTopK]] bounds the candidate set to the probed cells. A
    * warning is logged when the optimizer's row estimate for `vecs`
    * exceeds `flatScanWarnRows`. */
  def pqTopK(vecs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, m: Int = 8, codebookK: Int = 16,
             rerank: Int = 100, sampleN: Int = 10000,
             flatScanWarnRows: Long = 10000000L): DataFrame = {
    val spark = vecs.sparkSession
    vecs.queryExecution.optimizedPlan.stats.rowCount.foreach { n =>
      if (n > BigInt(flatScanWarnRows))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pqTopK: flat-PQ ADC scans all $n corpus rows per query; " +
            s"compose with IVF (ivfPqTopK) beyond ~$flatScanWarnRows rows")
    }
    // deterministic sample order (by id) — same contract as ivfTopK
    val v0 = normalized(vecs, idCol, vecCol)
      .select(col(idCol).as("v_id"), col("vn"))
    val sample = v0.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("q_id"), lit(0).as("rank"),
          lit(0L).as("n_id"), lit(0.0).as("sim")).limit(0)
    val codebooks = pqTrain(sample, m, codebookK)
    val encoded = graft.CacheRegistry.persistTracked(
      pqEncode(vecs, idCol, vecCol, codebooks))
    val q = encoded.filter(queryPred)
      .select(col("v_id").as("q_id"), col("vn").as("qv"))
    // native ADC kernel (flat form) — see ivfPqSearchNormalized
    val approx = broadcast(q)
      .join(encoded.select(col("v_id"), col("codes")), col("q_id") =!= col("v_id"))
      .withColumn("asim",
        graft.functions.PqAsim.pq_asim(col("qv"), col("codes"), codebooks))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("v_id"))
    val cand = approx.withColumn("_arn", row_number().over(wa))
      .filter(col("_arn") <= rerank)
      .select(col("q_id"), col("qv"), col("v_id"))
    val exact = cand.join(encoded.select(col("v_id"), col("vn")), "v_id")
      .withColumn("sim", dot(col("qv"), col("vn")))
    val we = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    exact.withColumn("rank", row_number().over(we)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** Driver-side PQ reconstruction of one (already-rotated) vector:
    * per-subspace nearest centroid (argmin-first on ties, the [[kmeans]]
    * assignment rule), concatenated. */
  private def pqReconstructArr(y: Array[Double],
                               books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val subDim = books(0)(0).length
    val out = new Array[Double](y.length)
    var s = 0
    while (s < m) {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < books(s).length) {
        var d = 0.0; var i = 0
        while (i < subDim) {
          val t = y(s * subDim + i) - books(s)(c)(i); d += t * t; i += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      System.arraycopy(books(s)(best), 0, out, s * subDim, subDim)
      s += 1
    }
    out
  }

  private def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val out = new Array[Double](r.length)
    var i = 0
    while (i < r.length) {
      var acc = 0.0; var j = 0
      while (j < x.length) { acc += r(i)(j) * x(j); j += 1 }
      out(i) = acc; i += 1
    }
    out
  }

  /** OPQ — Optimized Product Quantization (Ge, He, Ke, Sun, CVPR 2013):
    * learn an ORTHOGONAL rotation `R` that redistributes variance across
    * the contiguous subspace split before PQ coding, by alternating
    *   1. codebooks ← [[pqTrain]] on the rotated sample `R·x`,
    *   2. R ← argmin over orthogonal R of Σ‖R·x − x̂‖² — the orthogonal
    *      Procrustes solution `U·Vᵀ` from `SVD(X̂·Xᵀ)` (Breeze LAPACK,
    *      deterministic).
    * Plain PQ quantizes whatever falls into dims [0,subDim), …; when
    * correlated dimensions straddle subspace boundaries the independent
    * codebooks waste bits re-coding shared structure — the learned
    * rotation is the published fix. Driver-side over the deterministic
    * sample like every other quantizer fit; `altIters = 0` returns
    * R = I and plain-PQ codebooks (the parity anchor the spec pins).
    * Returns (rotation rows, codebooks). */
  def opqTrain(sample: Array[Array[Double]], m: Int, k: Int,
               altIters: Int = 5, pqIters: Int = 10)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    require(sample.nonEmpty, "opqTrain on empty sample")
    val dim = sample(0).length
    var rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var books = pqTrain(sample, m, k, pqIters)
    for (_ <- 0 until altIters) {
      val y = sample.map(matVec(rot, _))
      books = pqTrain(y, m, k, pqIters)
      val yhat = y.map(pqReconstructArr(_, books))
      // Procrustes: maximize tr(Rᵀ·M), M = X̂·Xᵀ  (columns = samples)
      val xM = new DenseMatrix(dim, sample.length,
        sample.flatten.toArray)                    // column-major: col n = x_n
      val hM = new DenseMatrix(dim, sample.length, yhat.flatten.toArray)
      val m0 = hM * xM.t
      val s = svd(m0)
      val rM = s.U * s.Vt
      rot = Array.tabulate(dim, dim)((i, j) => rM(i, j))
    }
    // final codebooks consistent with the final rotation
    (rot, pqTrain(sample.map(matVec(rot, _)), m, k, pqIters))
  }

  /** Mean squared PQ reconstruction error of `sample` under rotation +
    * codebooks — the objective [[opqTrain]] descends. With coarse
    * centroids `cents` the books code the residual of each rotated vector
    * from its nearest centroid (the OPQ×IVF layout); without, the rotated
    * vector itself. */
  def pqMse(sample: Array[Array[Double]], rot: Array[Array[Double]],
            books: Array[Array[Array[Double]]],
            cents: Array[Array[Double]] = Array.empty): Double = {
    val coarse = IvfPqModel(cents, books)
    val errs = sample.map { x =>
      val r = matVec(rot, x)
      val y =
        if (cents.isEmpty) r
        else {
          val c = cents(coarse.nearestCell(r))
          Array.tabulate(r.length)(i => r(i) - c(i))
        }
      val h = pqReconstructArr(y, books)
      var d = 0.0; var i = 0
      while (i < y.length) { val t = y(i) - h(i); d += t * t; i += 1 }
      d
    }
    errs.sum / errs.length
  }

  // ------------------------------------------- OPQ × IVF (probe-pruned)

  /** OPQ composed with the IVF coarse quantizer — the probe-pruned OPQ
    * regime (FAISS's `OPQ..,IVF..,PQ..` chain): the learned rotation is
    * a PRE-TRANSFORM, so everything downstream of it is the plain IVF-PQ
    * machinery run in the rotated space. Train: learn R on the
    * deterministic sample ([[opqTrain]] — its books are discarded; the
    * served books must quantize cell RESIDUALS), rotate the sample,
    * coarse k-means in rotated space, residual codebooks on the rotated
    * residuals. Orthogonal R preserves norms and angles, so the rotated
    * vectors stay unit and every cell/probe margin carries over; the
    * exact re-rank runs on the ORIGINAL normalized vectors, so rotation
    * fp noise can't perturb the reported similarities. Returns the
    * rotation, the model and the sample's reconstruction MSE
    * ([[pqMse]]), the build-time baseline of the drift monitor. */
  private[graft] def opqIvfTrainNormalized(v: DataFrame, nCells: Int, m: Int,
                                           codebookK: Int, altIters: Int,
                                           sampleN: Int)
      : Option[(Array[Array[Double]], IvfPqModel, Double)] = {
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty) None
    else {
      val (rot, _) = opqTrain(sample, m, codebookK, altIters)
      val rotated = sample.map(matVec(rot, _))
      val cents = kmeans(rotated, nCells)
      val coarse = IvfPqModel(cents, Array(Array(Array.empty[Double])))
      val residuals = rotated.map { y =>
        val ct = cents(coarse.nearestCell(y))
        Array.tabulate(y.length)(i => y(i) - ct(i))
      }
      val model = IvfPqModel(cents, pqTrain(residuals, m, codebookK))
      Some((rot, model, pqMse(sample, rot, model.books, cents)))
    }
  }

  /** Encode = rotate in-plan (matrix-literal over the native dot kernel),
    * then the UNCHANGED IVF-PQ encode on the rotated column — zero drift
    * from the flat path by construction. Output: `(v_id, cid, codes)`. */
  private[graft] def opqIvfEncodeNormalized(v: DataFrame,
                                            rot: Array[Array[Double]],
                                            model: IvfPqModel): DataFrame =
    ivfPqEncodeNormalized(
      v.select(col("v_id"), transform(centMatrixLit(rot),
        r => graft.functions.ArrayDot.array_dot(r, col("vn"))).as("vn")),
      model)

  /** The distinct probed-cell set of the (rotated) queries — ONE tiny
    * job, bounded by nCells — so the caller can fold it into the index
    * scan as a static `cid IN` filter that prunes `cid=` partitions at
    * file-listing level. Uses the SAME rotation/ranking expressions as
    * [[opqIvfSearchNormalized]]'s probe, so the pruned scan is
    * bit-identical to the unpruned one (the downstream cid equi-join
    * already restricts to these cells). */
  private[graft] def opqIvfProbeCids(queries: DataFrame,
                                     rot: Array[Array[Double]],
                                     model: IvfPqModel,
                                     nprobe: Int): Array[Int] = {
    val rotCol = transform(centMatrixLit(rot),
      r => graft.functions.ArrayDot.array_dot(r, col("vn")))
    queries.withColumn("_qr", rotCol)
      .select(explode(probeCids(cellRanks(col("_qr"), model.cents), nprobe))
        .as("cid"))
      .distinct().collect().map(_.getInt(0)).sorted
  }

  /** Search: queries rotate on the fly, probe `nprobe` cells and rank by
    * the asymmetric similarity IN THE ROTATED SPACE (the space the cells
    * and codebooks live in); the top `rerank` re-score exactly against
    * the ORIGINAL normalized vectors (orthogonal R preserves cosine, so
    * the two spaces rank identically in the exact tier). Probe and
    * candidate joins are the same
    * equi-joins as [[ivfPqSearchNormalized]]. */
  private[graft] def opqIvfSearchNormalized(rot: Array[Array[Double]],
                                            model: IvfPqModel,
                                            index: DataFrame, v: DataFrame,
                                            queryPred: Column, k: Int,
                                            nprobe: Int,
                                            rerank: Int): DataFrame = {
    val centLit = centMatrixLit(model.cents)
    val rotCol = transform(centMatrixLit(rot),
      r => graft.functions.ArrayDot.array_dot(r, col("vn")))
    val q = v.filter(queryPred)
      .withColumn("_qr", rotCol)
      .withColumn("_cells", cellRanks(col("_qr"), model.cents))
      .select(col("v_id").as("q_id"), col("vn").as("qv"), col("_qr").as("qr"),
        explode(probeCids(col("_cells"), nprobe)).as("cid"))
    val encoded = index.select(col("v_id"), col("cid"), col("codes"))
      .withColumn("centroid", element_at(centLit, col("cid") + 1))
    // native ADC kernel — see ivfPqSearchNormalized
    val approx = q.join(encoded, Seq("cid"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("asim", graft.functions.PqAsim.pq_asim(
        col("qr"), col("centroid"), col("codes"), model.books))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("v_id"))
    val cand = approx.withColumn("_arn", row_number().over(wa))
      .filter(col("_arn") <= rerank)
      .select(col("q_id"), col("qv"), col("v_id"))
    val exact = cand
      .join(v.select(col("v_id"), col("vn")), "v_id")
      .withColumn("sim", dot(col("qv"), col("vn")))
    val we = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    exact.withColumn("rank", row_number().over(we)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** Fitted IVF-PQ quantizer: `cents` = coarse k-means centroids (over
    * unit-normalized vectors), `books(s)(c)` = residual-PQ centroid `c` of
    * subspace `s`. A few KB total — it folds into query plans as literals
    * and round-trips as typed Parquet rows ([[AnnIndexIO]]), the
    * reference's model-artifact discipline (calibration.py:675-690)
    * applied to the ANN tier: at 100 TB the corpus encode is the expensive
    * pass, so the quantizer + the (v_id, cid, codes) table are build-once
    * artifacts and every query runs [[VectorOps.ivfPqSearch]] over them. */
  case class IvfPqModel(cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]]) {
    def nCells: Int = cents.length
    def m: Int = books.length
    def codebookK: Int = books(0).length
    def subDim: Int = books(0)(0).length
    def dim: Int = m * subDim

    /** Nearest coarse cell, argmin-first on ties — the driver-side twin
      * of [[VectorOps.cellRanks]]' (d, cid) ordering. */
    def nearestCell(x: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Fit the IVF-PQ quantizer from a deterministic (id-ordered) corpus
    * sample: coarse k-means cells, then per-subspace codebooks over the
    * sample's RESIDUALS (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011: residual energy ≪ vector
    * energy, so the same codebook budget quantizes much finer than PQ
    * over raw vectors). None on an empty corpus. */
  def ivfPqTrain(vecs: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 16, m: Int = 8, codebookK: Int = 16,
                 sampleN: Int = 10000): Option[IvfPqModel] =
    ivfPqTrainNormalized(
      normalized(vecs, idCol, vecCol).select(col(idCol).as("v_id"), col("vn")),
      nCells, m, codebookK, sampleN)

  /** Train core over an already-normalized `(v_id, vn)` frame — lets the
    * inline composition share ONE normalize lineage across train /
    * encode / search instead of re-running it per stage. */
  private[graft] def ivfPqTrainNormalized(v: DataFrame, nCells: Int, m: Int,
                                          codebookK: Int,
                                          sampleN: Int): Option[IvfPqModel] = {
    // deterministic sample order (by id) — same contract as ivfTopK/pqTopK
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty) None
    else {
      val cents = kmeans(sample, nCells)
      val coarse = IvfPqModel(cents, Array(Array(Array.empty[Double])))
      // codebooks trained on the sample's residuals (argmin-first cell
      // rule, identical to the distributed assignment in ivfPqEncode)
      val residuals = sample.map { x =>
        val ct = cents(coarse.nearestCell(x))
        Array.tabulate(x.length)(i => x(i) - ct(i))
      }
      Some(IvfPqModel(cents, pqTrain(residuals, m, codebookK)))
    }
  }

  /** IVF-PQ corpus encode — the build-once index pass: one coarse
    * assignment (zero-shuffle literal-centroid sorted-struct ranking,
    * native sq-dist), residual = vn − centroid via `zip_with`,
    * per-subspace codes against literal codebooks — all codegen over one
    * scan, stateless per row (so the same call ingests a STREAM of
    * arriving vectors, see [[graft.streaming.AnnIngest]]). Returns the
    * persistable index table `(v_id, cid, codes)`: m bytes + a cell id
    * per vector. */
  def ivfPqEncode(vecs: DataFrame, idCol: String, vecCol: String,
                  model: IvfPqModel): DataFrame =
    ivfPqEncodeNormalized(
      normalized(vecs, idCol, vecCol).select(col(idCol).as("v_id"), col("vn")),
      model)

  /** Encode core over an already-normalized `(v_id, vn)` frame — shared
    * verbatim by batch ([[ivfPqEncode]]) and streaming ingest
    * ([[graft.streaming.AnnIngest]]), so the two paths cannot drift. */
  private[graft] def ivfPqEncodeNormalized(v: DataFrame,
                                           model: IvfPqModel): DataFrame = {
    val m = model.m
    val subDim = model.subDim
    // centroid lookup through the same single-literal matrix the ranking
    // uses; the assignment itself is the zero-shuffle sorted-struct ranking
    val centLit = centMatrixLit(model.cents)
    val sliced = v
      .withColumn("cid", cellRanks(col("vn"), model.cents)
        .getItem(0).getField("cid"))
      .withColumn("centroid", element_at(centLit, col("cid") + 1))
      .withColumn("res", zip_with(col("vn"), col("centroid"), _ - _))
      .select(col("v_id") +: col("cid") +:
        (0 until m).map(s =>
          slice(col("res"), s * subDim + 1, subDim).as(s"_s$s")): _*)
    def code(s: Int): Column = {
      val dists = transform(centMatrixLit(model.books(s)),
        c => graft.functions.ArrayDot.array_sq_dist(col(s"_s$s"), c))
      array_position(dists, array_min(dists)).cast("int")
    }
    sliced.select(col("v_id"), col("cid"),
      array((0 until m).map(code): _*).as("codes"))
  }

  /** IVF-PQ search over a prebuilt `(v_id, cid, codes)` index table:
    * queries (drawn from `corpus` by `queryPred`) probe the `nprobe`
    * nearest cells, candidates are ranked by the asymmetric similarity
    * qv · (centroid + reconstructed residual) — `element_at` into literal
    * codebooks, no join — and the top `rerank` are re-scored exactly
    * against the corpus vectors. Candidate cost is Σ probed-cell sizes at
    * code width — the shape that holds at 10⁹ vectors. Both the candidate
    * and re-rank joins are equi-joins (plan-audited: zero nested-loop). */
  def ivfPqSearch(model: IvfPqModel, index: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, queryPred: Column, k: Int,
                  nprobe: Int = 4, rerank: Int = 100): DataFrame =
    // persisted (tracked): the normalized corpus feeds the probe side and
    // the exact re-rank — two consumers of the same normalize lineage
    ivfPqSearchNormalized(model, index,
      graft.CacheRegistry.persistTracked(
        normalized(corpus, idCol, vecCol)
          .select(col(idCol).as("v_id"), col("vn"))),
      queryPred, k, nprobe, rerank)

  /** Search core over an already-normalized (and caller-persisted)
    * `(v_id, vn)` corpus frame. */
  private[graft] def ivfPqSearchNormalized(model: IvfPqModel, index: DataFrame,
                                           v: DataFrame, queryPred: Column,
                                           k: Int, nprobe: Int,
                                           rerank: Int): DataFrame = {
    val centLit = centMatrixLit(model.cents)
    val q = v.filter(queryPred)
      .withColumn("_cells", cellRanks(col("vn"), model.cents))
      .select(col("v_id").as("q_id"), col("vn").as("qv"),
        explode(probeCids(col("_cells"), nprobe)).as("cid"))
    val encoded = index.select(col("v_id"), col("cid"), col("codes"))
      .withColumn("centroid", element_at(centLit, col("cid") + 1))
    // r17: the ADC rank runs as ONE native kernel eval per candidate
    // ([[graft.functions.PqAsim]]) — the element_at/flatten/zip_with/dot
    // chain allocated three arrays and evaluated interpreted lambdas per
    // candidate row (bit parity spec-pinned)
    val approx = q.join(encoded, Seq("cid"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("asim", graft.functions.PqAsim.pq_asim(
        col("qv"), col("centroid"), col("codes"), model.books))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("v_id"))
    val cand = approx.withColumn("_arn", row_number().over(wa))
      .filter(col("_arn") <= rerank)
      .select(col("q_id"), col("qv"), col("v_id"))
    val exact = cand
      .join(v, "v_id")
      .withColumn("sim", dot(col("qv"), col("vn")))
    val we = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    exact.withColumn("rank", row_number().over(we)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** IVF-PQ ANN, inline composition: [[ivfPqTrain]] → [[ivfPqEncode]] →
    * [[ivfPqSearch]] in one call (the index table lives in the cache
    * registry instead of Parquet). A deployment that queries more than
    * once should build the index ONCE via [[AnnIndexIO.build]] and call
    * [[ivfPqSearch]] over the loaded artifacts — bit-identical results,
    * no per-call refit/re-encode. */
  def ivfPqTopK(vecs: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int, nCells: Int = 16, nprobe: Int = 4,
                m: Int = 8, codebookK: Int = 16, rerank: Int = 100,
                sampleN: Int = 10000): DataFrame = {
    // ONE normalize lineage, persisted, shared by all three stages —
    // train sample, corpus encode, and probe/re-rank all read `v`
    val v = graft.CacheRegistry.persistTracked(
      normalized(vecs, idCol, vecCol).select(col(idCol).as("v_id"), col("vn")))
    ivfPqTrainNormalized(v, nCells, m, codebookK, sampleN) match {
      case None =>
        vecs.sparkSession.emptyDataFrame
          .select(lit(0L).as("q_id"), lit(0).as("rank"),
            lit(0L).as("n_id"), lit(0.0).as("sim")).limit(0)
      case Some(model) =>
        val index = graft.CacheRegistry.persistTracked(
          ivfPqEncodeNormalized(v, model))
        ivfPqSearchNormalized(model, index, v, queryPred, k, nprobe, rerank)
    }
  }

  // ---------------------------------------- hierarchical IVF-PQ (IMI)

  /** Coarse-cell count above which the index tier defaults to the
    * TWO-LEVEL quantizer: the flat per-row assignment costs
    * O(nCells·dim) distance kernels — fine at 10²-10³ cells, the wrong
    * default at the 10⁴-10⁵ cells a 10⁹-row corpus wants — while the
    * two-level form costs O(2·√nCells·dim) for the same effective cell
    * count. 1024 ≈ where the flat assignment's per-row work (65k mults
    * at dim 64) starts dominating the scan; both forms share the same
    * `(v_id, cid, codes)` index layout so the switch is invisible to
    * the search tier ([[AnnIndexIO.searchAuto]] dispatches on the
    * persisted quantizer kind). */
  val HierCellThreshold: Int = 1024

  /** The two-level arity for a requested flat cell count:
    * k1 = k2 = ⌈√nCells⌉ (nominal k1·k2 ≥ nCells). */
  def hierArity(nCells: Int): Int =
    math.ceil(math.sqrt(nCells.toDouble)).toInt

  /** Two-level IVF-PQ: the [[hierKmeans]] coarse quantizer composed with
    * residual product quantization — the inverted-multi-index shape that
    * carries the ANN tier to 10⁴–10⁵ cells: assignment and probing cost
    * O((k1+k2)·dim) per row instead of the flat O(nCells·dim), while the
    * index stays the same `(v_id, cid, codes)` table (global cid =
    * scid·stride + ccid). */
  case class IvfPqHierModel(coarse: HierKmeansModel,
                            books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def subDim: Int = books(0)(0).length

    /** Driver-side twin of [[assignHierCells]]: nearest super, then
      * nearest child of that super, both argmin-first. */
    def nearestCell(x: Array[Double]): (Int, Int) = {
      def argmin(cents: Array[Array[Double]]): Int = {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
      val sc = argmin(coarse.supers)
      (sc, argmin(coarse.children(sc)))
    }
  }

  /** Fit: two-level coarse quantizer over the deterministic sample, then
    * per-subspace codebooks over the sample's residuals against the
    * assigned CHILD centroid (same residual discipline as
    * [[ivfPqTrainNormalized]]). */
  private[graft] def ivfPqTrainHierNormalized(v: DataFrame, k1: Int, k2: Int,
                                              m: Int, codebookK: Int,
                                              sampleN: Int): Option[IvfPqHierModel] = {
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty) None
    else {
      val coarse = hierKmeans(sample, k1, k2)
      val model0 = IvfPqHierModel(coarse, Array(Array(Array.empty[Double])))
      val residuals = sample.map { x =>
        val (sc, cc) = model0.nearestCell(x)
        val ct = coarse.children(sc)(cc)
        Array.tabulate(x.length)(i => x(i) - ct(i))
      }
      Some(IvfPqHierModel(coarse, pqTrain(residuals, m, codebookK)))
    }
  }

  /** The ragged children matrix as ONE 3-D literal. */
  private def childMatrixLit(model: HierKmeansModel): Column =
    typedLit(model.children.map(
      _.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)

  /** The children matrix as a ONE-ROW broadcast frame (`_jk` = 1,
    * `_cmat` = the 3-D matrix). A plan LITERAL of k1·k2·dim doubles
    * (5 MB boxed at 10⁴ cells × 64 dims) is Java-deserialized per TASK
    * in every stage that references it — measured ~4 s of pure
    * scheduling overhead per hier search at 32 tasks/stage — while a
    * broadcast relation ships binary UnsafeRows once per executor.
    * Consumers join on the constant key and must project the per-row
    * derivation (probe list, centroid) in the SAME codegen stage, so
    * the matrix never copies per output row. Streaming encode keeps the
    * literal form ([[assignHierCells]]): a pure projection stays legal
    * in any stream position, and the encode stage count is 1. */
  private def childMatFrame(spark: SparkSession,
                            model: HierKmeansModel): DataFrame = {
    import spark.implicits._
    Seq((1, model.children.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("_jk", "_cmat")
  }

  /** (cid, centroid) child-centroid rows — the broadcast-join form of
    * the per-candidate centroid lookup (k1·k2 rows, a few MB). */
  private def childCentFrame(spark: SparkSession,
                             model: HierKmeansModel): DataFrame = {
    import spark.implicits._
    model.children.zipWithIndex.flatMap { case (cs, si) =>
      cs.zipWithIndex.map { case (c, ci) =>
        (si * model.stride + ci, c.toSeq)
      }
    }.toSeq.toDF("cid", "centroid")
  }

  /** DISTINCT probed cell ids of a (v_id, vn) query frame — the tiny
    * driver-collectable probe set (bounded by k1·k2) the served search
    * folds into the index scan as static partition/row-group filters.
    * Rides the broadcast matrix frame, not a plan literal. */
  private[graft] def probeCidFrame(queries: DataFrame,
                                   model: HierKmeansModel,
                                   probeSupers: Int, nprobe: Int): DataFrame =
    queries.withColumn("_jk", lit(1))
      .join(broadcast(childMatFrame(queries.sparkSession, model)), "_jk")
      .select(explode(hierProbeCidsOver(col("vn"), col("_cmat"),
        model.supers, model.stride, probeSupers, nprobe)).as("cid"))
      .distinct()

  /** Encode: two-level assignment ([[assignHierCells]]) → residual vs the
    * assigned child centroid → per-subspace codes. Same stateless
    * per-row shape as the flat encode (stream-ingestable). */
  private[graft] def ivfPqEncodeHierNormalized(v: DataFrame,
                                               model: IvfPqHierModel): DataFrame = {
    val m = model.m
    val subDim = model.subDim
    val childLit = childMatrixLit(model.coarse)
    val sliced = assignHierCells(v, "vn", model.coarse)
      .withColumn("centroid",
        element_at(element_at(childLit, col("scid") + 1), col("ccid") + 1))
      .withColumn("res", zip_with(col("vn"), col("centroid"), _ - _))
      .select(col("v_id") +: col("cid") +:
        (0 until m).map(s =>
          slice(col("res"), s * subDim + 1, subDim).as(s"_s$s")): _*)
    def code(s: Int): Column = {
      val dists = transform(centMatrixLit(model.books(s)),
        c => graft.functions.ArrayDot.array_sq_dist(col(s"_s$s"), c))
      array_position(dists, array_min(dists)).cast("int")
    }
    sliced.select(col("v_id"), col("cid"),
      array((0 until m).map(code): _*).as("codes"))
  }

  /** Probed global cell ids for a query vector: rank supers by distance,
    * take the `probeSupers` nearest, rank ALL their children jointly by
    * exact child distance (ties on the lower global cid, the
    * [[cellRanks]] rule), take `nprobe`. Pure narrow compute over the
    * two matrix literals — O((k1 + probeSupers·k2)·dim) per query. */
  private[graft] def hierProbeCids(vn: Column, model: HierKmeansModel,
                                   probeSupers: Int, nprobe: Int): Column =
    hierProbeCidsOver(vn, childMatrixLit(model), model.supers, model.stride,
      probeSupers, nprobe)

  /** [[hierProbeCids]] over an EXPLICIT children-matrix Column — either
    * the literal (streaming / tiny models) or the broadcast frame's
    * `_cmat` (the served batch path). Arithmetic identical either way. */
  private def hierProbeCidsOver(vn: Column, childMat: Column,
                                supers: Array[Array[Double]], stride: Int,
                                probeSupers: Int, nprobe: Int): Column = {
    val superLit = centMatrixLit(supers)
    val rankedSupers = array_sort(zip_with(
      transform(superLit, c => graft.functions.ArrayDot.array_sq_dist(vn, c)),
      sequence(lit(0), lit(supers.length - 1)),
      (d, i) => struct(d.as("d"), i.cast("int").as("cid"))))
    val topS = transform(slice(rankedSupers, 1, probeSupers),
      s => s.getField("cid"))
    val childStructs = flatten(transform(topS, sc => {
      val children = element_at(childMat, sc + 1)
      zip_with(
        transform(children,
          c => graft.functions.ArrayDot.array_sq_dist(vn, c)),
        sequence(lit(0), size(children) - 1),
        (d, i) => struct(d.as("d"), (sc * stride + i).cast("int").as("cid")))
    }))
    transform(slice(array_sort(childStructs), 1, nprobe),
      s => s.getField("cid"))
  }

  /** Search over a prebuilt hier index — the flat [[ivfPqSearchNormalized]]
    * with the two-level probe and child-centroid reconstruction. */
  private[graft] def ivfPqSearchHierNormalized(model: IvfPqHierModel,
                                               index: DataFrame, v: DataFrame,
                                               queryPred: Column, k: Int,
                                               probeSupers: Int, nprobe: Int,
                                               rerank: Int): DataFrame = {
    val spark = index.sparkSession
    val stride = model.coarse.stride
    // both sides ride broadcast relations, not plan literals — see
    // childMatFrame: a 5 MB literal re-deserializes per task per stage
    val q = v.filter(queryPred)
      .withColumn("_jk", lit(1))
      .join(broadcast(childMatFrame(spark, model.coarse)), "_jk")
      .select(col("v_id").as("q_id"), col("vn").as("qv"),
        explode(hierProbeCidsOver(col("vn"), col("_cmat"),
          model.coarse.supers, stride, probeSupers, nprobe)).as("cid"))
    val encoded = index.select(col("v_id"), col("cid"), col("codes"))
      .join(broadcast(childCentFrame(spark, model.coarse)), Seq("cid"))
    // native ADC kernel — see ivfPqSearchNormalized
    val approx = q.join(encoded, Seq("cid"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("asim", graft.functions.PqAsim.pq_asim(
        col("qv"), col("centroid"), col("codes"), model.books))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("v_id"))
    val cand = approx.withColumn("_arn", row_number().over(wa))
      .filter(col("_arn") <= rerank)
      .select(col("q_id"), col("qv"), col("v_id"))
    val exact = cand
      .join(v, "v_id")
      .withColumn("sim", dot(col("qv"), col("vn")))
    val we = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("v_id"))
    exact.withColumn("rank", row_number().over(we)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("v_id").as("n_id"), col("sim"))
  }

  /** Hier IVF-PQ ANN, inline composition — train → encode → search over
    * ONE persisted normalize lineage. With k1 = 1 this is bit-identical
    * to [[ivfPqTopK]] at nCells = k2 (spec-pinned): a single super cell
    * makes the two-level fit, assignment, probe ranking, residuals, and
    * codes all collapse to the flat forms. */
  def ivfPqHierTopK(vecs: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int, k1: Int = 16, k2: Int = 16,
                    probeSupers: Int = 4, nprobe: Int = 16, m: Int = 8,
                    codebookK: Int = 16, rerank: Int = 100,
                    sampleN: Int = 10000): DataFrame = {
    val v = graft.CacheRegistry.persistTracked(
      normalized(vecs, idCol, vecCol).select(col(idCol).as("v_id"), col("vn")))
    ivfPqTrainHierNormalized(v, k1, k2, m, codebookK, sampleN) match {
      case None =>
        vecs.sparkSession.emptyDataFrame
          .select(lit(0L).as("q_id"), lit(0).as("rank"),
            lit(0L).as("n_id"), lit(0.0).as("sim")).limit(0)
      case Some(model) =>
        val index = graft.CacheRegistry.persistTracked(
          ivfPqEncodeHierNormalized(v, model))
        ivfPqSearchHierNormalized(model, index, v, queryPred, k,
          probeSupers, nprobe, rerank)
    }
  }

  /** Banded sign-LSH near-duplicate pairs — the scale shape for
    * [[nearDupPairs]] (which stays as the exact all-pairs verification
    * baseline for small inputs).
    *
    * Anchor rows (a fixed, deterministic subset of the corpus selected by
    * `anchorPred`) are collected to the driver and folded into the plan as
    * array literals — the same move as the IVF coarse quantizer — so the
    * per-row band keys are pure codegen'd Column math: no anchor join, no
    * row replication. Each band key is `rowsPerBand` sign bits of
    * vn·anchor (random-hyperplane LSH); a pair is a candidate if it agrees
    * on ALL bits of ANY band, then candidates are verified with the exact
    * cosine. Cost is one shuffle on (band_id, band_key) plus Σ bucket²
    * bucket-local pairs instead of N² — with miss probability
    * (1 − pᵏ)ᵇ per true pair, p = 1 − θ/π per bit (≈1.4% at cos θ = 0.9
    * with 4×4 bands), vs. the all-pairs join that cannot run at 100 TB. */
  /** Default hot-bucket cap for [[nearDupPairsLsh]] — shared with the
    * oracle builder. */
  val DefaultMaxBucket: Int = 1000

  def nearDupPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                      anchorPred: Column, bands: Int, rowsPerBand: Int,
                      minCosine: Double, multiProbe: Boolean = false,
                      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    val n = normalized(vecs, idCol, vecCol)
      .transform(graft.CacheRegistry.persistTracked(_))
    val anchors = vecs.filter(anchorPred)
      .select(col(idCol).as("a_id"), toDouble(col(vecCol)).as("av"))
      .orderBy("a_id").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("av").toArray)
    require(anchors.length == bands * rowsPerBand,
      s"anchorPred selected ${anchors.length} rows, need ${bands * rowsPerBand}")
    def bit(b: Int, r: Int): Column = {
      val av = array(anchors(b * rowsPerBand + r).toIndexedSeq.map(lit): _*)
      when(dot(col("vn"), av) > 0, "1").otherwise("0")
    }
    def flip(c: Column): Column = when(c === "1", "0").otherwise("1")
    // exact band keys; with multiProbe also every Hamming-1 key per band —
    // probe side carries (1 + rowsPerBand) keys, index side stays exact, so
    // a Hamming-≤1 band difference still collides (found from either end by
    // flip symmetry; recall 1-(1-(p^k + k·p^(k-1)(1-p)))^b vs 1-(1-p^k)^b)
    val exactKey = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        concat((0 until rowsPerBand).map(bit(b, _)): _*).as("band_key"))
    }
    val probeKey = exactKey ++ (if (!multiProbe) Nil else
      for (b <- 0 until bands; f <- 0 until rowsPerBand) yield
        struct(lit(b).as("band_id"),
          concat((0 until rowsPerBand).map(r =>
            if (r == f) flip(bit(b, r)) else bit(b, r)): _*).as("band_key")))
    def keyed(keys: Seq[Column], id: String) =
      n.select(col(idCol).as(id), explode(array(keys: _*)).as("_k"))
        .select(col(id), col("_k.band_id").as("band_id"),
          col("_k.band_key").as("band_key"))
    // HOT-BUCKET CAP (the TextOps.minhashPairsFromBands:113 discipline,
    // measured necessary at the 10× bench sweep: uncapped, a filling
    // bucket makes the candidate join Σ |bucket|² — the only superlinear
    // head in the sweep). INDEX side only: each (band_id, band_key)
    // bucket keeps its cap smallest ids as join candidates, so the
    // join output is bounded by |probe bucket|·cap — linear in N — while
    // the probe side needs no cap (its growth is one row per vector per
    // key) and skips a pre-join sort. Canonical keepers (lowest ids)
    // still pair; a pair of two beyond-cap members of a hot bucket is
    // the documented recall miss (either member still pairs with the
    // bucket's keepers, so duplicate CLUSTERS are still detected).
    // None = exact.
    val indexSide = maxBucket match {
      case Some(c) =>
        val w = Window.partitionBy(col("band_id"), col("band_key"))
          .orderBy(col("id_b"))
        keyed(exactKey, "id_b").withColumn("_brn", row_number().over(w))
          .filter(col("_brn") <= c).drop("_brn")
      case None => keyed(exactKey, "id_b")
    }
    val cand = keyed(probeKey, "id_a")
      .join(indexSide, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(n.select(col(idCol).as("id_a"), col("vn").as("va")), "id_a")
      .join(n.select(col(idCol).as("id_b"), col("vn").as("vb")), "id_b")
      .withColumn("sim", dot(col("va"), col("vb")))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding near-duplicate pairs: all (a<b) with cosine >= threshold.
    * Vectors are unit-normalized once up front, so the O(N²) inner loop is
    * a single dot product. Brute all-pairs — the small-input verification
    * baseline for [[nearDupPairsLsh]], which is the scale path. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   minCosine: Double): DataFrame = {
    val n = normalized(vecs, idCol, vecCol)
    val a = n.select(col(idCol).as("id_a"), col("vn").as("va"))
    val b = n.select(col(idCol).as("id_b"), col("vn").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-LSH RECALL AUDIT (the TextOps.lshRecallAudit discipline
    * applied to the sign-LSH family): ground truth = the brute all-pairs
    * cosine gate ([[nearDupPairs]] — QUADRATIC, audit-scale only; unlike
    * the simhash/image audits there is no pigeonhole equi-join truth for
    * cosine), candidate = the shipped banded chain
    * ([[nearDupPairsLsh]]). found ⊆ true by construction (the LSH chain
    * verifies with the same exact cosine), so one measured row
    * `(n_true, n_found, recall)` prices the band-miss probability PLUS
    * the hot-bucket cap on this corpus — the number the (1−pᵏ)ᵇ formula
    * only estimates. One persisted scan feeds both chains. Run on a
    * SAMPLE when tuning bands/anchors for a new corpus. */
  def embRecallAudit(vecs: DataFrame, idCol: String, vecCol: String,
                     anchorPred: Column, bands: Int, rowsPerBand: Int,
                     minCosine: Double, multiProbe: Boolean = false,
                     maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    val v = graft.CacheRegistry.persistTracked(
      vecs.select(col(idCol), col(vecCol)))
    val exact = nearDupPairs(v, idCol, vecCol, minCosine)
      .select(col("id_a"), col("id_b"))
    val found = nearDupPairsLsh(v, idCol, vecCol, anchorPred, bands,
        rowsPerBand, minCosine, multiProbe, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1).as("_f"))
    graft.operators.TextOps.recallRollup(exact, found, Seq("id_a", "id_b"))
  }

  /** SemDeDup — SEMANTIC dedup over embeddings (Abbas et al. 2023,
    * arXiv:2303.09540, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): cluster the normalized embeddings
    * with the deterministic coarse k-means, then WITHIN each cell drop
    * every vector that has a lower-id member at cosine ≥ `threshold` —
    * one representative per duplicate chain survives (the public
    * SemDeDup implementation's keep-the-first-in-order rule, with the
    * stable id order standing in for its cluster-internal ordering).
    *
    * Scale shape — the reason the recipe clusters FIRST: the quadratic
    * pair scoring is bounded per cell (Σ|cell|² ≪ N²), the cell join is a
    * plain equi-join on cid, and the centroids fold into the plan as
    * literals (no join, no shuffle for the assignment). Cross-cell
    * near-dups are missed by construction — the paper's documented
    * recall tradeoff, tuned via nCells.
    *
    * Output: (v_id, cid, is_kept) for every input vector. */
  /** CLUSTER-BALANCED temperature sampling — the data-mixing stage over
    * the EMBEDDING space instead of source labels: assign each vector to
    * a deterministic coarse k-means cell (the [[semDedup]] quantizer
    * contract: sample by id, [[kmeans]], nearest-cell with (distance,
    * cid) tie-break) and rebalance across cells with the
    * [[SampleOps.mixtureTemperature]] τ=1/2 rule — keep-rate
    * `sqrt(c_min/c_cell)`, salted-hash thresholding, so over-represented
    * semantic regions (boilerplate clusters, template farms) are
    * down-sampled and rare regions survive whole. The semantic sibling
    * of source-mixture sampling: sources say where text CAME FROM,
    * cells say what it IS ABOUT. Returns kept rows (v_id, cid, rate).
    *
    * Scale shape: the quantizer is a fit-small collect (`limit(sampleN)`
    * codebook discipline); assignment is the single-literal centroid
    * matrix (no join); rates are a cell-bounded aggregate broadcast
    * back; the keep decision is row-local hashing — the corpus never
    * shuffles. */
  def clusterMixture(vecs: DataFrame, idCol: String, vecCol: String,
                     nCells: Int = 256, sampleN: Int = 10000,
                     salt: String = "graft"): DataFrame = {
    // vn MUST be materialized (persistTracked — the AnnIndexIO serving
    // discipline): CollapseProject inlines the normalize chain into
    // cellRanks' per-cell lambda (one reference → "cheap" to inline),
    // and with no CSE across HOF boundaries the norm aggregate then
    // re-evaluates per cell per element — measured as one AQE-coalesced
    // task interpreting O(cells·dim²) per row at 10×
    val v = graft.CacheRegistry.persistTracked(
      normalized(vecs, idCol, vecCol)
        .select(col(idCol).as("v_id"), col("vn")))
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    val cells =
      if (sample.isEmpty) v.select(col("v_id"), lit(0).as("cid")).limit(0)
      else {
        val cents = kmeans(sample, nCells)
        v.select(col("v_id"),
          cellRanks(col("vn"), cents).getItem(0).getField("cid").as("cid"))
      }
    SampleOps.mixtureTemperature(cells, "v_id", "cid", salt)
  }

  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nCells: Int = 16,
               sampleN: Int = 10000,
               maxCellCompare: Option[Int] = None): DataFrame = {
    val spark = vecs.sparkSession
    val v = normalized(vecs, idCol, vecCol)
      .select(col(idCol).as("v_id"), col("vn"))
    // deterministic sample order (by id) — same quantizer contract as ivfTopK
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty) return emptySemDedup(spark)
    val cents = kmeans(sample, nCells)
    semDedupWithinCells(
      v.withColumn("cid",
        cellRanks(col("vn"), cents).getItem(0).getField("cid")),
      threshold, maxCellCompare)
  }

  /** [[semDedup]] with the TWO-LEVEL quantizer — the 10⁴–10⁵-cell scale
    * path: identical keep-first semantics, cells from [[hierKmeans]] +
    * [[assignHierCells]] (O((k1+k2)·dim) per row instead of
    * O(k1·k2·dim)). nCells = the populated (scid, ccid) leaves,
    * numbered scid·stride + ccid. */
  def semDedupHier(vecs: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, k1: Int = 16, k2: Int = 16,
                   sampleN: Int = 10000,
                   maxCellCompare: Option[Int] = None): DataFrame = {
    val spark = vecs.sparkSession
    val v = normalized(vecs, idCol, vecCol)
      .select(col(idCol).as("v_id"), col("vn"))
    val sample = v.orderBy("v_id").limit(sampleN).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vn").toArray)
    if (sample.isEmpty) return emptySemDedup(spark)
    val model = hierKmeans(sample, k1, k2)
    semDedupWithinCells(
      assignHierCells(v, "vn", model).select(col("v_id"), col("vn"), col("cid")),
      threshold, maxCellCompare)
  }

  private def emptySemDedup(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.emptyDataFrame
      .select(lit(0L).as("v_id"), lit(0).as("cid"),
        lit(true).as("is_kept")).limit(0)

  /** The shared intra-cell keep-first pass over an assigned `(v_id, vn,
    * cid)` frame: drop every vector with a lower-id same-cell member at
    * cosine ≥ threshold.
    *
    * `maxCellCompare` is the HOT-CELL CAP (the [[graft.operators.TextOps]]
    * per-band-rank-cap discipline applied here): when set, only each
    * cell's `cap` lowest-id members serve as the comparison (b) side, so
    * a skewed cell costs |cell|·cap pairs instead of |cell|² — the
    * difference between a bounded task and a straggler that never
    * finishes when one cell collects 10⁷ near-identical web pages.
    * Documented recall tradeoff: a duplicate whose ONLY lower-id match
    * ranks beyond the cap survives; representatives (lowest ids) are
    * never affected. None = exact (every lower-id member compares). */
  private def semDedupWithinCells(assigned: DataFrame, threshold: Double,
                                  maxCellCompare: Option[Int]): DataFrame = {
    // persisted (tracked): both sides of the intra-cell pair join read it
    val cells = graft.CacheRegistry.persistTracked(assigned)
    val bSide = maxCellCompare match {
      case None => cells
      case Some(cap) =>
        val w = Window.partitionBy(col("cid")).orderBy(col("v_id"))
        cells.withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= cap).drop("_rk")
    }
    val dup = cells.as("a")
      .join(bSide.as("b"),
        col("a.cid") === col("b.cid") && col("b.v_id") < col("a.v_id"))
      .filter(dot(col("a.vn"), col("b.vn")) >= threshold)
      .select(col("a.v_id").as("v_id")).distinct()
    cells
      .join(dup.withColumn("_dup", lit(true)), Seq("v_id"), "left")
      .select(col("v_id"), col("cid"),
        coalesce(col("_dup"), lit(false)).as("_d"))
      .select(col("v_id"), col("cid"), (!col("_d")).as("is_kept"))
  }

  // ------------------------------------------- two-level coarse quantizer

  /** Two-level hierarchical coarse quantizer (the IMI / hierarchical-
    * k-means shape): `supers(s)` = level-1 centroid, `children(s)(c)` =
    * level-2 centroid inside super-cell `s`. Global cell id =
    * scid·stride + ccid (stride = max children per super) — sparse but
    * deterministic and stable under refit of other supers' children.
    *
    * WHY: the flat quantizer's assignment costs O(nCells·dim) per row —
    * fine at 10² cells, hopeless at the 10⁴–10⁵ cells the SemDeDup
    * recipe wants over 10⁹ rows. Two-level assignment is O((k1+k2)·dim):
    * at k1 = k2 = 316 that's ~630 distance kernels for 10⁵ effective
    * cells, a 160× cut, while both argmins stay narrow map-side compute
    * (single-literal matrices, no join, no shuffle). */
  case class HierKmeansModel(supers: Array[Array[Double]],
                             children: Array[Array[Array[Double]]]) {
    val stride: Int = children.map(_.length).max
    def nCells: Int = children.map(_.length).sum
  }

  /** Fit: level-1 [[kmeans]] over the sample, then an independent
    * level-2 [[kmeans]] over each super-cell's sample members
    * (argmin-first assignment, members in sample order — the grouped
    * twin of [[pqTrain]]'s per-subspace fits). A super-cell with no
    * sample members keeps its super centroid as a single child, so
    * corpus vectors landing there at assignment time still get a cell. */
  def hierKmeans(sample: Array[Array[Double]], k1: Int, k2: Int,
                 iters: Int = 10): HierKmeansModel = {
    require(sample.nonEmpty, "hierKmeans on empty sample")
    val supers = kmeans(sample, k1, iters)
    val members = Array.fill(supers.length)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
    sample.foreach { v =>
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < supers.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - supers(c)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      members(best) += v
    }
    // r17: the per-super child fits are independent sequential kmeans
    // calls — run them in parallel into fixed slots (bit-identical to
    // the sequential loop regardless of scheduling)
    val children = new Array[Array[Array[Double]]](supers.length)
    java.util.stream.IntStream.range(0, supers.length).parallel().forEach { s =>
      children(s) =
        if (members(s).isEmpty) Array(supers(s).clone())
        else kmeans(members(s).toArray, k2, iters)
    }
    HierKmeansModel(supers, children)
  }

  /** Fitted PCA state: `mean` (d), `components` (k rows of d, unit
    * length, descending eigenvalue), `eigenvalues` (k, population —
    * the 1/n covariance the one-pass moment aggregate yields). */
  case class PcaModel(mean: Array[Double],
                      components: Array[Array[Double]],
                      eigenvalues: Array[Double])

  /** Distributed PCA fit over an embedding column — the standard
    * dimensionality-reduction stage in front of a quantized ANN index
    * (FAISS's public PCAR preprocessing; Jégou et al. 2011 pair PQ
    * with a PCA rotation): covariance by ONE map-side-combined moment
    * aggregate, eigendecomposition on the driver, projection applied
    * as k codegen'd dot products ([[pcaApply]]).
    *
    * Scale shape: the single pass ships d + d² doubles per row into a
    * partial aggregate (the [[graft.functions.ArrayMean]] buffer), so
    * the reduce traffic is partitions × d² — independent of row count.
    * That is the right trade up to d of a few hundred (64² = 4 KB/row
    * of transient compute, 32 KB total state); past that, fit on a
    * bounded sample (the fit-small/apply-big discipline every model op
    * here follows) — the APPLY side stays O(k·d) per row either way.
    * Driver state is the d×d matrix, never the corpus.
    *
    * Determinism: eigenvector SIGN is fixed by making each component's
    * largest-|entry| coordinate positive (first such index on exact
    * ties) — the same convention [[graft.operators.LabelingOps]] uses
    * for its PC1 — and components are ordered by DESCENDING eigenvalue
    * with the eigendecomposition's own order breaking exact ties. */
  def pcaFit(vecs: DataFrame, vecCol: String, k: Int): PcaModel = {
    val vd = toDouble(col(vecCol))
    // one aggregate row: element-wise means of [x ++ flatten(x ⊗ x)],
    // plus the input dim range — ragged vectors would silently truncate
    // or zero-fill inside the moment buffer, so they are rejected here
    val head = vecs
      .select(concat(vd, flatten(transform(vd,
        x => transform(vd, y => x * y)))).as("_m"), size(vd).as("_d"))
      .agg(graft.functions.ArrayMean.arrayMean(col("_m")).as("m"),
        min(col("_d")).as("dmin"), max(col("_d")).as("dmax"))
      .head()
    require(!head.isNullAt(0), "pcaFit needs at least one non-null vector")
    require(head.getAs[Int]("dmin") == head.getAs[Int]("dmax"),
      s"pcaFit needs a fixed dimension, got ${head.getAs[Int]("dmin")}" +
        s"..${head.getAs[Int]("dmax")}")
    val moments = head.getSeq[Double](0).toArray
    val d = (math.sqrt(moments.length + 0.25) - 0.5).round.toInt
    require(d.toLong * d + d == moments.length,
      s"bad moment arity ${moments.length}")
    val mean = java.util.Arrays.copyOfRange(moments, 0, d)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) =>
      moments(d + i * d + j) - mean(i) * mean(j))
    val es = breeze.linalg.eigSym(cov)  // ascending eigenvalues
    require(k >= 1 && k <= d, s"k=$k out of range for dim $d")
    val order = (0 until d).sortBy(i => (-es.eigenvalues(i), i)).take(k)
    val comps = order.map { c =>
      val v = Array.tabulate(d)(r => es.eigenvectors(r, c))
      val mx = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(mx) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mean, comps, order.map(es.eigenvalues(_)).toArray)
  }

  /** Project `vecCol` onto the fitted components: adds `p1..pk`
    * columns, each `dot(x, comp_j) − dot(mean, comp_j)` — the centering
    * folds into one precomputed scalar per component, so the hot path
    * is k native [[graft.functions.ArrayDot]] kernels over literal
    * component rows (no broadcast join, no per-row allocation). */
  def pcaApply(vecs: DataFrame, vecCol: String, model: PcaModel): DataFrame = {
    // project the converted array ONCE and let every component dot read
    // the attribute: Catalyst does not CSE an interpreted HOF repeated
    // across k expressions (the TextOps.shingles re-evaluation pitfall),
    // and CollapseProject keeps the shared projection because a non-cheap
    // expression referenced k times is not inlined
    // collision-safe staging name: a caller's own `_vd` column must not be
    // silently overwritten and dropped
    val tmp = Iterator.from(0).map(i => if (i == 0) "_vd" else s"_vd$i")
      .find(n => !vecs.columns.contains(n)).get
    val out = model.components.zipWithIndex.foldLeft(
        vecs.withColumn(tmp, toDouble(col(vecCol)))) { case (df, (comp, j)) =>
      val c = comp.indices.map(i => comp(i) * model.mean(i)).sum
      df.withColumn(s"p${j + 1}",
        graft.functions.ArrayDot.array_dot(col(tmp),
          typedLit(comp.toIndexedSeq)) - lit(c))
    }
    out.drop(tmp)
  }

  /** Two-level cell assignment as staged narrow projections (each stage
    * references the previous stage's attribute, so nothing is computed
    * twice): argmin over the k1 super matrix, then argmin over THAT
    * super's child matrix — one `element_at` into the ragged 3-D
    * literal. Both argmins are first-minimum (`array_position` of
    * `array_min`), matching [[kmeans]]' assignment rule. Adds
    * (scid, ccid, cid) to `v`. */
  def assignHierCells(v: DataFrame, vnCol: String,
                      model: HierKmeansModel): DataFrame = {
    val superLit = centMatrixLit(model.supers)
    val childLit = typedLit(model.children.map(
      _.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
    def argmin(dists: Column): Column =
      (array_position(dists, array_min(dists)) - 1).cast("int")
    v.withColumn("scid", argmin(transform(superLit,
        c => graft.functions.ArrayDot.array_sq_dist(col(vnCol), c))))
      .withColumn("_cd", transform(element_at(childLit, col("scid") + 1),
        c => graft.functions.ArrayDot.array_sq_dist(col(vnCol), c)))
      .withColumn("ccid", argmin(col("_cd")))
      .drop("_cd")
      .withColumn("cid", col("scid") * model.stride + col("ccid"))
  }
}
