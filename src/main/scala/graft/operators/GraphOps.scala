package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * Near-duplicate detection emits PAIRS (LSH candidates verified by exact
  * similarity); an actual dedup pass needs per-document CLUSTER ids so one
  * representative per cluster survives. Pair→cluster is connected
  * components — and at 100 TB the component graph can chain (doc A ~ B,
  * B ~ C, … with A !~ C), so naive min-label propagation needs O(diameter)
  * rounds. This implements the alternating large-star / small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14), which converges in O(log n) rounds regardless of
  * diameter, using only equi-joins and partial-aggregated groupBys — no
  * per-node neighbor arrays, so a celebrity node (one doc near-dup to
  * millions) cannot blow a task: its neighborhood min is a map-side-combined
  * aggregate and its edge emissions stay row-per-row through joins (AQE
  * handles residual join skew).
  */
object GraphOps {

  /** Connected components of the undirected graph given as an edge list.
    *
    * Returns one row per node incident to at least one (non-self-loop)
    * edge: `(node BIGINT, component BIGINT)` where `component` is the
    * MINIMUM node id of the node's component — the canonical label, so
    * equal inputs give byte-equal outputs on any engine (the same
    * canonicalization the DBSCAN oracle uses).
    *
    * Each round:
    *  - large-star: every node x computes m = min(N(x) ∪ x) (one groupBy
    *    over both edge orientations) and re-points its LARGER neighbors at
    *    m — join the bidirected edges (x, y) with m(x), keep y > x, emit
    *    (y, m);
    *  - small-star: orient edges (big, small); every big computes
    *    m = min of its smaller neighbors and the star collapses — emit
    *    (small, m) for each smaller neighbor plus (big, m).
    *
    * Both phases strictly shrink a monotone potential, and the fixed point
    * is a forest of stars pointing at component minima. Convergence is
    * checked by set equality (count + one-sided anti semantics via
    * `except`) on the persisted per-round edge sets; each round
    * materializes before the previous round's cache is released.
    *
    * Scale notes: every step is an equi-join or groupBy on the node id —
    * one shuffle each, AQE-coalesced; edge sets are `distinct`ed each
    * round so the working set only shrinks. Each round is cut with an
    * eager checkpoint — iterative lineage otherwise compounds (round k's
    * plan embeds round k−1's) until plan traversal itself overflows the
    * stack; checkpointing makes every round's input a flat scan of
    * materialized partitions.
    *
    * `checkpointDir`: None (default) uses `localCheckpoint` — fine on
    * local[N] and for short jobs, but the materialized partitions live on
    * executors, so one executor loss mid-round fails the job. On a real
    * cluster pass a reliable (HDFS/S3) directory: rounds then cut with
    * `checkpoint()` against it and survive executor churn — the durable
    * choice for a 100 TB dedup pass, at the price of one distributed
    * write per round.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 64,
                          checkpointDir: Option[String] = None,
                          maxLocalEdges: Int = 1 << 20): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    val norm = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    // r17 size-gated driver fast path (the logreg-histogram / broadcast-
    // gate discipline): a deduplicated edge set within the gate resolves
    // by driver-side union-find in ONE job — the O(log n) distributed
    // rounds each cost ~10 scheduled jobs, pure overhead at this size.
    // EXACT integer labels, so the two paths are bit-identical by
    // construction (GraphOpsSpec pins parity). The gate is bounded work
    // at any corpus size (limit-probe collect); past it — or whenever a
    // durable checkpointDir signals cluster-scale intent — the
    // alternating-star loop below runs unchanged.
    if (checkpointDir.isEmpty) {
      val probe = norm.limit(maxLocalEdges + 1).collect()
      if (probe.length <= maxLocalEdges) {
        import spark.implicits._
        val parent = new java.util.HashMap[Long, Long]()
        def find(a: Long): Long = {
          var r = a
          while (parent.get(r) != r) r = parent.get(r)
          var x = a
          while (parent.get(x) != r) { val nx = parent.get(x); parent.put(x, r); x = nx }
          r
        }
        probe.foreach { row =>
          val u = row.getLong(0); val v = row.getLong(1)
          if (!parent.containsKey(u)) parent.put(u, u)
          if (!parent.containsKey(v)) parent.put(v, v)
          val ru = find(u); val rv = find(v)
          if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
        }
        val minLabel = new java.util.HashMap[Long, Long]()
        parent.keySet().forEach { n =>
          val r = find(n)
          val cur = minLabel.getOrDefault(r, Long.MaxValue)
          if (n < cur) minLabel.put(r, n)
        }
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach { n => rows += ((n, minLabel.get(find(n)))) }
        return rows.toSeq.toDF("node", "component")
      }
    }
    var e = cut(norm)
    var eCount = e.count()
    var converged = eCount == 0L
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: m(x) over BOTH orientations, larger neighbors re-point
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
        .withColumnRenamed("u", "x")
      // persisted for the round: `large` feeds smins AND the join (3 plan
      // references), `smins` the join AND the union (2) — without the
      // persists the bidir-join-mins work re-executes per reference
      // (persist-at-reuse-points, SCALE.md pitfall 4)
      val large = bidir
        .join(mins, bidir("u") === mins("x"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .persist()
      // small-star: edges already oriented (u=big, v=small); the star
      // collapses onto the min smaller neighbor
      val smins = large.groupBy("u").agg(min(col("v")).as("m"))
        .withColumnRenamed("u", "x")
        .persist()
      val next = cut(large
        .join(smins, large("u") === smins("x"))
        .select(col("v").as("n"), col("m"))
        .union(smins.select(col("x").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"), least(col("n"), col("m")).as("v"))
        .distinct())
      val nextCount = next.count()
      // next is checkpoint-materialized: the round's intermediates can go
      large.unpersist(blocking = false)
      smins.unpersist(blocking = false)
      converged = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      it += 1
    }
    if (!converged && eCount > 0L)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($eCount edges remain)")
    // fixed point = stars: members point at the root, roots self-label.
    // The groupBy(min) is a cheap belt-and-braces canonicalization (the
    // fixed point already has one target per member).
    val out = e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .groupBy("node").agg(min(col("component")).as("component"))
    // the output (which two consumers — the keeper join and any count
    // gate — may read) goes through the registry so Verify/Bench release
    // it with everything else; the checkpointed rounds are reclaimed by
    // the ContextCleaner once dereferenced
    graft.CacheRegistry.persistTracked(out)
    out
  }

  /** PageRank (Page, Brin, Motwani, Winograd 1999) over a directed edge
    * list, a FIXED number of synchronous iterations — the host-authority
    * score a web-curation mix weights domains by. Per iteration:
    * `rank'(v) = (1−d)/n + d · (Σ_{(u,v)∈E} rank(u)/outdeg(u) + D/n)`,
    * where `D` is the total rank parked on DANGLING nodes (no out-edge),
    * redistributed uniformly — the canonical formulation, so ranks sum
    * to 1 on any graph, sinks included. Each iteration's ranks (and the
    * dangling mass) quantize to 6 dp (the iterative-oracle discipline —
    * k-means/BPE/logreg all pin per-iteration state so sum-order ulps
    * cannot compound across engines or runs). Self-loops count as
    * ordinary edges.
    *
    * Scale shape: the Pregel loop — each iteration is one equi-join of
    * the edge list with the (node, rank) table on `src` plus one
    * map-side-combined groupBy on `dst`; the dangling mass is one
    * node-sized semi-join aggregate collapsing to a single driver
    * scalar (config-bounded: 1 row per iteration, never corpus-sized).
    * State is node-sized, edges are scanned once per iteration.
    * Iterations persist and release round-over-round like
    * [[connectedComponents]]; `iters` is small and fixed (3-20 in
    * practice), so lineage stays shallow without checkpoints.
    *
    * `quantize`: decimal places for the per-iteration state pinning
    * (Some(6) default — the cross-engine-oracle discipline). It is a
    * PARITY device, not part of the algorithm, and it has a scale
    * ceiling: at n ≳ 10⁵ nodes per-node ranks approach the quantum
    * ((1−d)/n < 5·10⁻⁷ already at n > 300k rounds the teleport term to
    * ZERO) and quantization destroys the distribution. Corpus-scale
    * runs pass None — full fp precision, rank sum conserved to fp ulps
    * (the 900k-node standing in docs/SCALE.md). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               quantize: Option[Int] = Some(6)): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = graft.CacheRegistry.persistTracked(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val nodes = graft.CacheRegistry.persistTracked(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val sinks = graft.CacheRegistry.persistTracked(
      nodes.join(outDeg.withColumnRenamed("src", "node"),
        Seq("node"), "left_anti"))
    val base = lit(1.0 - damping) / lit(n.toDouble)
    var ranks = graft.CacheRegistry.persistTracked(
      nodes.withColumn("rank", lit(1.0) / lit(n.toDouble)))
    for (_ <- 1 to iters) {
      // dangling mass this round: 6-dp-quantized like every other piece
      // of per-iteration state, then shared uniformly across all nodes
      val dmRow = ranks.join(sinks, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0))).first()
      val dm = quantize.fold(dmRow.getDouble(0))(q =>
        BigDecimal(dmRow.getDouble(0))
          .setScale(q, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val dShare = dm / n.toDouble
      val inMass = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outDeg, "src")
        .select(col("dst").as("node"),
          (col("rank") / col("odeg")).as("_c"))
        .groupBy("node").agg(sum(col("_c")).as("_m"))
      val rawRank = base + lit(damping) *
        (coalesce(col("_m"), lit(0.0)) + lit(dShare))
      val next = graft.CacheRegistry.persistTracked(
        nodes.join(inMass, Seq("node"), "left")
          .select(col("node"),
            quantize.fold(rawRank)(q => round(rawRank, q) + 0.0)
              .as("rank")))
      next.count()  // materialize before releasing the previous round
      ranks.unpersist()  // handle stays tracked; releaseAll is idempotent
      ranks = next
    }
    ranks
  }
}
