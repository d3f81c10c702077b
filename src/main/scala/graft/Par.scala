package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Explicit-arity repartition for exchanges that feed per-row KERNELS
  * (shingle/hash, render, decode, dot-product chains).
  *
  * `df.repartition(col)` leaves the partition count to AQE, and AQE
  * sizes its coalescing by shuffled BYTES — it is blind to downstream
  * per-row compute. An id-and-text (or keys-only) exchange is small at
  * any corpus size, so AQE collapses it to one or a few partitions and
  * the kernel chain downstream serializes onto one task (measured on
  * this engine: the blink-video render 10 s vs 0.8 s at sf0.1, and
  * a doc-shingle pass observed running at ONE partition — immaterial at
  * local bench scale where a single task absorbs 5k docs, fatal on a
  * 1000-executor cluster where the same shape parks the corpus-wide
  * shingle pass on one core per 64 MB of key bytes). An explicit user
  * partition count is exempt from AQE
  * coalescing; `defaultParallelism` = cores locally, executors × cores
  * on a cluster, and the hash layout on the key is unchanged. */
object Par {
  /** Arity floor: `defaultParallelism` under dynamic allocation on a cold
    * cluster can be tiny (e.g. 2 before executors ramp), and an explicit
    * count is EXEMPT from AQE — pinning the kernel chain to those few
    * partitions would be the opposite failure mode of the collapse this
    * object exists to prevent. `spark.sql.shuffle.partitions` is the
    * operator's sizing intent and never ramps down, so take the max. */
  def arity(df: DataFrame): Int = {
    val s = df.sparkSession
    math.max(s.sparkContext.defaultParallelism, s.sessionState.conf.numShufflePartitions)
  }

  /** A/B probe (dev only — SPARK_GRAFT_PAR_AQE=1): fall back to the
    * AQE-coalescible keys-only exchange, so the local cost of the
    * explicit arity is a measured number (docs/SCALE.md r12), not a
    * guess. Never set in production: the coalesced shape is the
    * cluster-fatal collapse this object exists to prevent. */
  private val abProbe = sys.env.get("SPARK_GRAFT_PAR_AQE").contains("1")

  def byKey(df: DataFrame, cols: Column*): DataFrame =
    if (abProbe) df.repartition(cols: _*)
    else df.repartition(arity(df), cols: _*)
}
