package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.TextOps

/** Streaming count-min maintenance — the stream form of the heavy-hitter
  * tier ([[TextOps.frequentNgrams]] /
  * [[graft.Queries.textTopNgramsPerSource]]).
  *
  * The ingest stream keeps the corpus sketch current. The batch sketch
  * pass is already a declarative explode → groupBy((i, b)) count, so the
  * identical lineage runs as a Structured Streaming stateful aggregate
  * whose state is exactly the depth×width counter grid — BOUNDED at any
  * corpus size, which is the whole point of the sketch (a groupBy(gram)
  * stream would hold distinct-gram state). Output mode Update/Complete
  * feeds the serving store; counts are associative, so the stream's
  * counters after any prefix equal the batch counters over that prefix
  * (parity-pinned in SketchStreamSpec).
  */
object SketchStream {

  /** Counter maintenance over a (possibly streaming) docs frame, on the
    * ORACLE-SHARED bucket family ([[TextOps.cmSketchCountersShared]],
    * salted hash60): state ≤ depth·width rows, and rows a SQL oracle can
    * replay — the attested form the `stream_cm_counters` row drains. */
  def countersShared(docs: DataFrame, textCol: String, n: Int = 2,
                     depth: Int = 3, width: Int = 2048): DataFrame =
    TextOps.cmSketchCountersShared(docs, textCol, n, depth, width)
}
