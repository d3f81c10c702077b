package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.VectorOps

/** Streaming ANN ingest: encode ARRIVING vectors against a persisted
  * IVF-PQ quantizer.
  *
  * A 100 TB deployment builds its quantizer once ([[graft.operators
  * .AnnIndexIO.build]]); new corpus vectors then only need the encode
  * pass, which is STATELESS per row (coarse cell + residual codes are
  * pure functions of the vector and the literal-folded model). So ingest
  * is `readStream → encodeStream → writeStream` in append mode with no
  * state store, no watermark, and no shuffle — each micro-batch is a
  * narrow codegen map, and the sink appends `(v_id, cid, codes)` rows to
  * the same cell-partitioned index table batch builds write.
  *
  * Parity: the encode core is shared verbatim with the batch path
  * ([[VectorOps.ivfPqEncodeNormalized]]), so for any micro-batch split of
  * an input the streamed rows equal the batch `ivfPqEncode` rows
  * bit-for-bit (AnnIndexSpec proves it across splits).
  */
object AnnIngest {

  /** Encode a (streaming or batch) vector frame against the fitted
    * quantizer: `(v_id, cid, codes)`, one row per input row, stateless —
    * safe under OutputMode.Append with no watermark. */
  def encodeStream(vecs: DataFrame, idCol: String, vecCol: String,
                   model: VectorOps.IvfPqModel): DataFrame = {
    import org.apache.spark.sql.functions.col
    VectorOps.ivfPqEncodeNormalized(
      VectorOps.normalizedNarrow(vecs, idCol, vecCol)
        .select(col(idCol).as("v_id"), col("vn")),
      model)
  }
}
