package graft.streaming

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The heavy-hitter tier's stream form: counter maintenance is the
  * batch sketch lineage run as a stateful aggregate (bounded state =
  * the counter grid), pinned against its batch twin. */
class SketchStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs: Seq[(Long, String)] = (0L until 60L).map { i =>
    // heavy bigram "x y" planted in every 3rd doc; the rest unique-ish
    val t = if (i % 3 == 0) s"x y tail$i" else s"a$i b$i c${i % 7}"
    i -> t
  }
  private val n = 2; private val depth = 3; private val width = 64

  test("oracle-shared bucket family: stream counters == batch (parity)") {
    // the family the stream_cm_counters oracle row drains — salted
    // hash60 buckets instead of xxhash64, same maintenance aggregate
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counters = SketchStream.countersShared(
      input.toDS().toDF("doc_id", "text"), "text", n, depth, width)
    val q = counters.writeStream.format("memory").queryName("cm_shared")
      .outputMode("complete").start()
    input.addData(docs.take(20))
    q.processAllAvailable()
    input.addData(docs.drop(20))
    q.processAllAvailable()
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = asMap(spark.table("cm_shared"))
    val batch = asMap(TextOps.cmSketchCountersShared(
      docs.toDF("doc_id", "text"), "text", n, depth, width))
    assert(streamed == batch,
      "shared-bucket stateful aggregate diverged from its batch twin")
    assert(streamed.size <= depth * width)
    // total mass law: every gram lands in exactly `depth` buckets
    val grams = docs.map(_._2.trim.split(" ", -1).length)
      .map(t => math.max(0, t - (n - 1))).sum
    assert(streamed.values.sum == depth.toLong * grams)
  }
}
