package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Dev probe for docs/SCALE.md pitfall 1b: does a query's optimized plan
  * contain a Filter node with an expensive kernel substituted into it
  * (InferFiltersFromGenerate + pushdown re-evaluating a computed-array
  * producer)? Dumps suspicious Filter lines per SparkEntry query.
  *
  * Usage: runMain graft.tools.WinnowProbe [queryName ...]
  * (no args = a curated list of explode-bearing queries) */
object WinnowProbe {
  val Suspicious = Seq("md5", "shingle_hash60", "minhash_sig", "sequence(",
    "array_sq_dist", "transform(", "aggregate(")

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "text_substring_dedup", "text_winnow_pairs", "text_decontaminate",
      "text_decontaminate_bloom", "dedup_simhash", "bm25_topk",
      "ann_ivf_topk", "ann_ivf_pq_topk", "w7_resample", "dedup_minhash_lsh")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      try {
        val plan = graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.optimizedPlan.toString
        val bad = plan.split("\n").filter(l =>
          l.contains("Filter ") && Suspicious.exists(l.contains))
        println(s"[probe] $n: ${bad.length} suspicious Filter line(s)")
        bad.foreach(l => println("[probe]   " + l.trim.take(300)))
      } catch { case NonFatal(e) =>
        println(s"[probe] $n: ERROR ${e.getMessage}")
      } finally graft.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
