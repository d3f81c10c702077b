package graft

/** The derived-index memo behind the ANN and postings queries
  * ([[Queries.memoIndex]]): a build that fails part-way must never be
  * served, and a finished build is reused for the rest of the JVM. */
class IndexMemoSpec extends SparkSpec {

  test("memoIndex: a build that writes index/ and then throws runs again") {
    val key = s"memo-spec|${System.nanoTime()}"
    var runs = 0
    val e = intercept[IllegalStateException] {
      Queries.memoIndex(spark, "memo_spec", key) { p =>
        runs += 1
        spark.range(3).write.parquet(s"$p/index")
        throw new IllegalStateException("planted failure after index/")
      }
    }
    assert(e.getMessage.contains("planted failure"))
    // the retry starts from a cleared directory and runs the build again
    val path = Queries.memoIndex(spark, "memo_spec", key) { p =>
      runs += 1
      assert(!new java.io.File(s"$p/index").exists(),
        "the failed build's index/ survived into the retry")
      spark.range(5).write.parquet(s"$p/index")
    }
    assert(runs == 2)
    assert(spark.read.parquet(s"$path/index").count() == 5L)
    // a finished build is served as is, not rebuilt
    assert(Queries.memoIndex(spark, "memo_spec", key)(_ => runs += 1) == path)
    assert(runs == 2)
    // a different key is a different artifact
    val other = Queries.memoIndex(spark, "memo_spec", key + "|k2")(_ =>
      runs += 1)
    assert(other != path && runs == 3)
  }
}
