package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("nearest: picks closest, ties to earlier (data_processing.py:174-184)") {
    val left = Seq((1, 10.0), (2, 20.0), (3, 35.0)).toDF("lid", "ts")
    val right = Seq((100, 8.0), (101, 12.0), (102, 19.0), (103, 21.0))
      .toDF("rid", "ts")
    val out = AsOfJoin.nearest(left, right, "ts", "ts", Nil)
      .orderBy("lid").collect()
    // lid=1: 8 and 12 equidistant → earlier (8 → rid 100)
    assert(out(0).getAs[Int]("r_rid") == 100)
    // lid=2: 19 and 21 equidistant → earlier (19 → rid 102)
    assert(out(1).getAs[Int]("r_rid") == 102)
    // lid=3: nearest is 21
    assert(out(2).getAs[Int]("r_rid") == 103)
    assert(out(2).getAs[Double]("r_dt") == 14.0)
  }

  test("nearest with tolerance drops unmatched and far rows") {
    val left = Seq((1, 10.0), (2, 99.0)).toDF("lid", "ts")
    val right = Seq((100, 11.0)).toDF("rid", "ts")
    val out = AsOfJoin.nearest(left, right, "ts", "ts", Nil,
      tolerance = Some(5.0)).collect()
    assert(out.length == 1 && out(0).getAs[Int]("lid") == 1)
  }

  test("nearest respects keys (no cross-key matches)") {
    val left = Seq(("a", 1, 10.0), ("b", 2, 10.0)).toDF("k", "lid", "ts")
    val right = Seq(("a", 100, 10.5)).toDF("k", "rid", "ts")
    val out = AsOfJoin.nearest(left, right, "ts", "ts", Seq("k"))
      .orderBy("lid").collect()
    assert(out(0).getAs[Int]("r_rid") == 100)
    assert(out(1).isNullAt(out(1).fieldIndex("r_rid")))
  }

  test("windowAgg equals brute-force range join + group (bucket edges)") {
    val rng = new scala.util.Random(5)
    val left = Seq.tabulate(50)(i => (i, rng.nextDouble() * 100)).toDF("lid", "ts")
    val right = Seq.tabulate(200)(i => (rng.nextDouble() * 100, rng.nextDouble()))
      .toDF("ts", "v")
    val w = 7.3
    val got = AsOfJoin.windowAgg(left, right, "ts", "ts", Nil, w,
        Seq(count(lit(1)).as("n"), sum(col("r_v")).as("s")))
      .select("lid", "n", "s").orderBy("lid").collect()
    val brute = left.as("l").join(right.as("r"),
        abs(col("r.ts") - col("l.ts")) <= w)
      .groupBy(col("l.lid")).agg(count(lit(1)).as("n"), sum(col("r.v")).as("s"))
      .orderBy("lid").collect()
    assert(got.length == brute.length)
    got.zip(brute).foreach { case (a, b) =>
      assert(a.getAs[Int]("lid") == b.getAs[Int]("lid"))
      assert(a.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(math.abs(a.getAs[Double]("s") - b.getAs[Double]("s")) < 1e-9)
    }
  }

  test("triple join enforces dispersion cut (data_processing.py:116-149)") {
    val ref = Seq((1, 10.0), (2, 50.0)).toDF("id", "ts")
    val a = Seq((11, 10.01), (21, 50.2)).toDF("aid", "ts")
    val b = Seq((12, 10.02), (22, 49.0)).toDF("bid", "ts")
    val out = AsOfJoin.triple(ref, a, b, "ts", "ts", "ts", Nil)
      .select("id").collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1)) // ref=50: spread 50.2-49.0 = 1.2 > 1/15
  }

  test("cadenceGate derives multiplier x median inter-sample interval") {
    // 120 Hz-ish stream: uniform 1/120 s cadence, two keys
    val rows = for (k <- 0 to 1; i <- 0 until 240)
      yield (k, i / 120.0 + k * 1000)
    val df = rows.toDF("key", "ts")
    val g = AsOfJoin.cadenceGate(df, "ts", Seq("key"), multiplier = 8.0)
    assert(g.isDefined)
    assert(math.abs(g.get - 8.0 / 120.0) < 1e-6)
    // degenerate stream: no positive diffs -> None, not NPE
    val one = Seq((0, 5.0)).toDF("key", "ts")
    assert(AsOfJoin.cadenceGate(one, "ts", Seq("key")).isEmpty)
    // all-duplicate timestamps: rows exist but every diff is zero -> None
    val dup = Seq((0, 5.0), (0, 5.0), (0, 5.0)).toDF("key", "ts")
    assert(AsOfJoin.cadenceGate(dup, "ts", Seq("key")).isEmpty)
  }

  test("cadenceGatePerKey: one vote per key vs density-weighted pooling") {
    // key 0: dense 100 Hz (500 diffs of 0.01); key 1: sparse 1 Hz (10
    // diffs of 1.0). Pooled median is dominated by the dense stream;
    // per-key gives each cadence one vote (median of {0.01, 1.0}).
    val rows = (0 until 501).map(i => (0, i / 100.0)) ++
      (0 until 11).map(i => (1, i.toDouble))
    val df = rows.toDF("key", "ts")
    val pooled = AsOfJoin.cadenceGate(df, "ts", Seq("key"),
      multiplier = 1.0).get
    val perKey = AsOfJoin.cadenceGatePerKey(df, "ts", Seq("key"),
      multiplier = 1.0).get
    assert(math.abs(pooled - 0.01) < 1e-9, s"pooled=$pooled")
    assert(math.abs(perKey - (0.01 + 1.0) / 2) < 1e-9, s"perKey=$perKey")
    // homogeneous cadences: the two forms agree
    val homo = (for (k <- 0 to 2; i <- 0 until 60) yield (k, i / 120.0))
      .toDF("key", "ts")
    val gp = AsOfJoin.cadenceGate(homo, "ts", Seq("key"), 8.0).get
    val gk = AsOfJoin.cadenceGatePerKey(homo, "ts", Seq("key"), 8.0).get
    assert(math.abs(gp - gk) < 1e-12)
    // same None condition
    assert(AsOfJoin.cadenceGatePerKey(
      Seq((0, 5.0), (0, 5.0)).toDF("key", "ts"), "ts", Seq("key")).isEmpty)
  }
}
