package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `spark.read.format("pldata")` V2 surface: the rows that were
  * written, real column pruning (the sidecar is not opened unless
  * `timestamp` is projected), per-file partition planning, catalog or
  * first-record schema. */
class PldataV2Spec extends SparkSpec {
  import spark.implicits._

  private def writeSession(dir: String, ids: Range): Unit = {
    val rows = ids.map(i => (
        "gaze", 100.0 + i, Seq(i / 10.0, i / 20.0), 0.5 + i / 100.0, i.toLong))
      .toDF("topic", "timestamp", "norm_pos", "confidence", "id")
    PldataSource.write(rows, dir, "gaze")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("pldata_v2").toString

  test("format(\"pldata\") == the written rows, inferred and explicit schema") {
    val dir = tmp(); writeSession(dir, 0 until 50)
    def dump(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("timestamp"), col("confidence"),
        element_at(col("norm_pos"), 1).as("nx"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    // the reference is the frame that was written, not another reader
    val want = (0 until 50).map(i =>
      (i.toLong, 100.0 + i, 0.5 + i / 100.0, i / 10.0))
    // inferred schema (first record, driver-side)
    val inferred = spark.read.format("pldata").option("topic", "gaze").load(dir)
    assert(inferred.schema.fieldNames.sorted.toSeq ==
      Seq("confidence", "id", "norm_pos", "timestamp", "topic"))
    assert(dump(inferred) == want && want.size == 50)
    // explicit schema wins (catalog shape)
    val explicit = spark.read.format("pldata").option("topic", "gaze")
      .schema(StructType(Seq(
        StructField("timestamp", DoubleType),
        StructField("norm_pos", ArrayType(DoubleType)),
        StructField("confidence", DoubleType),
        StructField("id", LongType))))
      .load(dir)
    assert(dump(explicit) == want)
  }

  test("column pruning is real: sidecar unopened when timestamp unprojected") {
    val dir = tmp(); writeSession(dir, 0 until 20)
    // delete the sidecar — a projection without `timestamp` must still
    // read (proof the pruned reader never opens it), one WITH it must fail
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "gaze_timestamps.npy"))
    val noTs = spark.read.format("pldata").option("topic", "gaze").load(dir)
      .select("id", "confidence")
    assert(noTs.count() == 20)
    // the pruned schema reaches the scan node
    val p = noTs.queryExecution.executedPlan.toString
    assert(p.contains("PldataScan") && !p.toLowerCase.contains("norm_pos"),
      s"pruning lost:\n$p")
    val withTs = spark.read.format("pldata").option("topic", "gaze").load(dir)
      .select("id", "timestamp")
    intercept[org.apache.spark.SparkException] { withTs.collect() }
  }

  test("short sidecar fails the read (no fabricated NaN timestamps)") {
    val dir = tmp(); writeSession(dir, 0 until 20)
    // truncate the sidecar to 5 of 20 entries — a misaligned sidecar is
    // data corruption; fabricated NaN rows would slide past downstream
    // filters silently, so the reader must fail the task instead
    val npy = java.nio.file.Paths.get(dir, "gaze_timestamps.npy")
    val keep = PldataSource.readNpyDoubles(npy.toString).take(5)
    java.nio.file.Files.delete(npy)
    PldataSource.writeNpyDoubles(npy.toString, keep)
    val v2 = spark.read.format("pldata").option("topic", "gaze").load(dir)
      .select("id", "timestamp")
    val e1 = intercept[org.apache.spark.SparkException] { v2.collect() }
    assert(e1.getMessage.contains("misalignment") ||
      Option(e1.getCause).exists(_.getMessage.contains("misalignment")))
    // a projection WITHOUT timestamp never opens the sidecar: still reads
    assert(spark.read.format("pldata").option("topic", "gaze").load(dir)
      .select("id").count() == 20)
  }

  test("V2 sink: distributed shard write round-trips through recursive read") {
    val dir = tmp()
    val rows = (0 until 60).map(i => (
        100.0 + i, Seq(i / 10.0, i / 20.0), 0.5 + i / 100.0, i.toLong))
      .toDF("timestamp", "norm_pos", "confidence", "id")
      .repartition(3)
    rows.write.format("pldata").option("topic", "gaze")
      .mode("append").save(dir)
    // one session shard per input partition, reader-compatible layout
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted
    assert(parts.length == 3, s"expected 3 shards, got ${parts.mkString(",")}")
    assert(parts.forall { p =>
      new java.io.File(s"$dir/$p/gaze.pldata").isFile &&
      new java.io.File(s"$dir/$p/gaze_timestamps.npy").isFile
    })
    val back = spark.read.format("pldata").option("topic", "gaze")
      .option("recursive", "true")
      .schema(StructType(Seq(
        StructField("timestamp", DoubleType),
        StructField("norm_pos", ArrayType(DoubleType)),
        StructField("confidence", DoubleType),
        StructField("id", LongType))))
      .load(dir)
    val got = back.collect().map(r => (r.getLong(3), r.getDouble(0),
        r.getSeq[Double](1), r.getDouble(2))).sortBy(_._1).toSeq
    val want = (0 until 60).map(i => (i.toLong, 100.0 + i,
      Seq(i / 10.0, i / 20.0), 0.5 + i / 100.0))
    assert(got == want)
    // a second append LANDS BESIDE the first job's shards (job-tagged
    // names), never replacing same-numbered partitions from a prior job
    rows.limit(10).repartition(2).write.format("pldata")
      .option("topic", "gaze").mode("append").save(dir)
    val appended = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted
    assert(appended.length == 5,
      s"append replaced prior shards: ${appended.mkString(",")}")
    assert(spark.read.format("pldata").option("topic", "gaze")
      .option("recursive", "true")
      .schema(back.schema).load(dir).count() == 70)
    // overwrite truncates the prior shards (no stale part dirs survive)
    rows.limit(10).repartition(1).write.format("pldata")
      .option("topic", "gaze").mode("overwrite").save(dir)
    val after = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(after.length == 1, s"overwrite left stale shards: ${after.mkString(",")}")
    assert(spark.read.format("pldata").option("topic", "gaze")
      .option("recursive", "true").load(dir).count() == 10)
  }

  test("streaming tail-ingest: new session files become micro-batches, no re-reads") {
    val root = tmp()
    writeSession(s"$root/s1", 0 until 10)
    val schema = StructType(Seq(
      StructField("timestamp", DoubleType),
      StructField("norm_pos", ArrayType(DoubleType)),
      StructField("confidence", DoubleType),
      StructField("id", LongType)))
    val q = spark.readStream.format("pldata").option("topic", "gaze")
      .option("recursive", "true").schema(schema).load(root)
      .select("id", "timestamp")
      .writeStream.format("memory").queryName("pldata_tail")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("pldata_tail").count() == 10)
    // a new session lands ATOMICALLY (stage under a _-prefixed dir the
    // listing skips, rename into place — the source's documented
    // contract; an in-place write could be seen torn by the running
    // trigger thread) — ONLY its rows arrive in the next batch
    writeSession(s"$root/_staging_s2", 100 until 115)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/_staging_s2"),
      java.nio.file.Paths.get(s"$root/s2"))
    q.processAllAvailable()
    // and an idle tick re-reads nothing
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("pldata_tail").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 10L) ++ (100L until 115L)).toSeq,
      s"dup or missing rows: $ids")
    // offset round-trip is exact (restart-from-checkpoint contract)
    val off = PldataV2.PldataFilesOffset(Seq(s"$root/s1/gaze.pldata",
      """/weird/"quo"te\path/gaze.pldata"""))
    assert(PldataV2.PldataFilesOffset.fromJson(off.json()).files.sorted ==
      off.files.sorted)
  }

  test("recursive session tree: one input partition per session file") {
    val root = tmp()
    writeSession(s"$root/s1", 0 until 10)
    writeSession(s"$root/s2", 100 until 115)
    val df = spark.read.format("pldata").option("topic", "gaze")
      .option("recursive", "true").load(root)
    assert(df.rdd.getNumPartitions == 2)
    val ids = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 10L) ++ (100L until 115L)).toSeq)
  }

  test("writer abort deletes its temp dir when closing the streams throws") {
    val root = tmp()
    val schema = StructType(Seq(StructField("timestamp", DoubleType),
      StructField("id", LongType)))
    val w = new PldataV2.PldataDataWriter(schema, root, "gaze", 0, "job")
    w.write(org.apache.spark.sql.catalyst.InternalRow(100.0, 1L))
    val tmpDirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("_tmp-"))
    assert(tmpDirs.length == 1)
    // a directory where the sidecar was: its close (header patch) throws
    // FileNotFoundException, a non-fatal error
    val npy = new java.io.File(tmpDirs.head, "gaze_timestamps.npy")
    assert(npy.delete() && npy.mkdir())
    w.abort()
    assert(!tmpDirs.head.exists(), "abort left its temp dir behind")
  }
}
