package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.ArtifactSwap
import graft.streaming.BinocularMerge
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class LocalFsSpec extends SparkSpec {

  def tmp(tag: String): JPath = Files.createTempDirectory(s"localfs_$tag")

  /** The processes the JVM starts while `body` runs (JFR `jdk.ProcessStart`,
    * recorded in this JVM only). Starts on the JDK's `Cleaner` thread are
    * left out: that thread runs the cleanup of objects collected during the
    * recording (Spark's per-session artifact directories, `rm -rf`), not
    * work `body` asked for. */
  def processStarts(body: => Unit): Seq[String] = {
    // the class initializer of Hadoop's Shell runs `setsid` once per JVM
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getThread)
          .exists(_.getJavaName.startsWith("Cleaner-")))
        .map((e: RecordedEvent) => e.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  def octal(s: String): Int = Integer.parseInt(s, 8)

  /** A fresh (uncached) configuration bound to the stock Hadoop classes or
    * to this package's. */
  def conf(stock: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (stock) {
      c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  def localFs(c: Configuration): org.apache.hadoop.fs.LocalFileSystem =
    FileSystem.newInstance(new URI("file:///"), c)
      .asInstanceOf[org.apache.hadoop.fs.LocalFileSystem]

  test("no process starts: checkpointed stream, Parquet round trip, artifact swap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("noproc")
    val ps = (0 until 40).flatMap { i =>
      Seq(BinocularMerge.Pupil("s1", i / 120.0, 0, 0.4, 0.5, 0.9),
        BinocularMerge.Pupil("s1", i / 120.0 + 0.001, 1, 0.6, 0.5, 0.95))
    }
    var batches = Seq.empty[Long]
    var written = 0L
    val started = processStarts {
      val input = MemoryStream[BinocularMerge.Pupil]
      val query = BinocularMerge.mergeStream(input.toDS(), idleTimeoutSec = 1.0,
          watermarkDelay = "1 second")
        .writeStream.format("memory").queryName("localfs_noproc")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .outputMode("append").start()
      try {
        input.addData(ps.take(40))
        query.processAllAvailable()
        // a later session moves the watermark past s1's idle timeout, so
        // a no-data batch fires the eviction after this data batch
        input.addData(Seq(BinocularMerge.Pupil("s2", 30.0, 0, 0.2, 0.2, 0.9)))
        query.processAllAvailable()
        input.addData(ps.drop(40).map(_.copy(session = "s3",
          timestamp = 60.0)))
        query.processAllAvailable()
      } finally query.stop()
      batches = query.recentProgress.map(_.numInputRows).toSeq
      val pq = dir.resolve("pq").toString
      spark.range(100).selectExpr("id", "id * 2 AS y").write.parquet(pq)
      written = spark.read.parquet(pq).count()
      val next = dir.resolve("art_next").toString
      spark.range(3).write.parquet(next)
      ArtifactSwap.swap(spark, dir.resolve("art").toString, next)
    }
    assert(batches.count(_ > 0) >= 2 && batches.contains(0L),
      s"expected two data batches and a no-data batch, got $batches")
    assert(written == 100)
    assert(spark.read.parquet(dir.resolve("art").toString).count() == 3)
    assert(spark.table("localfs_noproc").count() > 0)
    assert(started.isEmpty, s"${started.size} process starts: " +
      started.take(5).mkString("; "))
  }

  test("parity: modes after create, mkdirs, FileContext.create; sticky bit") {
    def tree(stock: Boolean, umask: String): Map[String, Int] = {
      val root = tmp(s"modes_${stock}")
      val c = conf(stock, umask)
      val fs = localFs(c)
      def p(rel: String) = new Path(root.resolve(rel).toString)
      fs.create(p("a/f")).close()
      fs.mkdirs(p("b/c"))
      fs.mkdirs(p("d"), new FsPermission("750"))
      fs.mkdirs(p("t"), new FsPermission("1777"))
      fs.mkdirs(p("s"))
      fs.setPermission(p("s"), new FsPermission("1777"))
      fs.getRaw.create(p("r/g")).close()
      val fc = FileContext.getFileContext(new URI("file:///"), c)
      fc.create(p("e/h"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.mkdir(p("m"), FsPermission.getDirDefault, true)
      fs.close()
      Files.walk(root).iterator().asScala.filter(_ != root)
        .map(q => root.relativize(q).toString -> mode(q)).toMap
    }
    for (umask <- Seq("022", "077")) {
      val stock = tree(stock = true, umask)
      val ours = tree(stock = false, umask)
      assert(ours == stock, s"umask $umask")
      // the modes are the umask's, not an accident of both sides
      val (dirMode, fileMode) =
        if (umask == "022") (octal("755"), octal("644"))
        else (octal("700"), octal("600"))
      Seq("a", "b", "b/c", "e", "m", "r").foreach(d =>
        assert(ours(d) == dirMode, s"$d under $umask"))
      Seq("a/f", "a/.f.crc", "e/h", "e/.h.crc", "r/g").foreach(f =>
        assert(ours(f) == fileMode, s"$f under $umask"))
      assert(ours("s") == octal("1777"))
    }
  }

  test("parity: getFileLinkStatus on file, dir, symlink, dangling link, missing path") {
    val root = tmp("links")
    Files.write(root.resolve("file"), "abc".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val stock = localFs(conf(stock = true)).getRaw
    val ours = localFs(conf(stock = false)).getRaw
    assert(ours.isInstanceOf[NioRawLocalFileSystem])
    def fields(s: FileStatus) =
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getModificationTime,
        s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
        s.getReplication, s.getBlockSize)
    def outcome(f: => FileStatus) =
      try Right(fields(f))
      catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }
    val fcStock = FileContext.getFileContext(new URI("file:///"), conf(stock = true))
    val fcOurs = FileContext.getFileContext(new URI("file:///"), conf(stock = false))
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         path <- Seq(new Path(root.resolve(name).toString),
           new Path("file://" + root.resolve(name).toString))) {
      val want = outcome(stock.getFileLinkStatus(path))
      assert(outcome(ours.getFileLinkStatus(path)) == want, s"FileSystem $path")
      assert(outcome(fcOurs.getFileLinkStatus(path)) ==
        outcome(fcStock.getFileLinkStatus(path)), s"FileContext $path")
    }
    assert(ours.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    intercept[java.io.FileNotFoundException](
      ours.getFileLinkStatus(new Path(root.resolve("missing").toString)))
    // only a symlink takes the stock path (and its `readlink`)
    val plain = processStarts {
      Seq("file", "dir", "missing").foreach(n =>
        scala.util.Try(ours.getFileLinkStatus(new Path(root.resolve(n).toString))))
    }
    assert(plain.isEmpty, plain.mkString("; "))
    val viaLink = processStarts {
      ours.getFileLinkStatus(new Path(root.resolve("link").toString))
    }
    assert(viaLink.exists(_.startsWith("readlink")), viaLink.mkString("; "))
  }

  test("parity: FileContext.rename(OVERWRITE) carries the .crc files") {
    def run(stock: Boolean): Map[String, (String, Int)] = {
      val root = tmp(s"rename_$stock")
      val fc = FileContext.getFileContext(new URI("file:///"), conf(stock))
      def p(rel: String) = new Path(root.resolve(rel).toString)
      def write(rel: String, s: String): Unit = {
        val out = fc.create(p(rel), EnumSet.of(CreateFlag.CREATE,
          CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      write("src", "new contents")
      write("dst", "old")
      fc.rename(p("src"), p("dst"), Options.Rename.OVERWRITE)
      write("src2", "to a fresh name")
      fc.rename(p("src2"), p("fresh"), Options.Rename.OVERWRITE)
      fc.mkdir(p("adir"), FsPermission.getDirDefault, true)
      write("src3", "onto a dir")
      val err = scala.util.Try(fc.rename(p("src3"), p("adir"),
        Options.Rename.OVERWRITE)).failed.toOption.map(_.getClass.getName)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(q => root.relativize(q).toString ->
          (new String(Files.readAllBytes(q), "ISO-8859-1"), mode(q)))
        .toMap + ("error" -> (err.getOrElse("none"), 0))
    }
    val stock = run(stock = true)
    assert(run(stock = false) == stock)
    assert(stock("dst")._1 == "new contents" && stock.contains(".dst.crc") &&
      !stock.contains("src") && !stock.contains(".src.crc") &&
      stock.contains(".fresh.crc") && stock("error")._1 != "none")
  }

  test("a default session resolves file: to the engine classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), hc).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hc).getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(new Configuration().get("fs.file.impl") ==
      classOf[NioLocalFileSystem].getName)
  }
}
