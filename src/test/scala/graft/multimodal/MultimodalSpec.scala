package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = MultimodalOps.packAsMedia(
    Seq((1L, "hello world"), (2L, "a much longer document body here"),
      (3L, "")).toDF("id", "txt"), "id", "txt")

  test("packAsMedia produces the binary+meta schema") {
    assert(media.schema("bytes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val m = media.filter(col("media_id") === 1).select("meta.width").collect()
    assert(m(0).getInt(0) == 11 % 640 + 16)
  }

  test("extractFeatures: deterministic, normalized, fixed-dim") {
    val f = MultimodalOps.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(1L).length == MultimodalOps.FeatureDim)
    assert(math.abs(f(1L).sum - 1f) < 1e-5) // normalized histogram
    assert(f(3L).sum == 0f) // empty bytes → zero vector
    val f2 = MultimodalOps.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f == f2)
  }

  test("resizeHalf: real 2x2 area-average through decode -> re-encode") {
    // gray 4×4 with known blocks: means 20, 100, (60+80+120+140)/4=100, 255
    val g = Array(
      Array(20, 20, 100, 100),
      Array(20, 20, 100, 100),
      Array(60, 80, 255, 255),
      Array(120, 140, 255, 255))
    val px = g.map(_.map(v => v * 0x010101))
    val df = Seq((7L, imageBytes(px, "png"),
        ("image/png", 4, 4, 1))).toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    val out = MultimodalOps.resizeHalf(df).collect()(0)
    val meta = out.getStruct(2)
    assert(meta.getAs[Int]("width") == 2 && meta.getAs[Int]("height") == 2)
    val img = MultimodalOps.decodeImage(out.getAs[Array[Byte]](1)).get
    val vals = Array.tabulate(2, 2)((y, x) => img.getRGB(x, y) & 0xff)
    assert(vals(0)(0) == 20 && vals(0)(1) == 100)
    assert(vals(1)(0) == 100 && vals(1)(1) == 255)
    // non-image media pass through untouched
    val thr = MultimodalOps.resizeHalf(media).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val orig = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    orig.foreach { case (id, b) => assert(thr(id).sameElements(b)) }
  }

  test("resizeHalfVideo: per-frame area-average, container re-wrapped") {
    // two 4×4 frames with distinct known blocks
    def frame(base: Int) = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4)
        img.setRGB(x, y, (base + 10 * (y / 2) + 20 * (x / 2)) * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val blob = MultimodalOps.encodePngVideo(Seq(frame(40), frame(100)))
    val df = Seq((9L, blob, ("video/x-graft-png", 4, 4, 2)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    val out = MultimodalOps.resizeHalfVideo(df).collect()(0)
    assert(out.getStruct(2).getAs[Int]("width") == 2 &&
      out.getStruct(2).getAs[Int]("n_frames") == 2)
    val frames = MultimodalOps.decodePngVideo(out.getAs[Array[Byte]](1)).get
    assert(frames.length == 2)
    // uniform 2×2 blocks → resized pixel == block value exactly
    for ((f, base) <- frames.zip(Seq(40, 100)); y <- 0 until 2; x <- 0 until 2)
      assert((f.getRGB(x, y) & 0xff) == base + 10 * y + 20 * x)
  }

  test("fused resizeHalfVideoLuminance == resizeHalfVideo → videoFrameLuminance, bit-for-bit") {
    // realistic non-uniform frames (PNG-framed), a GRVD raw-gray row, and
    // a too-small-to-resize GPNV row — every branch of the composition
    def frame(seed: Int) = {
      val img = new java.awt.image.BufferedImage(
        6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6)
        img.setRGB(x, y, ((seed + 37 * x + 91 * y + x * y * 13) % 256) * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def tiny = {
      val img = new java.awt.image.BufferedImage(
        1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 200 * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = asMedia(Seq(
      (1L, MultimodalOps.encodePngVideo(Seq(frame(5), frame(120), frame(201))),
        ("video/x-graft-png", 6, 4, 3)),
      (2L, MultimodalOps.encodeRawVideo(2, 2,
        Seq(Array[Byte](10, 20, 30, 40), Array[Byte](-1, 0, 5, 9))),
        ("video/x-graft-raw", 2, 2, 2)),
      (3L, MultimodalOps.encodePngVideo(Seq(tiny)),
        ("video/x-graft-png", 1, 1, 1))))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    val composed = MultimodalOps.videoFrameLuminance(
      MultimodalOps.resizeHalfVideo(media)).collect().map(key).sorted.toSeq
    val fused = MultimodalOps.resizeHalfVideoLuminance(media)
      .collect().map(key).sorted.toSeq
    assert(composed.nonEmpty && fused == composed)
  }

  /** Encode a pixel matrix as real image bytes (PNG/BMP are lossless, so
    * the decode side is exact and the oracle closed-form). */
  def imageBytes(pixels: Array[Array[Int]], format: String): Array[Byte] = {
    val h = pixels.length; val w = pixels(0).length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  def mediaRow(id: Long, bytes: Array[Byte], fmt: String, w: Int, h: Int) =
    (id, bytes, (fmt, w, h, 1))

  def asMedia(rows: Seq[(Long, Array[Byte], (String, Int, Int, Int))]) =
    rows.toDF("media_id", "bytes", "m").select(
      col("media_id"), col("bytes"),
      struct(col("m._1").as("format"), col("m._2").as("width"),
        col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))

  // planted 2×2 image: red, green, blue, white — Rec.601 lumas are
  // closed-form: 76.245, 149.685, 29.07, 255.0
  val planted = Array(
    Array(0xff0000, 0x00ff00),
    Array(0x0000ff, 0xffffff))
  val plantedLumas = Seq(
    0.299 * 255, 0.587 * 255, 0.114 * 255, 255.0)

  test("planted PNG/BMP decode: closed-form luminance (A9 real for images)") {
    for (fmt <- Seq("png", "bmp")) {
      val m = asMedia(Seq(
        mediaRow(1L, imageBytes(planted, fmt), s"image/$fmt", 2, 2)))
      val lum = MultimodalOps.frameLuminance(m).collect()(0).getDouble(1)
      val expect = plantedLumas.sum / 4
      assert(math.abs(lum - expect) < 1e-9,
        s"$fmt: decoded mean luminance $lum != closed-form $expect")
    }
  }

  test("planted PNG decode: luminance histogram bins are closed-form") {
    val m = asMedia(Seq(
      mediaRow(1L, imageBytes(planted, "png"), "image/png", 2, 2)))
    val f = MultimodalOps.extractFeatures(m).collect()(0).getSeq[Float](1)
    assert(f.length == MultimodalOps.FeatureDim)
    // expected bins: floor(luma·16/256) per pixel, each weight 1/4
    val expect = new Array[Float](MultimodalOps.FeatureDim)
    plantedLumas.foreach { l =>
      expect(math.min((l * 16 / 256.0).toInt, 15)) += 0.25f
    }
    assert(f == expect.toSeq, s"got $f, expect ${expect.toSeq}")
  }

  test("undecodable image bytes fall back to the byte stub; video stays stubbed") {
    val junk = Array[Byte](1, 2, 3, 4, 5)
    val m = asMedia(Seq(
      mediaRow(1L, junk, "image/png", 0, 0),     // claims image, isn't
      mediaRow(2L, junk, "video/mp4", 0, 0)))    // video: stub by contract
    val f = MultimodalOps.extractFeatures(m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val stub = MultimodalOps.decodeStub(junk).toSeq
    assert(f(1L) == stub && f(2L) == stub)
    val lum = MultimodalOps.frameLuminance(m).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lum(1L) == 3.0 && lum(2L) == 3.0) // mean unsigned byte
  }

  test("decoded dimensions round-trip through a non-square planted image") {
    val px = Array.tabulate(3, 5)((y, x) => (y * 5 + x) * 0x010101)
    val img = MultimodalOps.decodeImage(imageBytes(px, "png")).get
    assert(img.getWidth == 5 && img.getHeight == 3)
    // gray pixels: luma == gray value exactly (0.299+0.587+0.114 == 1)
    val lumas = MultimodalOps.lumaPixels(img)
    val expect = Array.tabulate(15)(i =>
      (0.299 + 0.587 + 0.114) * i)
    lumas.zip(expect).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("imageAHash: byte-identical images collide, content keys separate") {
    // 9 media rows over 3 content keys → every same-key pair shares the
    // hash; different keys may collide (perceptual) but same-key never split
    val df = (0L to 8L).map(i => (i, i % 3)).toDF("doc_id", "ck")
    val media = VisionFixtures.plantMediaKeyed(df, "doc_id", "ck", "pupil")
    val out = MultimodalOps.imageAHash(media).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 9)
    assert(out.values.forall(h => h.length == 64 &&
      h.forall(c => c == '0' || c == '1')))
    for (i <- 0L to 8L; j <- 0L to 8L if i % 3 == j % 3)
      assert(out(i) == out(j), s"same content key split: $i vs $j")
    // the planted ellipses at keys 0/1/2 differ enough to separate
    assert(out.values.toSet.size == 3)
    // undecodable rows yield no hash
    val junk = Seq((99L, Array[Byte](1, 2, 3), ("image/png", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    assert(MultimodalOps.imageAHash(junk).count() == 0)
  }

  test("imageNearDupPairs == brute-force Hamming <= bands-1 (pigeonhole)") {
    // 12 media over 4 jittered content keys: exact twins at hamming 0,
    // jittered twins near; uncapped run must equal the brute-force pair
    // set — the banded candidate join loses NOTHING below `bands`
    val df = (0L to 11L).map(i => (i, (i % 4) * 2 + (i % 3) / 2))
      .toDF("doc_id", "ck")
    val media = VisionFixtures.plantMediaKeyed(df, "doc_id", "ck",
      "pupil_jitter")
    val got = MultimodalOps.imageNearDupPairs(media, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val hashes = MultimodalOps.imageAHash(media).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = ha.zip(hb).count { case (x, y) => x != y } if d <= 7
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute && got.exists(_._3 == 0L))
  }
}
