package graft.multimodal

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ColorModel, ComponentColorModel, DataBuffer, Raster}

import org.scalatest.funsuite.AnyFunSuite

/** [[MultimodalOps.lumaPixels]] reads the decoded raster directly; every
  * value must carry the same bits as the per-pixel `getRGB` + Rec.601
  * rule it replaces (kept here as the reference), on every image type a
  * codec or a caller can hand it. */
class LumaSpec extends AnyFunSuite {

  private def reference(img: BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        out(y * w + x) = 0.299 * r + 0.587 * g + 0.114 * b
        x += 1
      }
      y += 1
    }
    out
  }

  private def assertSameBits(img: BufferedImage, what: String): Unit = {
    val want = reference(img)
    val got = MultimodalOps.lumaPixels(img)
    assert(got.length == want.length, what)
    var i = 0
    while (i < want.length) {
      assert(java.lang.Double.doubleToRawLongBits(got(i)) ==
        java.lang.Double.doubleToRawLongBits(want(i)),
        s"$what: pixel $i luma ${got(i)} != ${want(i)}")
      i += 1
    }
  }

  /** Every sample of every band drawn at random within its bit size. */
  private def randomSamples(img: BufferedImage, seed: Long): BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val r = img.getRaster
    val sm = r.getSampleModel
    for (y <- 0 until r.getHeight; x <- 0 until r.getWidth; b <- 0 until r.getNumBands)
      r.setSample(x, y, b, rnd.nextInt(1 << math.min(sm.getSampleSize(b), 30)))
    img
  }

  private val predefined = Seq(
    "TYPE_INT_RGB" -> BufferedImage.TYPE_INT_RGB,
    "TYPE_INT_ARGB" -> BufferedImage.TYPE_INT_ARGB,
    "TYPE_INT_ARGB_PRE" -> BufferedImage.TYPE_INT_ARGB_PRE,
    "TYPE_INT_BGR" -> BufferedImage.TYPE_INT_BGR,
    "TYPE_3BYTE_BGR" -> BufferedImage.TYPE_3BYTE_BGR,
    "TYPE_4BYTE_ABGR" -> BufferedImage.TYPE_4BYTE_ABGR,
    "TYPE_4BYTE_ABGR_PRE" -> BufferedImage.TYPE_4BYTE_ABGR_PRE,
    "TYPE_USHORT_565_RGB" -> BufferedImage.TYPE_USHORT_565_RGB,
    "TYPE_USHORT_555_RGB" -> BufferedImage.TYPE_USHORT_555_RGB,
    "TYPE_BYTE_GRAY" -> BufferedImage.TYPE_BYTE_GRAY,
    "TYPE_USHORT_GRAY" -> BufferedImage.TYPE_USHORT_GRAY,
    "TYPE_BYTE_BINARY" -> BufferedImage.TYPE_BYTE_BINARY,
    "TYPE_BYTE_INDEXED" -> BufferedImage.TYPE_BYTE_INDEXED)

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
    bos.toByteArray
  }

  private def decoded(bytes: Array[Byte]): BufferedImage =
    MultimodalOps.decodeImage(bytes).get

  test("all 13 predefined BufferedImage types, seeded random samples") {
    assert(predefined.length == 13)
    for (((name, tpe), k) <- predefined.zipWithIndex; (w, h) <- Seq((37, 23), (1, 1), (8, 3))) {
      val img = randomSamples(new BufferedImage(w, h, tpe), 1000L + 31 * k + w)
      assertSameBits(img, s"$name ${w}x$h")
    }
  }

  test("hand-built colour models: CS_GRAY, CS_LINEAR_RGB, 4-bit gray, banded sRGB") {
    def image(cm: ColorModel, raster: java.awt.image.WritableRaster, seed: Long) =
      randomSamples(new BufferedImage(cm, raster, false, null), seed)
    def ccm(cs: Int, bits: Array[Int], transfer: Int) =
      new ComponentColorModel(ColorSpace.getInstance(cs), bits, false, false,
        java.awt.Transparency.OPAQUE, transfer)
    val gray = ccm(ColorSpace.CS_GRAY, Array(8), DataBuffer.TYPE_BYTE)
    assertSameBits(image(gray, gray.createCompatibleWritableRaster(29, 17), 1L), "CS_GRAY 8-bit")
    val lin = ccm(ColorSpace.CS_LINEAR_RGB, Array(8, 8, 8), DataBuffer.TYPE_BYTE)
    assertSameBits(image(lin, lin.createCompatibleWritableRaster(29, 17), 2L), "CS_LINEAR_RGB 8-bit")
    val lin16 = ccm(ColorSpace.CS_LINEAR_RGB, Array(16, 16, 16), DataBuffer.TYPE_USHORT)
    assertSameBits(image(lin16, lin16.createCompatibleWritableRaster(29, 17), 3L), "CS_LINEAR_RGB 16-bit")
    // 4-bit gray in a byte raster, with stray bytes above 15 in the buffer
    val gray4 = ccm(ColorSpace.CS_GRAY, Array(4), DataBuffer.TYPE_BYTE)
    val r4 = gray4.createCompatibleWritableRaster(16, 16)
    val data = r4.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData
    for (i <- data.indices) data(i) = i.toByte
    assertSameBits(new BufferedImage(gray4, r4, false, null), "CS_GRAY 4-bit, all 256 bytes")
    // sRGB in three banks: not one interleaved byte array
    val srgb = ccm(ColorSpace.CS_sRGB, Array(8, 8, 8), DataBuffer.TYPE_BYTE)
    val banded = Raster.createBandedRaster(DataBuffer.TYPE_BYTE, 29, 17, 3, null)
    assertSameBits(image(srgb, banded, 4L), "banded sRGB")
    // sRGB interleaved with a pixel stride of 4 (one padding byte)
    val padded = Raster.createInterleavedRaster(DataBuffer.TYPE_BYTE, 29, 17,
      29 * 4, 4, Array(1, 3, 0), null)
    assertSameBits(image(srgb, padded, 5L), "padded interleaved sRGB")
  }

  test("images as ImageIO.read returns them: JPEG, PNG gray/RGB/palette/16-bit/RGBA") {
    def src(tpe: Int, w: Int, h: Int, seed: Long) =
      randomSamples(new BufferedImage(w, h, tpe), seed)
    // smooth gray content so the JPEG decode is not all noise
    val grayPlane = Array.tabulate(48 * 40)(i => ((i % 48) * 5 + (i / 48) * 3).toByte)
    val cases = Seq(
      ("gray JPEG", AviCodec.jpegGray(48, 40, grayPlane), BufferedImage.TYPE_BYTE_GRAY),
      ("RGB JPEG", encode(src(BufferedImage.TYPE_3BYTE_BGR, 40, 30, 11L), "jpeg"),
        BufferedImage.TYPE_3BYTE_BGR),
      ("RGB PNG", encode(src(BufferedImage.TYPE_INT_RGB, 41, 29, 12L), "png"),
        BufferedImage.TYPE_3BYTE_BGR),
      ("gray PNG", encode(src(BufferedImage.TYPE_BYTE_GRAY, 41, 29, 13L), "png"),
        BufferedImage.TYPE_BYTE_GRAY),
      ("palette PNG", encode(src(BufferedImage.TYPE_BYTE_INDEXED, 41, 29, 14L), "png"),
        BufferedImage.TYPE_BYTE_INDEXED),
      ("1-bit PNG", encode(src(BufferedImage.TYPE_BYTE_BINARY, 41, 29, 15L), "png"),
        BufferedImage.TYPE_BYTE_BINARY),
      ("16-bit gray PNG", encode(src(BufferedImage.TYPE_USHORT_GRAY, 41, 29, 16L), "png"),
        BufferedImage.TYPE_USHORT_GRAY),
      ("RGBA PNG", encode(src(BufferedImage.TYPE_INT_ARGB, 41, 29, 17L), "png"),
        BufferedImage.TYPE_4BYTE_ABGR))
    for ((name, bytes, tpe) <- cases) {
      val img = decoded(bytes)
      assert(img.getType == tpe, s"$name decoded as type ${img.getType}")
      assertSameBits(img, name)
    }
    // the benchmark's and fixtures' own frames
    assertSameBits(decoded(VisionFixtures.renderMultiMarkers(3L)), "fixture PNG")
  }

  test("subimages: raster offsets into the DataBuffer") {
    for (((name, tpe), k) <- predefined.zipWithIndex) {
      val img = randomSamples(new BufferedImage(37, 23, tpe), 2000L + k)
      for ((x, y, w, h) <- Seq((3, 2, 20, 15), (0, 5, 37, 1), (36, 22, 1, 1), (5, 0, 9, 23)))
        assertSameBits(img.getSubimage(x, y, w, h), s"$name sub($x,$y,$w,$h)")
    }
    val png = decoded(encode(randomSamples(
      new BufferedImage(41, 29, BufferedImage.TYPE_INT_RGB), 21L), "png"))
    assertSameBits(png.getSubimage(7, 4, 19, 11), "RGB PNG subimage")
  }
}
