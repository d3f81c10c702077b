package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns with a typed metadata struct —
  * the engine never interprets the bytes outside the decode seam.
  *
  * The IMAGE arm of the seam is a REAL kernel: `javax.imageio` ships in
  * the JDK (PNG/BMP/GIF/JPEG readers, zero external deps), so rows whose
  * `meta.format` is `image/…` are actually decoded and their features /
  * luminance computed from pixels. Video (and the `fake/raw` test medium)
  * stays on the deterministic byte-level stub — the JDK has no video
  * codecs — behind the same batched mapPartitions contract, so swapping a
  * real codec in changes one function, not the plumbing: schema,
  * partition-local batched iteration, per-row 0..n frame fan-out and
  * metadata propagation are shared and tested.
  *
  * Reference analogue: the video batch scan S1 + per-frame kernels C1-C7
  * (pupil_detection_pl.py:94-133, marker_detection.py:29-47) — frames
  * never become a long-lived table; only per-frame feature rows do.
  */
object MultimodalOps {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Wrap any table into the media shape for pipeline testing: bytes =
    * UTF-8 of a text column, synthetic dimensions from the byte length. */
  def packAsMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("bytes"),
      struct(
        lit("fake/raw").as("format"),
        (length(col(textCol)) % 640 + 16).cast("int").as("width"),
        (length(col(textCol)) % 480 + 16).cast("int").as("height"),
        (length(col(textCol)) % 8 + 1).cast("int").as("n_frames")).as("meta"))

  /** Feature dimension of the stub decoder. */
  val FeatureDim = 16

  /** STUB decode kernel: a real implementation would JPEG/PNG-decode and
    * run a vision model per batch; the deterministic stand-in is a 16-bin
    * normalized byte histogram. Runs per partition over the raw bytes —
    * exactly where an FFI decoder batch would sit. */
  private[multimodal] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](FeatureDim)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) % FeatureDim) += 1f
      i += 1
    }
    var j = 0
    while (j < FeatureDim) { hist(j) /= bytes.length; j += 1 }
    hist
  }

  /** Real image decode via the JDK (`javax.imageio`): None when the
    * bytes are not a decodable image — callers fall back to the byte
    * stub, preserving the original contract for non-image media. The
    * in-memory stream cache avoids temp-file IO inside executor tasks. */
  private[multimodal] def decodeImage(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      // NonFatal, not just IOException: ImageIO throws runtime exceptions
      // (IllegalArgument, NegativeArraySize, IndexOutOfBounds) on some
      // malformed payloads, and the decoder contract is never-throw
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Rec.601 luma (0.299R + 0.587G + 0.114B) of every pixel, row-major —
    * the grayscale plane the reference's scans load (`color='gray'`,
    * pupil_detection_pl.py:107-112).
    *
    * R, G, B are what `img.getRGB(x, y)` returns, i.e. the colour model's
    * `getRGB` of the raster's data elements (so a gray JPEG's linear-gray
    * → sRGB step is applied), and the result is bit-identical to that
    * per-pixel call. It is computed from the raster, chosen by the raster
    * and colour model the codec returned:
    *  - a byte raster with one data element per pixel (gray, palette and
    *    binary images): a 256-entry luma table built from the colour
    *    model, applied to each row's data elements;
    *  - 8-bit sRGB without alpha in a byte `ComponentSampleModel` (PNG
    *    RGB): R, G, B read from the backing array;
    *  - anything else: per-pixel `getRGB`. */
  private[multimodal] def lumaPixels(img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](w * h)
    val raster = img.getRaster
    val cm = img.getColorModel
    val table = lumaTable(raster, cm)
    if (table != null) {
      val row = new Array[Byte](w)
      var y = 0
      while (y < h) {
        raster.getDataElements(0, y, w, 1, row)
        val base = y * w
        var x = 0
        while (x < w) { out(base + x) = table(row(x) & 0xff); x += 1 }
        y += 1
      }
    } else if (isByteSrgb(raster, cm)) {
      val sm = raster.getSampleModel.asInstanceOf[java.awt.image.ComponentSampleModel]
      val db = raster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte]
      val bank = sm.getBankIndices()(0)
      val data = db.getData(bank)
      val ps = sm.getPixelStride; val ss = sm.getScanlineStride
      val bo = sm.getBandOffsets
      // element of (x, y) in band b: Raster → SampleModel coordinates,
      // then DataBufferByte's per-bank offset
      val origin = db.getOffsets()(bank) -
        raster.getSampleModelTranslateX * ps - raster.getSampleModelTranslateY * ss
      val (or, og, ob) = (origin + bo(0), origin + bo(1), origin + bo(2))
      var y = 0
      while (y < h) {
        val base = y * w
        var x = 0
        while (x < w) {
          val i = y * ss + x * ps
          out(base + x) = rec601(data(or + i) & 0xff, data(og + i) & 0xff, data(ob + i) & 0xff)
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(y * w + x) = rec601(img.getRGB(x, y))
          x += 1
        }
        y += 1
      }
    }
    out
  }

  @inline private def rec601(r: Int, g: Int, b: Int): Double =
    0.299 * r + 0.587 * g + 0.114 * b

  @inline private def rec601(rgb: Int): Double =
    rec601((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)

  /** Luma of each byte data element through `cm.getRGB`, or null unless
    * the raster holds one byte data element per pixel (or the colour
    * model rejects some byte value, left to per-pixel `getRGB`). */
  private def lumaTable(raster: java.awt.image.Raster,
                        cm: java.awt.image.ColorModel): Array[Double] =
    if (raster.getTransferType != java.awt.image.DataBuffer.TYPE_BYTE ||
        raster.getNumDataElements != 1) null
    else try {
      val elem = new Array[Byte](1)
      Array.tabulate(256) { v =>
        elem(0) = v.toByte
        rec601(cm.getRGB(elem))
      }
    } catch { case scala.util.control.NonFatal(_) => null }

  /** 8-bit sRGB R, G, B (no alpha) as three bands of one byte array:
    * there `cm.getRGB` returns the stored bytes unchanged. */
  private def isByteSrgb(raster: java.awt.image.Raster,
                         cm: java.awt.image.ColorModel): Boolean =
    (cm, raster.getSampleModel, raster.getDataBuffer) match {
      case (ccm: java.awt.image.ComponentColorModel,
            sm: java.awt.image.ComponentSampleModel,
            db: java.awt.image.DataBufferByte) =>
        !ccm.hasAlpha && ccm.getNumComponents == 3 &&
          ccm.getColorSpace.isCS_sRGB &&
          ccm.getTransferType == java.awt.image.DataBuffer.TYPE_BYTE &&
          ccm.getComponentSize.forall(_ == 8) &&
          sm.getNumBands == 3 && sm.getBankIndices.distinct.length == 1
      case _ => false
    }

  /** Image feature kernel: 16-bin normalized LUMINANCE histogram
    * (bin = floor(luma · 16 / 256), top bin closed) — same shape and
    * normalization as the byte stub, computed from decoded pixels. */
  private[multimodal] def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val luma = lumaPixels(img)
    val hist = new Array[Float](FeatureDim)
    if (luma.isEmpty) return hist
    luma.foreach { l =>
      hist(math.min((l * FeatureDim / 256.0).toInt, FeatureDim - 1)) += 1f
    }
    var j = 0
    while (j < FeatureDim) { hist(j) /= luma.length; j += 1 }
    hist
  }

  /** Raw grayscale video container — the deterministic stand-in for a
    * codec the JVM doesn't ship: `GRVD | w:i32le | h:i32le | n:i32le |
    * n planes of w·h unsigned-gray bytes`. It exercises the REAL S1
    * batch-scan plumbing (multi-frame blob → frame fan-out → per-frame
    * kernel rows, pupil_detection_pl.py:94-133) with exact pixel
    * round-trips; swapping in an FFI codec replaces only this parser. */
  final case class RawVideo(w: Int, h: Int, frames: Array[Array[Byte]])

  def encodeRawVideo(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.forall(_.length == w * h), "frame plane size mismatch")
    val out = java.nio.ByteBuffer.allocate(16 + frames.length * w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GRVD".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.putInt(w).putInt(h).putInt(frames.length)
    frames.foreach(out.put)
    out.array()
  }

  /** THE GRVD header parse — the single source of acceptance for the
    * decode, strided, and listing tiers (three verbatim copies of this
    * check drifted once; never again). Overflow-safe: the total-size
    * bound compares by DIVISION — `16L + n*w*h` at header-controlled
    * magnitudes reaches 2^93 and wraps Long, which once let a crafted
    * 16-byte header list as a 2M-frame video. */
  private[multimodal] def parseGrvdHeader(
      bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 16) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'R' &&
        bytes(2) == 'V' && bytes(3) == 'D')) return None
    val bb = java.nio.ByteBuffer.wrap(bytes, 4, 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val w = bb.getInt; val h = bb.getInt; val n = bb.getInt
    if (w <= 0 || h <= 0 || n < 0 ||
        (n > 0 && (bytes.length - 16L) / n < w.toLong * h)) None
    else Some((w, h, n))
  }

  def decodeRawVideo(bytes: Array[Byte]): Option[RawVideo] =
    parseGrvdHeader(bytes).map { case (w, h, n) =>
      RawVideo(w, h, Array.tabulate(n) { i =>
        val plane = new Array[Byte](w * h)
        System.arraycopy(bytes, 16 + i * w * h, plane, 0, w * h)
        plane
      })
    }

  /** PNG-framed video container: `GPNV | n:i32le | n × (len:i32le, PNG
    * bytes)`. Unlike the raw-gray GRVD stand-in, every frame decodes
    * through a REAL image codec (`javax.imageio` PNG, lossless) — the
    * closest the JDK gets to a codec-exercising video path, and the exact
    * oracle survives because PNG round-trips pixels bit-for-bit. Frame
    * dims come from the decoded frames themselves. */
  def encodePngVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(_.length + 4).sum
    val out = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GPNV".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.putInt(frames.length)
    frames.foreach { f => out.putInt(f.length); out.put(f) }
    out.array()
  }

  /** Decode a GPNV blob to per-frame luma planes (real PNG decode per
    * frame). None on bad magic / truncation / undecodable frame. */
  def decodePngVideo(bytes: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] = {
    if (bytes == null || bytes.length < 8) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    if (!magic.sameElements("GPNV".getBytes)) return None
    val n = bb.getInt
    if (n < 0) return None
    val frames = Vector.newBuilder[java.awt.image.BufferedImage]
    var i = 0
    while (i < n) {
      if (bb.remaining() < 4) return None
      val len = bb.getInt
      if (len < 0 || bb.remaining() < len) return None
      val buf = new Array[Byte](len); bb.get(buf)
      decodeImage(buf) match {
        case Some(img) => frames += img
        case None => return None
      }
      i += 1
    }
    Some(frames.result())
  }

  /** STRIDED GRVD walk: planes address directly (header + f·w·h), so
    * skipped frames are never copied. Same validation as
    * [[decodeRawVideo]] (magic, dims, total length). */
  private[multimodal] def decodeRawVideoStrided(bytes: Array[Byte],
      stride: Int): Option[Iterator[(Int, Int, Int, Array[Byte])]] =
    parseGrvdHeader(bytes).map { case (w, h, n) =>
      (0 until n by stride).iterator.map { f =>
        val plane = new Array[Byte](w * h)
        System.arraycopy(bytes, 16 + f * w * h, plane, 0, w * h)
        (f, w, h, plane)
      }
    }

  /** STRIDED GPNV walk: the per-frame length headers are validated for
    * EVERY frame (the walk is the container contract), but the PNG codec
    * runs only on sampled frames — skipped bodies are seeked past.
    * Consequence, by design: a corrupt body inside a skipped frame goes
    * unnoticed; a corrupt LENGTH still fails the whole blob to None. */
  private[multimodal] def decodePngVideoStrided(bytes: Array[Byte],
      stride: Int): Option[Iterator[(Int, java.awt.image.BufferedImage)]] = {
    if (bytes == null || bytes.length < 8) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    if (!magic.sameElements("GPNV".getBytes)) return None
    val n = bb.getInt
    if (n < 0) return None
    val out = Vector.newBuilder[(Int, java.awt.image.BufferedImage)]
    var f = 0
    while (f < n) {
      if (bb.remaining() < 4) return None
      val len = bb.getInt
      if (len < 0 || bb.remaining() < len) return None
      if (f % stride == 0) {
        val buf = new Array[Byte](len); bb.get(buf)
        decodeImage(buf) match {
          case Some(img) => out += ((f, img))
          case None => return None
        }
      } else bb.position(bb.position() + len)
      f += 1
    }
    Some(out.result().iterator)
  }

  /** Frame SAMPLING with the decode skipped for unsampled frames — the
    * uniform-stride tier of video ingest (`every k-th frame`), where the
    * point at scale is NOT the fan-out but the decode cut: the container
    * walks (GRVD: direct addressing; GPNV: seek by length header; an FFI
    * codec: keyframe/index seek via [[VideoDecoder.framesStrided]]) run
    * the codec only on frames kept, so a stride-30 sample of a 100 TB
    * corpus pays ~1/30 of the decode CPU, not all of it. One
    * mapPartitions pass; one row per sampled frame with its ORIGINAL
    * frame index and mean luminance (the cheap content signature
    * downstream dedup/quality stages key on). */
  def sampleFramesLuminance(media: DataFrame, stride: Int,
      decoder: VideoDecoder = VideoDecoder.default): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_index", IntegerType),
      StructField("luminance", DoubleType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        decoder.framesStrided(r.getAs[Array[Byte]](bIdx), stride) match {
          case Some(fs) => fs.map { case (f, g) =>
            Row(r.getLong(idIdx), f,
              if (g.px.isEmpty) 0.0 else g.px.sum / g.px.length)
          }
          case None => Iterator.empty
        }
      }
    }
  }

  /** Perceptual AVERAGE HASH (aHash) of decodable images — the image
    * tier of the dedup family: decode → integer luma (per-pixel
    * `round(0.299R+0.587G+0.114B)`, so gray round-trips exactly) →
    * `grid`×`grid` equal blocks over the truncated
    * (w − w%grid)×(h − h%grid) region → bit_i = "block i's mean ≥ the
    * region mean", emitted as a bit STRING in row-major block order.
    * All arithmetic is INTEGER (block sums exact, the mean compare is
    * cross-multiplied: `blockSum·nBlocks ≥ regionSum`) — no float sum
    * order anywhere near a hard bit decision, which is what lets an
    * external replay hash-match bit-for-bit. Near-identical images
    * (resize/re-encode survivors) collide; grouping on the hash is the
    * image analogue of exact-text dedup, and Hamming-banding the string
    * is the LSH extension. Undecodable rows yield no output. */
  def imageAHash(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 1, s"grid must be >= 1, got $grid")
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", StringType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeImage(r.getAs[Array[Byte]](bIdx)).iterator.flatMap { img =>
          val w = img.getWidth; val h = img.getHeight
          val bw = w / grid; val bh = h / grid
          if (bw == 0 || bh == 0) Iterator.empty
          else {
            val sums = Array.ofDim[Long](grid * grid)
            var total = 0L
            var by = 0
            while (by < grid) {
              var bx = 0
              while (bx < grid) {
                var s = 0L
                var y = by * bh
                while (y < (by + 1) * bh) {
                  var x = bx * bw
                  while (x < (bx + 1) * bw) {
                    val rgb = img.getRGB(x, y)
                    val lum = math.round(
                      0.299 * ((rgb >> 16) & 0xff) +
                      0.587 * ((rgb >> 8) & 0xff) +
                      0.114 * (rgb & 0xff)).toInt
                    s += lum
                    x += 1
                  }
                  y += 1
                }
                sums(by * grid + bx) = s
                total += s
                bx += 1
              }
              by += 1
            }
            val n = grid * grid
            val bits = new StringBuilder(n)
            var i = 0
            while (i < n) {
              bits.append(if (sums(i) * n >= total) '1' else '0')
              i += 1
            }
            Iterator.single(Row(r.getLong(idIdx), bits.toString))
          }
        }
      }
    }
  }

  /** Image NEAR-duplicate pairs by Hamming-banded aHash — the LSH
    * extension of [[imageAHash]] exact grouping: the `grid²`-bit hash
    * splits into `bands` equal substrings, images sharing ≥1 band pair
    * up (one shuffle on the band key, buckets rank-capped like the text
    * LSH — `maxBucket` bounds a degenerate all-same-hash corpus), and
    * survivors verify with the EXACT full-hash Hamming distance
    * (row-local) at `maxHamming`. Pigeonhole guarantee: any pair with
    * distance < `bands` shares an untouched band, so recall is COMPLETE
    * for `maxHamming ≤ bands − 1` (the shipped configuration) — beyond
    * that it degrades into ordinary LSH recall. Returns
    * (id_a, id_b, hamming), id_a < id_b. */
  def imageNearDupPairs(media: DataFrame, grid: Int = 8, bands: Int = 8,
                        maxHamming: Int = 7,
                        maxBucket: Int = 1000): DataFrame =
    imagePairsFromHashes(imageAHash(media, grid), grid, bands, maxHamming,
      Some(maxBucket))

  private[graft] def imagePairsFromHashes(hashes: DataFrame, grid: Int, bands: Int,
                                   maxHamming: Int,
                                   maxBucket: Option[Int]): DataFrame = {
    val nBits = grid * grid
    require(bands >= 1 && nBits % bands == 0,
      s"bands must divide $nBits, got $bands")
    val bandLen = nBits / bands
    val banded = hashes.select(col("media_id"), col("ahash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            substring(col("ahash"), b * bandLen + 1, bandLen)
              .as("band_bits"))): _*)).as("_b"))
      .select(col("media_id"), col("ahash"),
        col("_b.band_id"), col("_b.band_bits"))
    val capped = maxBucket match {
      case Some(c) =>
        val wb = Window.partitionBy(col("band_id"), col("band_bits"))
          .orderBy(col("media_id"))
        banded.withColumn("_rn", row_number().over(wb))
          .filter(col("_rn") <= c).drop("_rn")
      case None => banded
    }
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.ahash").as("_ha"), col("b.ahash").as("_hb"))
      .distinct()
    val hamming = size(filter(
      zip_with(split(col("_ha"), ""), split(col("_hb"), ""),
        (x, y) => x =!= y),
      d => d))
    pairs.withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Image near-dup RECALL AUDIT (the TextOps.lshRecallAudit
    * discipline): `maxHamming ≤ bands − 1` makes the UNCAPPED band join
    * pigeonhole-complete, so the uncapped chain is exact ground truth —
    * still equi-join-shaped — and the measured recall isolates the
    * hot-bucket rank cap's cost on this corpus (aHash bands are
    * low-entropy, so the cap genuinely bites; see the planted query's
    * cap note). ONE aHash decode pass feeds both chains. One row:
    * `(n_true, n_found, recall)`. */
  def imageNearDupRecallAudit(media: DataFrame, grid: Int = 8,
                              bands: Int = 8, maxHamming: Int = 7,
                              maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= bands - 1,
      s"truth side needs the pigeonhole guarantee: maxHamming $maxHamming > bands-1")
    val hashes = graft.CacheRegistry.persistTracked(imageAHash(media, grid))
    val exact = imagePairsFromHashes(hashes, grid, bands, maxHamming, None)
      .select(col("id_a"), col("id_b"))
    val found = imagePairsFromHashes(hashes, grid, bands, maxHamming,
        Some(maxBucket))
      .select(col("id_a"), col("id_b"), lit(1).as("_f"))
    graft.operators.TextOps.recallRollup(exact, found, Seq("id_a", "id_b"))
  }

  /** Decode/feature-extract: media table → (media_id, features). Rows
    * with an `image/…` format are REALLY decoded (luminance histogram
    * from pixels); anything else — or an undecodable image — takes the
    * byte-histogram stub. Batch shape: one mapPartitions pass, rows
    * streamed, no per-row JVM↔native round-trips in a real decoder. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val mIdx = media.schema.fieldIndex("meta")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType))))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val fmt = Option(r.getStruct(mIdx))
          .flatMap(m => Option(m.getAs[String]("format"))).getOrElse("")
        val feats =
          if (fmt.startsWith("image/"))
            decodeImage(bytes).map(imageFeatures).getOrElse(decodeStub(bytes))
          else decodeStub(bytes)
        Row(r.getLong(idIdx), feats.toSeq)
      }
    }
  }

  /** A9 frame luminance (`np.mean(frame)` per frame,
    * pupil_detection_pl.py:126): mean decoded gray value per media row —
    * REAL for image formats via the JDK decoder; the mean unsigned byte
    * stands in for undecodable/non-image media. */
  def frameLuminance(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val mIdx = media.schema.fieldIndex("meta")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("luminance", DoubleType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val fmt = Option(r.getStruct(mIdx))
          .flatMap(m => Option(m.getAs[String]("format"))).getOrElse("")
        val decoded =
          if (fmt.startsWith("image/")) decodeImage(bytes) else None
        val lum = decoded match {
          case Some(img) =>
            val luma = lumaPixels(img)
            if (luma.isEmpty) 0.0 else luma.sum / luma.length
          case None =>
            if (bytes == null || bytes.isEmpty) 0.0
            else {
              // Long accumulator: an Int sum wraps past ~16.8 MB of
              // high-valued bytes (and .map would copy the blob)
              var s = 0L; var i = 0
              while (i < bytes.length) { s += bytes(i) & 0xff; i += 1 }
              s.toDouble / bytes.length
            }
        }
        Row(r.getLong(idIdx), lum)
      }
    }
  }

  /** GRVD structural metadata, header-only: IS [[parseGrvdHeader]] —
    * identical acceptance to the decode tiers by construction, zero
    * plane copies. */
  private[multimodal] def rawVideoMeta(
      bytes: Array[Byte]): Option[(Int, Int, Int)] = parseGrvdHeader(bytes)

  /** GPNV structural metadata: the length walk validates every frame's
    * framing (the same acceptance as the decode walk); dims come from
    * the FIRST frame's PNG IHDR when it IS a PNG (width/height
    * big-endian at payload+16/+20, no codec run), falling back to ONE
    * real decode of the first frame for any other `javax.imageio`
    * format the container legally carries (GPNV frames are
    * format-generic on the decode side) — still one frame's cost, not
    * the blob's. A zero-frame blob lists as (0, 0, 0): valid-empty has
    * no dims, and a 0×0×0 row correctly prices its decode at zero. */
  private[multimodal] def pngVideoMeta(
      bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 8) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'V')) return None
    val n = java.nio.ByteBuffer.wrap(bytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    if (n < 0) return None
    var off = 8
    var w = 0; var h = 0
    var i = 0
    while (i < n) {
      if (off + 4 > bytes.length) return None
      val len = java.nio.ByteBuffer.wrap(bytes, off, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (len <= 0 || off + 4L + len > bytes.length) return None
      if (i == 0) {
        val p = off + 4
        if (len >= 24 && (bytes(p) & 0xff) == 0x89 && bytes(p + 1) == 'P') {
          w = java.nio.ByteBuffer.wrap(bytes, p + 16, 4).getInt
          h = java.nio.ByteBuffer.wrap(bytes, p + 20, 4).getInt
        } else {
          // non-PNG-framed (JPEG etc.): dims need the real codec once
          val body = new Array[Byte](len)
          System.arraycopy(bytes, p, body, 0, len)
          decodeImage(body) match {
            case Some(img) => w = img.getWidth; h = img.getHeight
            case None => return None // decode tier would reject it too
          }
        }
        if (w <= 0 || h <= 0) return None
      }
      off += 4 + len
      i += 1
    }
    Some((w, h, n))
  }

  /** UNIFIED structural listing over a MIXED video corpus — the real
    * shape of a 100 TB media lake, where GRVD/GPNV stand-ins, RIFF/AVI
    * and ISO-BMFF mp4 blobs share one binary column. One row per blob
    * that parses as ANY of the four containers: (container, codec,
    * width, height, n_frames), resolved from container STRUCTURE alone
    * — GRVD/GPNV headers, the AVI movi chunk-header walk, the mp4
    * moov/moof table walk; no frame body is ever read, so the listing
    * cost is per-blob-header, not per-byte. This is the pass that
    * decides WHAT to decode before any decode CPU is committed (the
    * batching decision in pupil_detection_pl.py:94-112, corpus-wide);
    * [[mp4Meta]] remains the BMFF-specific tier with timescale/
    * duration. Unparseable blobs drop (the S7 sentinel tier owns bad
    * media). */
  def videoMeta(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("container", StringType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val id = r.getLong(idIdx)
        rawVideoMeta(bytes).map { case (w, h, n) =>
          Row(id, "grvd", "raw", w, h, n)
        }.orElse(pngVideoMeta(bytes).map { case (w, h, n) =>
          Row(id, "gpnv", "png", w, h, n)
        }).orElse(AviCodec.meta(bytes).map { case (codec, w, h, n) =>
          Row(id, "avi", codec, w, h, n)
        }).orElse(Mp4Codec.meta(bytes).map { m =>
          // nSamples is a resolved sample-table length — always an Int
          Row(id, "mp4", m.codec, m.width, m.height, m.nSamples.toInt)
        })
      }
    }
  }

  /** S1 STRUCTURAL tier for ISO-BMFF video ([[Mp4Codec.meta]]): per-blob
    * track metadata — codec fourcc, dimensions, sample count, timescale,
    * duration — from the box walk ALONE; no sample body is ever read, so
    * the scan cost is the `moov` parse, not the decode. This is the
    * listing pass a 100 TB mp4 corpus runs BEFORE committing decode CPU
    * (what to decode, how many frames, at what rate — the batching
    * decision in pupil_detection_pl.py:94-112), and the honest tier for
    * codecs the JVM cannot run: an avc1/H.264 track yields its full
    * metadata here and no fabricated frames anywhere. One row per blob
    * that parses as BMFF with a video track; non-BMFF blobs drop. */
  def mp4Meta(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_samples", LongType),
      StructField("timescale", LongType),
      StructField("duration", LongType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        Mp4Codec.meta(r.getAs[Array[Byte]](bIdx)).map(m =>
          Row(r.getLong(idIdx), m.codec, m.width, m.height,
            m.nSamples, m.timescale, m.duration))
      }
    }
  }

  /** A9 for VIDEO: per-frame mean gray (`np.mean(frame)` per frame,
    * pupil_detection_pl.py:126) over the raw-video container — one row
    * per (media, frame). Raw gray planes make the mean exact integer
    * arithmetic (Σ unsigned bytes / count). */
  def videoFrameLuminance(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_index", IntegerType),
      StructField("luminance", DoubleType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeRawVideo(r.getAs[Array[Byte]](bIdx)) match {
          case Some(v) =>
            v.frames.iterator.zipWithIndex.map { case (plane, f) =>
              var s = 0L; var i = 0
              while (i < plane.length) { s += (plane(i) & 0xff); i += 1 }
              Row(r.getLong(idIdx), f,
                if (plane.isEmpty) 0.0 else s.toDouble / plane.length)
            }
          case None =>
            // GPNV dispatch (same container rule as VisionOps
            // .videoFrames): per-frame Rec.601 luma mean through the
            // real codec — previously PNG-framed video silently yielded
            // no rows here
            decodePngVideo(r.getAs[Array[Byte]](bIdx)) match {
              case Some(frames) =>
                frames.iterator.zipWithIndex.map { case (img, f) =>
                  val luma = lumaPixels(img)
                  Row(r.getLong(idIdx), f,
                    if (luma.isEmpty) 0.0 else luma.sum / luma.length)
                }
              case None => Iterator.empty
            }
        }
      }
    }
  }

  /** [[resizeHalf]] for PNG-FRAMED VIDEO (`GPNV`): every frame decodes
    * through the real codec, area-averages 2×2, and re-encodes; the
    * container re-wraps the resized frames and meta dims halve. Other
    * containers/formats pass through untouched. */
  def resizeHalfVideo(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val mIdx = media.schema.fieldIndex("meta")
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(mediaSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val meta = r.getStruct(mIdx)
        decodePngVideo(bytes) match {
          case Some(frames) if frames.nonEmpty &&
              frames.head.getWidth >= 2 && frames.head.getHeight >= 2 =>
            val resized = frames.map { img =>
              val w = img.getWidth; val w2 = w / 2; val h2 = img.getHeight / 2
              val plane = resizePlane(lumaPixels(img), w, w2, h2)
              val out = new java.awt.image.BufferedImage(
                w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h2) {
                var x = 0
                while (x < w2) {
                  out.setRGB(x, y, plane(y * w2 + x) * 0x010101)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.setUseCache(false)
              javax.imageio.ImageIO.write(out, "png", bos)
              bos.toByteArray
            }
            Row(r.getLong(idIdx), encodePngVideo(resized),
              Row(meta.getString(0), frames.head.getWidth / 2,
                frames.head.getHeight / 2, meta.getInt(3)))
          case _ => Row(r.getLong(idIdx), bytes, meta)
        }
      }
    }
  }

  /** The shared per-frame 2×2 area-average kernel: luma plane → resized
    * 8-bit gray values, row-major, with the [[resizeHalf]] rounding rule
    * (block mean is exact in doubles, `Math.round` half-up back to 8-bit).
    * Both the artifact-producing resize (which re-encodes these values as
    * PNG) and the fused resize→consume path read it, so the two cannot
    * drift. */
  private def resizePlane(luma: Array[Double], w: Int,
                          w2: Int, h2: Int): Array[Int] = {
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val m = (luma(2 * y * w + 2 * x) +
          luma(2 * y * w + 2 * x + 1) +
          luma((2 * y + 1) * w + 2 * x) +
          luma((2 * y + 1) * w + 2 * x + 1)) / 4.0
        out(y * w2 + x) = math.min(255L, Math.round(m)).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** FUSED resize→luminance for PNG-framed video: [[resizeHalfVideo]]
    * composed with [[videoFrameLuminance]] in ONE mapPartitions pass —
    * per frame: real PNG decode → 2×2 area-average → mean luma of the
    * RESIZED plane, skipping the re-encode + re-decode the two-operator
    * composition pays when the resized artifact is also consumed in the
    * same lineage (the r7 verdict's double-codec nit: the artifact
    * contract costs one PNG encode + decode per frame that a fused
    * consumer never looks at).
    *
    * BIT-IDENTICAL to `videoFrameLuminance(resizeHalfVideo(media))`
    * (spec-pinned, same oracle): the PNG round-trip is lossless for the
    * 8-bit gray planes the resize emits, and the resized pixel's luma —
    * 0.299v + 0.587v + 0.114v for r=g=b=v — is evaluated here in the
    * exact association order [[lumaPixels]] uses, summed in the same
    * row-major order. Containers the resize passes through untouched
    * (GRVD raw-gray, <2×2 frames, undecodable) take the composition's
    * passthrough branch: per-frame luminance of the ORIGINAL frames.
    * Use [[resizeHalfVideo]] when the resized artifact itself must be
    * persisted. */
  def resizeHalfVideoLuminance(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_index", IntegerType),
      StructField("luminance", DoubleType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    // the re-decoded gray pixel (v, v, v) through lumaPixels' exact rule
    def grayLuma(v: Int): Double = 0.299 * v + 0.587 * v + 0.114 * v
    media.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val id = r.getLong(idIdx)
        decodePngVideo(bytes) match {
          case Some(frames) if frames.nonEmpty &&
              frames.head.getWidth >= 2 && frames.head.getHeight >= 2 =>
            frames.iterator.zipWithIndex.map { case (img, f) =>
              val w = img.getWidth
              val w2 = w / 2; val h2 = img.getHeight / 2
              val plane = resizePlane(lumaPixels(img), w, w2, h2)
              var s = 0.0; var i = 0
              while (i < plane.length) { s += grayLuma(plane(i)); i += 1 }
              Row(id, f, if (plane.isEmpty) 0.0 else s / plane.length)
            }
          case Some(frames) =>
            // resize passthrough (tiny/empty frames): luminance of the
            // ORIGINAL decoded frames, matching the composition
            frames.iterator.zipWithIndex.map { case (img, f) =>
              val luma = lumaPixels(img)
              Row(id, f, if (luma.isEmpty) 0.0 else luma.sum / luma.length)
            }
          case None =>
            // non-GPNV media pass the resize untouched; GRVD raw-gray then
            // takes videoFrameLuminance's integer-mean branch
            decodeRawVideo(bytes) match {
              case Some(v) =>
                v.frames.iterator.zipWithIndex.map { case (plane, f) =>
                  var s = 0L; var i = 0
                  while (i < plane.length) { s += (plane(i) & 0xff); i += 1 }
                  Row(id, f,
                    if (plane.isEmpty) 0.0 else s.toDouble / plane.length)
                }
              case None => Iterator.empty
            }
        }
      }
    }
  }

  /** REAL 2× downsample of decodable images: decode through the JDK
    * codec, AREA-AVERAGE each 2×2 luma block (the antialias-correct
    * pyramid step; block mean of ≤255 ints is exact in doubles — sums
    * are integers, /4 is a power-of-two division — and `Math.round`
    * half-up quantizes back to 8-bit), re-encode as a real gray PNG,
    * and update meta dims. Odd trailing row/col is dropped (w/2 × h/2
    * floor). Non-image or undecodable media pass through untouched —
    * the same fallback contract as [[extractFeatures]]. The rounding
    * rule and block arithmetic are oracle-replayable, so the resized
    * bytes are hash-attested END-TO-END through a second decode (the
    * `mm_resize_luminance` query). */
  def resizeHalf(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val mIdx = media.schema.fieldIndex("meta")
    val outSchema = mediaSchema
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val meta = r.getStruct(mIdx)
        // positional reads: when two typed map operators fuse, the nested
        // meta Row arrives schemaless and name lookups throw; the media
        // struct layout is fixed (format, width, height, n_frames)
        val fmt = Option(meta)
          .flatMap(m => Option(m.getString(0))).getOrElse("")
        val resized =
          if (fmt.startsWith("image/")) decodeImage(bytes).flatMap { img =>
            val w2 = img.getWidth / 2; val h2 = img.getHeight / 2
            if (w2 == 0 || h2 == 0) None
            else {
              val plane = resizePlane(lumaPixels(img), img.getWidth, w2, h2)
              val out = new java.awt.image.BufferedImage(
                w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h2) {
                var x = 0
                while (x < w2) {
                  out.setRGB(x, y, plane(y * w2 + x) * 0x010101)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.setUseCache(false)
              javax.imageio.ImageIO.write(out, "png", bos)
              Some((bos.toByteArray, w2, h2))
            }
          } else None
        resized match {
          case Some((b2, w2, h2)) =>
            Row(r.getLong(idIdx), b2, Row("image/png", w2, h2,
              meta.getInt(3)))
          case None => Row(r.getLong(idIdx), bytes, meta)
        }
      }
    }
  }
}
