package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Deterministic planted-marker image synthesis for the CV kernel tier.
  *
  * Each renderer derives marker geometry from the row id with integer
  * arithmetic and rasterizes with an EXACT inclusion rule (integer or
  * half-ulp-free double comparisons), writes a real PNG (lossless), and
  * the decode→detect pipeline recovers the planted geometry bit-for-bit
  * — so an external SQL oracle can replay the same inclusion rule over
  * the same integer grid and hash-match the detector output. This is the
  * image analogue of the planted-affine m9 oracles: the fixture carries
  * its own ground truth.
  *
  * Dark = 32, light = 224 (both safely across the 128 binarization
  * threshold after Rec.601 luma of a gray pixel, which is exactly
  * (0.299+0.587+0.114)·v).
  */
object VisionFixtures {

  val Dark = 32
  val Light = 224

  /** Rasterize + PNG-encode: `isDark(x, y)` drives the two-tone image. */
  def pngBytes(w: Int, h: Int, invert: Boolean)(
      isDark: (Int, Int) => Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val dark = isDark(x, y) ^ invert
        val v = if (dark) Dark else Light
        img.setRGB(x, y, v * 0x010101)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // Planted geometry per id — integer arithmetic only, mirrored verbatim
  // by the oracle SQL.

  /** Pupil: axis-aligned filled ellipse, 64×64 frame. */
  def pupilParams(id: Long): (Int, Int, Int, Int) =
    ((24 + id % 13).toInt, (24 + (id * 3) % 13).toInt,
      (8 + id % 5).toInt, (4 + id % 3).toInt)

  def renderPupil(id: Long): Array[Byte] = {
    val (cx, cy, a, b) = pupilParams(id)
    pngBytes(64, 64, invert = false) { (x, y) =>
      val tx = (x - cx).toDouble / a
      val ty = (y - cy).toDouble / b
      tx * tx + ty * ty <= 1.0
    }
  }

  /** Checkerboard: 7×4 cells (6×3 interior corners — the reference's
    * checkerboard_size=(3,6) default), cell size s ∈ {6,8,10}, leading
    * color alternating by id, surrounded by a LIGHT MARGIN of
    * (mx, my) ∈ [0,6]×[0,4] pixels per side (r5: boards sit anywhere in
    * the frame, marker_detection.py:218-233 — margin 0 covers the old
    * full-frame case). */
  def checkerboardParams(id: Long): (Int, Int, Int) =
    ((6 + 2 * (id % 3)).toInt, ((id * 3) % 7).toInt, ((id * 5) % 5).toInt)

  def renderCheckerboard(id: Long): Array[Byte] = {
    val (s, mx, my) = checkerboardParams(id)
    pngBytes(7 * s + 2 * mx, 4 * s + 2 * my, invert = false) { (x, y) =>
      val bx = x - mx; val by = y - my
      bx >= 0 && bx < 7 * s && by >= 0 && by < 4 * s &&
        (((bx / s + by / s) % 2 == 0) == (id % 2 == 0))
    }
  }

  /** Concentric circles: 2-3 rings of half-thickness 1 around an
    * integral center, 64×64 frame; odd ids are rendered CONTRAST-
    * INVERTED (light rings on dark) — the C7 arm; detectors must pass
    * `invertContrast = true` for those. */
  def circleParams(id: Long): (Int, Int, Int, Int) =
    ((30 + id % 5).toInt, (30 + (id * 7) % 5).toInt,
      (2 + id % 2).toInt, (id % 3).toInt)

  def renderCircles(id: Long): Array[Byte] = {
    val (cx, cy, nr, rb) = circleParams(id)
    pngBytes(64, 64, invert = id % 2 == 1) { (x, y) =>
      val d2 = (x - cx).toLong * (x - cx) + (y - cy).toLong * (y - cy)
      (1 to nr).exists { k =>
        val r = 6 * k + rb
        (r - 1).toLong * (r - 1) <= d2 && d2 <= (r + 1).toLong * (r + 1)
      }
    }
  }

  /** Multi-marker scene: 1-2 concentric-ring markers per 64×64 frame at
    * well-separated integral centers (ring radii rk = 5k + t per
    * marker), so a frame fans out to 0..n marker rows — the
    * world_circles generator shape. */
  def multiMarkerParams(id: Long): Seq[(Int, Int, Int, Int)] = {
    val m0 = ((16 + id % 3).toInt, (16 + (id * 5) % 3).toInt, 2,
      (id % 2).toInt)
    val m1 = ((44 + id % 3).toInt, (44 + (id * 7) % 3).toInt, 2,
      (id % 3).toInt)
    if (id % 2 == 0) Seq(m0) else Seq(m0, m1)
  }

  /** Odd frames are rendered CONTRAST-INVERTED (light rings on dark):
    * detected through the C7 arm, their markers classify as "Stop"
    * (rings brighter than the enclosed dot in the original image); even
    * frames' dark-ring markers classify as "Ref". */
  def renderMultiMarkers(id: Long): Array[Byte] = {
    val markers = multiMarkerParams(id)
    pngBytes(64, 64, invert = id % 2 == 1) { (x, y) =>
      markers.exists { case (cx, cy, nr, t) =>
        val d2 = (x - cx).toLong * (x - cx) + (y - cy).toLong * (y - cy)
        (1 to nr).exists { k =>
          val r = 5 * k + t
          (r - 1).toLong * (r - 1) <= d2 && d2 <= (r + 1).toLong * (r + 1)
        }
      }
    }
  }

  /** Anti-aliased vertical edge: dark left half, light right half, one
    * intermediate-gray boundary column whose level m ∈ {64,96,128,160}
    * encodes the sub-pixel edge position — the planted ground truth for
    * the gradient-CoM refinement (the cornerSubPix tier). */
  def edgeParams(id: Long): (Int, Int) =
    ((10 + id % 20).toInt, (64 + 32 * (id % 4)).toInt)

  def renderEdge(id: Long): Array[Byte] = {
    val (xb, m) = edgeParams(id)
    val img = new java.awt.image.BufferedImage(
      48, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 48) {
      var x = 0
      while (x < 48) {
        val v = if (x < xb) Dark else if (x == xb) m else Light
        img.setRGB(x, y, v * 0x010101)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** World-camera video: the multi-marker scene drifting one pixel per
    * frame (both markers together), 2-4 PNG frames per blob — the
    * reference's find-markers-over-world-video shape
    * (marker_detection.py:98-117 loads world.mp4 and runs the circle
    * finder per frame). Geometry stays exactly in-bounds at every
    * frame. */
  def renderVideoMarkers(id: Long): Array[Byte] = {
    val nf = (2 + id % 3).toInt
    val markers = multiMarkerParams(id)
    val frames = (0 until nf).map { f =>
      pngBytes(64, 64, invert = false) { (x, y) =>
        markers.exists { case (cx0, cy0, nr, t) =>
          val cx = cx0 + f; val cy = cy0 + f
          val d2 = (x - cx).toLong * (x - cx) + (y - cy).toLong * (y - cy)
          (1 to nr).exists { k =>
            val r = 5 * k + t
            (r - 1).toLong * (r - 1) <= d2 && d2 <= (r + 1).toLong * (r + 1)
          }
        }
      }
    }
    MultimodalOps.encodePngVideo(frames)
  }

  /** PNG-framed video: the same drifting-pupil geometry as [[renderVideo]]
    * but every frame is a real PNG — the decode path exercises the
    * `javax.imageio` codec per frame (lossless, so the oracle replay is
    * unchanged from the raw-gray container). */
  def renderVideoPng(id: Long): Array[Byte] = {
    val (nf, cx0, cy0, a, b) = videoParams(id)
    val frames = (0 until nf).map { f =>
      val cx = cx0 + f; val cy = cy0 + f
      pngBytes(48, 48, invert = false) { (x, y) =>
        val tx = (x - cx).toDouble / a
        val ty = (y - cy).toDouble / b
        tx * tx + ty * ty <= 1.0
      }
    }
    MultimodalOps.encodePngVideo(frames)
  }

  /** Eye-blink video: 14 PNG frames of a FIXED-center dark ellipse whose
    * semi-minor axis follows [[blinkPattern]] — a planted lid closure
    * (squeeze to b=1 mid-sequence, gradual re-open). The per-frame
    * eyelid distance the keypoint→M13 chain recovers is 2·b·cos(θ_pca),
    * whose velocity sign pattern is the SAME for every id and clears the
    * blink-FSM gates by construction, so the detected segment is the
    * closed-form constant (onset=2, offset=9, duration=7, n_frames=8)
    * the oracle plants (the fixture-carries-its-own-truth discipline). */
  val blinkPattern: Array[Int] = Array(6, 6, 6, 5, 2, 1, 2, 3, 4, 5, 6, 6, 6, 6)

  def blinkParams(id: Long): (Int, Int, Int) =
    ((16 + id % 9).toInt, (16 + (id * 3) % 9).toInt, (6 + id % 3).toInt)

  def renderVideoBlink(id: Long): Array[Byte] = {
    val (cx, cy, a) = blinkParams(id)
    val frames = blinkPattern.toSeq.map { b =>
      pngBytes(48, 48, invert = false) { (x, y) =>
        val tx = (x - cx).toDouble / a
        val ty = (y - cy).toDouble / b
        tx * tx + ty * ty <= 1.0
      }
    }
    MultimodalOps.encodePngVideo(frames)
  }

  /** Raw video: 2-4 frames of 48×48 gray with a dark pupil ellipse
    * drifting one pixel per frame (axis-aligned; geometry from the id,
    * exactly in-bounds at every frame). */
  def videoParams(id: Long): (Int, Int, Int, Int, Int) =
    ((2 + id % 3).toInt, (16 + id % 9).toInt, (16 + (id * 3) % 9).toInt,
      (6 + id % 3).toInt, (3 + id % 2).toInt)

  /** Long-video params: same drifting ellipse, 8–12 frames — enough for
    * a strided sample (every 3rd) to keep several frames and skip more
    * than it keeps. */
  def videoLongParams(id: Long): (Int, Int, Int, Int, Int) =
    ((8 + id % 5).toInt, (16 + id % 9).toInt, (16 + (id * 3) % 9).toInt,
      (6 + id % 3).toInt, (3 + id % 2).toInt)

  def renderVideoLongPng(id: Long): Array[Byte] = {
    val (nf, cx0, cy0, a, b) = videoLongParams(id)
    val frames = (0 until nf).map { f =>
      val cx = cx0 + f; val cy = cy0 + f
      pngBytes(48, 48, invert = false) { (x, y) =>
        val tx = (x - cx).toDouble / a
        val ty = (y - cy).toDouble / b
        tx * tx + ty * ty <= 1.0
      }
    }
    MultimodalOps.encodePngVideo(frames)
  }

  def renderVideo(id: Long): Array[Byte] =
    MultimodalOps.encodeRawVideo(48, 48, videoPlanes(id)._2)

  /** THE drifting-ellipse raster (one 48×48 plane per frame, center
    * drifting +1/frame) — the single source of the oracle-bearing
    * geometry every video-container muxer AND codec spec replays; any
    * second copy of this loop is a divergence hazard. */
  private[multimodal] def ellipsePlanes(nf: Int, cx0: Int, cy0: Int,
                                        a: Int, b: Int): Seq[Array[Byte]] =
    (0 until nf).map { f =>
      val cx = cx0 + f; val cy = cy0 + f
      Array.tabulate(48 * 48) { i =>
        val x = i % 48; val y = i / 48
        val tx = (x - cx).toDouble / a
        val ty = (y - cy).toDouble / b
        (if (tx * tx + ty * ty <= 1.0) Dark else Light).toByte
      }
    }

  /** The drifting-pupil planes of [[videoParams]] (the [[renderVideo]]
    * raster, verbatim) — shared by the container muxers below. */
  private[multimodal] def videoPlanes(id: Long): (Int, Seq[Array[Byte]]) = {
    val (nf, cx0, cy0, a, b) = videoParams(id)
    (nf, ellipsePlanes(nf, cx0, cy0, a, b))
  }

  /** MJPEG-in-AVI video: the [[renderVideo]] drifting-pupil geometry,
    * every frame REAL-JPEG-encoded (grayscale, max quality) and muxed
    * into a spec-valid RIFF/AVI — the real-container tier
    * (marker_detection.py:98-117's mp4 scan, restated in the one real
    * video container the JDK can decode end-to-end). The closed-form
    * raster oracle survives the LOSSY codec because the binarization
    * margin dominates the JPEG error: planted levels 32/224 vs
    * threshold 128 leave 96 gray levels of headroom, two orders above
    * max-quality single-component JPEG error — so the dark MASK (and
    * with it every moment statistic) is bit-identical to the planted
    * raster. AviCodecSpec pins that mask-exactness claim per pixel. */
  def renderVideoAvi(id: Long): Array[Byte] = {
    val (_, planes) = videoPlanes(id)
    AviCodec.encode(48, 48,
      planes.map(p => AviCodec.jpegGray(48, 48, p)), "MJPG")
  }

  /** Uncompressed-DIB-in-AVI video: same geometry through the same real
    * container walk with exact integer pixels (8-bit gray palette). */
  def renderVideoAviDib(id: Long): Array[Byte] = {
    val (_, planes) = videoPlanes(id)
    AviCodec.encodeDibGray(48, 48, planes)
  }

  /** LONG DIB-in-AVI video ([[videoLongParams]] geometry, 8-12 frames):
    * the strided-sampling fixture for the real container — the movi
    * chunk walk must SEEK past unsampled frame bodies by their chunk
    * lengths, and the exact integer pixels keep the luminance replay
    * oracle unchanged from the GPNV form. */
  def renderVideoAviDibLong(id: Long): Array[Byte] = {
    val (nf, cx0, cy0, a, b) = videoLongParams(id)
    AviCodec.encodeDibGray(48, 48, ellipsePlanes(nf, cx0, cy0, a, b))
  }

  /** JPEG-in-MP4 video: the [[renderVideo]] drifting-pupil geometry,
    * every frame REAL-JPEG-encoded and muxed as a `jpeg`-coded video
    * track in a spec-valid ISO-BMFF mp4 ([[Mp4Codec.encode]]) — the
    * container the reference ACTUALLY ingests (pupil_detection_pl
    * .py:94-112). Same mask-exactness argument as [[renderVideoAvi]]:
    * the 96-gray-level binarization margin dominates max-quality JPEG
    * error, so the dark mask replays bit-identically (Mp4CodecSpec
    * pins it per pixel). */
  def renderVideoMp4(id: Long): Array[Byte] = {
    val (_, planes) = videoPlanes(id)
    Mp4Codec.encode(48, 48,
      planes.map(p => AviCodec.jpegGray(48, 48, p)))
  }

  /** H.264-SHAPED mp4: an `avc1` video track whose sample payloads are
    * deterministic opaque bytes (sizes vary per sample so the `stsz`
    * table is exercised for real). The JVM ships no H.264 codec, so this
    * fixture attests the STRUCTURAL tier — [[Mp4Codec.meta]] yields the
    * full track metadata while [[Mp4Codec.decode]] honestly returns
    * `None` — the listing pass a 100 TB video corpus runs before
    * committing decode CPU. */
  private def avcSamples(id: Long): Seq[Array[Byte]] = {
    val nf = videoParams(id)._1
    (0 until nf).map { f =>
      Array.tabulate(50 + ((id + f) % 30).toInt)(j =>
        ((id * 31 + f * 7 + j) % 256).toByte)
    }
  }

  def renderVideoMp4Avc(id: Long): Array[Byte] =
    Mp4Codec.encode(48, 48, avcSamples(id), codecTag = "avc1")

  /** FRAGMENTED mp4 (fMP4/CMAF, [[Mp4Codec.encodeFragmented]]): the
    * same drifting-pupil JPEG samples split across moof+mdat fragments
    * of 2 — the layout streaming captures emit, where the moov sample
    * tables are EMPTY and every frame lives in a trun table. */
  def renderVideoMp4Frag(id: Long): Array[Byte] = {
    val (_, planes) = videoPlanes(id)
    Mp4Codec.encodeFragmented(48, 48,
      planes.map(p => AviCodec.jpegGray(48, 48, p)), perFrag = 2)
  }

  /** H.264-shaped FRAGMENTED mp4: the structural tier must count
    * trun-table samples, not the (empty) moov tables. */
  def renderVideoMp4FragAvc(id: Long): Array[Byte] =
    Mp4Codec.encodeFragmented(48, 48, avcSamples(id), perFrag = 2,
      codecTag = "avc1")

  /** Plant a media table (media_id, bytes, meta) from any id column:
    * one real PNG per row. `kind` ∈ pupil | checkerboard | circles. */
  /** The per-kind renderer: id → (bytes, format, width, height, n_frames). */
  private def renderFor(kind: String): Long => (Array[Byte], String, Int, Int, Int) =
    kind match {
      case "pupil" => id => (renderPupil(id), "image/png", 64, 64, 1)
      // near-dup plant: params from id/2, center shifted by the low bit —
      // a jittered twin of the even sibling (image near-dup fixtures)
      case "pupil_jitter" => id => {
        val (cx, cy, a, b) = pupilParams(id / 2)
        val dx = (id % 2).toInt
        (pngBytes(64, 64, invert = false) { (x, y) =>
          val tx = (x - cx - dx).toDouble / a
          val ty = (y - cy).toDouble / b
          tx * tx + ty * ty <= 1.0
        }, "image/png", 64, 64, 1)
      }
      case "checkerboard" => id =>
        val (s, mx, my) = checkerboardParams(id)
        (renderCheckerboard(id), "image/png", 7 * s + 2 * mx, 4 * s + 2 * my, 1)
      case "circles" => id => (renderCircles(id), "image/png", 64, 64, 1)
      case "multi_markers" => id =>
        (renderMultiMarkers(id), "image/png", 64, 64, 1)
      case "edge" => id => (renderEdge(id), "image/png", 48, 48, 1)
      case "video" => id =>
        val nf = videoParams(id)._1
        (renderVideo(id), "video/x-graft-raw", 48, 48, nf)
      case "video_png" => id =>
        val nf = videoParams(id)._1
        (renderVideoPng(id), "video/x-graft-png", 48, 48, nf)
      case "video_avi" => id =>
        val nf = videoParams(id)._1
        (renderVideoAvi(id), "video/avi", 48, 48, nf)
      case "video_avi_dib" => id =>
        val nf = videoParams(id)._1
        (renderVideoAviDib(id), "video/avi", 48, 48, nf)
      case "video_avi_dib_long" => id =>
        val nf = videoLongParams(id)._1
        (renderVideoAviDibLong(id), "video/avi", 48, 48, nf)
      case "video_mp4" => id =>
        val nf = videoParams(id)._1
        (renderVideoMp4(id), "video/mp4", 48, 48, nf)
      case "video_mp4_avc" => id =>
        val nf = videoParams(id)._1
        (renderVideoMp4Avc(id), "video/mp4", 48, 48, nf)
      case "video_mp4_frag" => id =>
        val nf = videoParams(id)._1
        (renderVideoMp4Frag(id), "video/mp4", 48, 48, nf)
      case "video_mp4_frag_avc" => id =>
        val nf = videoParams(id)._1
        (renderVideoMp4FragAvc(id), "video/mp4", 48, 48, nf)
      // MIXED corpus: container chosen by id % 4 — the real shape of a
      // media lake, for the unified structural-listing tier
      case "video_mixed" => id =>
        val nf = videoParams(id)._1
        (id % 4) match {
          case 0 => (renderVideo(id), "video/x-graft-raw", 48, 48, nf)
          case 1 => (renderVideoPng(id), "video/x-graft-png", 48, 48, nf)
          case 2 => (renderVideoAvi(id), "video/avi", 48, 48, nf)
          case _ => (renderVideoMp4(id), "video/mp4", 48, 48, nf)
        }
      case "video_long" => id =>
        val nf = videoLongParams(id)._1
        (renderVideoLongPng(id), "video/x-graft-png", 48, 48, nf)
      case "video_markers" => id =>
        (renderVideoMarkers(id), "video/x-graft-png", 64, 64,
          (2 + id % 3).toInt)
      case "video_blink" => id =>
        (renderVideoBlink(id), "video/x-graft-png", 48, 48,
          blinkPattern.length)
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }

  def plantMedia(df: DataFrame, idCol: String, kind: String): DataFrame = {
    val render = renderFor(kind)
    val outSchema = MultimodalOps.mediaSchema
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    import org.apache.spark.sql.functions.col
    // repartition BEFORE the render/decode/detect lineage: media corpora
    // often arrive as few large files, and the whole per-row kernel chain
    // would otherwise inherit single-file parallelism (same rationale as
    // graft.Par). The exchange moves only the tiny id column —
    // which is exactly why the partition count must be EXPLICIT: AQE
    // sizes coalescing by shuffled BYTES, so a keys-only exchange
    // collapses to one partition and the heavy per-row kernels downstream
    // serialize onto one task (measured 10 s vs 0.8 s on the blink-video
    // render at sf0.1). A user-specified count is exempt from AQE
    // coalescing; defaultParallelism = cores locally, executors×cores on
    // a cluster.
    val ids = df.select(col(idCol).cast("long"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
    val idIdx = 0
    ids.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val (bytes, fmt, w, h, nf) = render(id)
        Row(id, bytes, Row(fmt, w, h, nf))
      }
    }
  }

  /** [[plantMedia]] with a SEPARATE content key: `media_id` = `idCol`,
    * rendered content = `renderFor(kind)(keyCol)` — distinct media rows
    * carrying identical bytes, the duplicate structure an image-dedup
    * fixture needs. */
  def plantMediaKeyed(df: DataFrame, idCol: String, keyCol: String,
                      kind: String): DataFrame = {
    val render = renderFor(kind)
    val outSchema = MultimodalOps.mediaSchema
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    import org.apache.spark.sql.functions.col
    // explicit arity for the same AQE-coalescing reason as [[plantMedia]]
    val ids = df.select(col(idCol).cast("long"), col(keyCol).cast("long"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
    ids.mapPartitions { it =>
      it.map { r =>
        val (bytes, fmt, w, h, nf) = render(r.getLong(1))
        Row(r.getLong(0), bytes, Row(fmt, w, h, nf))
      }
    }
  }
}
