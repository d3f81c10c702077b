package graft.multimodal

import graft.multimodal.VisionOps.Gray

/** Decoder-injection seam — the contract an FFI video codec implements
  * to close the mp4 gap (pupil_detection_pl.py:94-112 decodes mp4 via
  * OpenCV; the JVM ships no video codec and the sandbox has no ffmpeg,
  * so the engine runs on the GRVD/GPNV stand-in containers today).
  *
  * The contract is exactly the shape every per-frame kernel already
  * consumes (see `VisionOps.videoFrames`): bytes → an ITERATOR of
  * row-major grayscale planes, `None` when the container is not this
  * decoder's. Laziness is the scale property an FFI decoder should keep
  * — a 10 GB blob's frames decoded one at a time inside the consuming
  * `mapPartitions` task and never materialized together (decode-next
  * per `next()`, free after copy). The built-in AVI, GPNV and MP4
  * decoders instead decode the whole blob before returning, so a
  * corrupt later frame fails the whole blob (docs/CODEC.md clause 2).
  *
  * Swapping in ffmpeg/JavaCV = implementing `frames` (magic-sniff the
  * container, wrap the native demux/decode loop, emit Rec.601 luma
  * planes) and passing the decoder — alone or ahead of the defaults via
  * [[VideoDecoder.Chain]] — to the video operators' `decoder` parameter
  * (`VisionOps.detectPupilsVideo` / `detectKeypointsVideo` /
  * `detectMarkersVideo`). No schema, partitioning, or kernel change:
  * the full contract is documented in docs/CODEC.md.
  */
trait VideoDecoder extends Serializable {

  /** Decode a media blob to per-frame luma planes.
    *
    * @return `Some(frames)` when the bytes are this decoder's container
    *         (even if it holds zero frames); `None` to let the next
    *         decoder in the chain sniff. Implementations must be
    *         EXECUTOR-SAFE: serializable, no shared mutable state, and
    *         tolerant of truncated/corrupt bytes (return `None`, never
    *         throw). */
  def frames(bytes: Array[Byte]): Option[Iterator[Gray]]

  /** STRIDED decode — every `stride`-th frame with its original index.
    * The default decodes everything and drops the rest (always correct);
    * container-aware decoders OVERRIDE it to SKIP the undecoded frames
    * (seek by frame length / plane size), which is the scale property of
    * frame sampling: decode cost proportional to frames KEPT, not frames
    * stored — at a 100 TB video corpus with stride 30, a 30× decode cut.
    * Skip-capable implementations still validate the container WALK
    * (magic, counts, lengths) but not the bodies of skipped frames —
    * sampling trusts the framing, by design. Same never-throw rule as
    * [[frames]]. */
  def framesStrided(bytes: Array[Byte],
                    stride: Int): Option[Iterator[(Int, Gray)]] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    frames(bytes).map(_.zipWithIndex.collect {
      case (g, i) if i % stride == 0 => (i, g)
    })
  }
}

object VideoDecoder {

  /** GRVD raw-gray container: the byte value IS the luma (exact
    * integer round-trip, no colorimetric rounding). */
  object Grvd extends VideoDecoder {
    def frames(bytes: Array[Byte]): Option[Iterator[Gray]] =
      MultimodalOps.decodeRawVideo(bytes).map { v =>
        v.frames.iterator.map { plane =>
          val px = new Array[Double](plane.length)
          var i = 0
          while (i < plane.length) { px(i) = (plane(i) & 0xff).toDouble; i += 1 }
          Gray(v.w, v.h, px)
        }
      }

    /** Fixed plane size ⇒ sampled frames address directly; skipped
      * planes are never copied out of the blob. */
    override def framesStrided(bytes: Array[Byte],
                               stride: Int): Option[Iterator[(Int, Gray)]] = {
      require(stride >= 1, s"stride must be >= 1, got $stride")
      MultimodalOps.decodeRawVideoStrided(bytes, stride).map(_.map {
        case (f, w, h, plane) =>
          val px = new Array[Double](plane.length)
          var i = 0
          while (i < plane.length) { px(i) = (plane(i) & 0xff).toDouble; i += 1 }
          (f, Gray(w, h, px))
      })
    }
  }

  /** GPNV PNG-framed container: every frame decodes through the real
    * `javax.imageio` codec, luma via Rec.601. */
  object Gpnv extends VideoDecoder {
    def frames(bytes: Array[Byte]): Option[Iterator[Gray]] =
      MultimodalOps.decodePngVideo(bytes)
        .map(_.iterator.map(VisionOps.grayOf))

    /** The length headers let the walk SEEK past unsampled frames —
      * the real codec runs only on frames kept. */
    override def framesStrided(bytes: Array[Byte],
                               stride: Int): Option[Iterator[(Int, Gray)]] = {
      require(stride >= 1, s"stride must be >= 1, got $stride")
      MultimodalOps.decodePngVideoStrided(bytes, stride)
        .map(_.map { case (f, img) => (f, VisionOps.grayOf(img)) })
    }
  }

  /** RIFF/AVI — the REAL-container member of the chain
    * ([[AviCodec]]): MJPG payloads decode through the JDK's actual
    * lossy JPEG codec (the container class the reference's mp4 scans
    * ingest, pupil_detection_pl.py:94-112); uncompressed DIB payloads
    * (8-bit palettized / 24-bit BGR) round-trip integers exactly, so
    * the closed-form raster oracles hold through a real container
    * walk. */
  object Avi extends VideoDecoder {
    def frames(bytes: Array[Byte]): Option[Iterator[Gray]] =
      AviCodec.decode(bytes).map(_.iterator)

    /** The movi chunk walk validates every frame's framing but runs the
      * codec only on sampled frames — MJPEG is all-keyframe, so any
      * stride is seekable. */
    override def framesStrided(bytes: Array[Byte],
                               stride: Int): Option[Iterator[(Int, Gray)]] = {
      require(stride >= 1, s"stride must be >= 1, got $stride")
      AviCodec.decodeStrided(bytes, stride)
    }
  }

  /** ISO-BMFF (MP4/QuickTime) — the container the reference ACTUALLY
    * ingests (`world.mp4`/`eye0.mp4`, pupil_detection_pl.py:94-112,
    * marker_detection.py:98-117), via [[Mp4Codec]]'s zero-dep box walk:
    * `stsc`/`stsz`/`stco`-resolved sample ranges, per-sample JDK JPEG
    * decode for `jpeg`/`mjpa` tracks. Codecs the JVM cannot run (avc1/
    * H.264) yield `None` here — the chain defers honestly rather than
    * fabricating frames; their structural tier is [[Mp4Codec.meta]]. */
  object Mp4 extends VideoDecoder {
    def frames(bytes: Array[Byte]): Option[Iterator[Gray]] =
      Mp4Codec.decode(bytes).map(_.iterator)

    /** The sample TABLE (not the bodies) addresses every frame, so the
      * codec runs only on sampled frames — MJPEG-in-MP4 is all-keyframe,
      * any stride is seekable. */
    override def framesStrided(bytes: Array[Byte],
                               stride: Int): Option[Iterator[(Int, Gray)]] = {
      require(stride >= 1, s"stride must be >= 1, got $stride")
      Mp4Codec.decodeStrided(bytes, stride)
    }
  }

  /** First-match dispatch over a decoder list — prepend an FFI decoder
    * to the defaults to add a container without touching the kernels. */
  final case class Chain(decoders: Seq[VideoDecoder]) extends VideoDecoder {
    def frames(bytes: Array[Byte]): Option[Iterator[Gray]] = {
      val it = decoders.iterator
      while (it.hasNext) {
        val r = it.next().frames(bytes)
        if (r.isDefined) return r
      }
      None
    }

    override def framesStrided(bytes: Array[Byte],
                               stride: Int): Option[Iterator[(Int, Gray)]] = {
      val it = decoders.iterator
      while (it.hasNext) {
        val r = it.next().framesStrided(bytes, stride)
        if (r.isDefined) return r
      }
      None
    }
  }

  /** The shipped dispatch: GRVD (cheap 4-byte sniff), then GPNV, then
    * the real RIFF/AVI container (12-byte sniff), then ISO-BMFF mp4 —
    * existing blobs dispatch exactly as before; AVI and JPEG-coded mp4
    * blobs decode for real. */
  val default: VideoDecoder = Chain(Seq(Grvd, Gpnv, Avi, Mp4))
}
