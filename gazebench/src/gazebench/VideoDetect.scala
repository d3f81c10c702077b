package gazebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}

import graft.multimodal.{AviCodec, MultimodalOps, VideoDecoder, VisionFixtures, VisionOps}

/** video_detect: seeded eye clips (MJPEG-in-AVI, 192×192, one dark pupil
  * ellipse drifting a pixel per frame) through `VisionOps
  * .detectPupilsVideo`, and world clips (PNG-framed, 320×240, two
  * concentric-ring calibration markers drifting a pixel per frame)
  * through `VisionOps.detectMarkersVideo`. Every planted shape is
  * symmetric about an integer centre, so each detected centre must land
  * within half a pixel of it. */
final class VideoDetect(val env: Env) extends Workload {
  import VideoDetect._

  final case class Detections(pupils: Array[Row], markers: Array[Row])
  type Out = Detections
  val name = "video_detect"

  val eyeClips: Int = if (env.tiny) 2 else 48
  val eyeFrames: Int = if (env.tiny) 4 else 40
  val worldClips: Int = if (env.tiny) 1 else 16
  val worldFrames: Int = if (env.tiny) 3 else 30
  // passes still speed up (JIT) over the first few seconds
  override def warmups: Int = if (env.tiny) 1 else 6

  private var eyeMedia: DataFrame = _
  private var worldMedia: DataFrame = _

  /** Eye clip `i`: start centre, semi-axes and per-frame drift. */
  def eyeParams(i: Int): (Int, Int, Int, Int, Int, Int) = {
    val r = new scala.util.Random(env.seed * 31 + i)
    val a = 12 + r.nextInt(11); val b = 8 + r.nextInt(9)
    val m = 24 + eyeFrames
    (m + r.nextInt(EyeW - 2 * m), m + r.nextInt(EyeH - 2 * m), a, b,
      r.nextInt(3) - 1, r.nextInt(3) - 1)
  }

  /** World clip `i`: two markers (centre, ring count, ring offset), one
    * per half of the frame, and the shared per-frame drift. */
  def worldParams(i: Int): (Seq[(Int, Int, Int, Int)], Int, Int) = {
    val r = new scala.util.Random(env.seed * 37 + 1000 + i)
    val m = 20 + worldFrames
    def marker(x0: Int, x1: Int) =
      (x0 + r.nextInt(x1 - x0), m + r.nextInt(WorldH - 2 * m), 2 + r.nextInt(2), r.nextInt(3))
    (Seq(marker(m, WorldW / 2 - 20), marker(WorldW / 2 + 20, WorldW - m)),
      r.nextInt(3) - 1, r.nextInt(3) - 1)
  }

  /** Planted pupil centre of eye clip `i` at frame `f`. */
  def eyeCentre(i: Int, f: Int): (Int, Int) = {
    val (cx, cy, _, _, dx, dy) = eyeParams(i)
    (cx + dx * f, cy + dy * f)
  }

  /** Planted marker centres of world clip `i` at frame `f`, by x. */
  def markerCentres(i: Int, f: Int): Seq[(Int, Int)] = {
    val (ms, dx, dy) = worldParams(i)
    ms.map { case (x, y, _, _) => (x + dx * f, y + dy * f) }.sortBy(_._1)
  }

  private def eyeClip(i: Int): Array[Byte] = {
    val (_, _, a, b, _, _) = eyeParams(i)
    val frames = (0 until eyeFrames).map { f =>
      val (cx, cy) = eyeCentre(i, f)
      val plane = Array.tabulate(EyeW * EyeH) { p =>
        val tx = (p % EyeW - cx).toDouble / a
        val ty = (p / EyeW - cy).toDouble / b
        (if (tx * tx + ty * ty <= 1.0) VisionFixtures.Dark else VisionFixtures.Light).toByte
      }
      AviCodec.jpegGray(EyeW, EyeH, plane)
    }
    AviCodec.encode(EyeW, EyeH, frames, "MJPG")
  }

  private def worldClip(i: Int): Array[Byte] = {
    val (ms, _, _) = worldParams(i)
    val frames = (0 until worldFrames).map { f =>
      val rings = ms.zip(markerCentres(i, f).sortBy(_._1)).map {
        case ((_, _, nr, t), (cx, cy)) => (cx, cy, nr, t) }
      VisionFixtures.pngBytes(WorldW, WorldH, invert = false) { (x, y) =>
        rings.exists { case (cx, cy, nr, t) =>
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

  def generate(out: Path): Unit = {
    // clips render in parallel; each depends only on (seed, clip index)
    java.util.stream.IntStream.range(0, eyeClips + worldClips).parallel().forEach { k =>
      if (k < eyeClips) Files.write(out.resolve(f"eye_$k%03d.avi"), eyeClip(k))
      else {
        val i = k - eyeClips
        Files.write(out.resolve(f"world_$i%03d.gpnv"), worldClip(i))
      }
    }
  }

  override def prepare(in: Path): Unit = {
    val spark = env.spark
    import spark.implicits._
    // one clip per task: the cores take clips off one queue, so a core
    // slowed by another process delays one clip, not a fixed share
    def media(prefix: String, n: Int, ext: String) = spark.sparkContext
      .parallelize((0 until n).map(i => (i.toLong,
        Files.readAllBytes(in.resolve(f"${prefix}_$i%03d.$ext")))), n)
      .toDF("media_id", "bytes").cache()
    eyeMedia = media("eye", eyeClips, "avi")
    worldMedia = media("world", worldClips, "gpnv")
    eyeMedia.count(); worldMedia.count()
  }

  def run(): Detections = Detections(
    VisionOps.detectPupilsVideo(eyeMedia).collect(),
    VisionOps.detectMarkersVideo(worldMedia).collect())

  /** Per clip: one detection per frame, each within tolerance of the
    * planted centre. Returns each clip's op with its count of bad frames. */
  def verifyPupils(rows: Array[Row]): Seq[(Op, Int)] = {
    val byClip = rows.groupBy(_.getAs[Long]("media_id"))
    (0 until eyeClips).map { i =>
      val rs = byClip.getOrElse(i.toLong, Array.empty[Row])
        .sortBy(_.getAs[Int]("frame_index"))
      val bad = (0 until eyeFrames).filter { f =>
        val (cx, cy) = eyeCentre(i, f)
        val at = rs.filter(_.getAs[Int]("frame_index") == f)
        at.length != 1 || math.abs(at(0).getAs[Double]("center_x") - cx) > Tolerance ||
          math.abs(at(0).getAs[Double]("center_y") - cy) > Tolerance
      }
      (Op(s"eye clip $i", bad.headOption.map(f =>
        s"${bad.length} frames off; frame $f: pupil not within $Tolerance px of ${eyeCentre(i, f)}")),
        bad.length)
    }
  }

  def verifyMarkers(rows: Array[Row]): Seq[(Op, Int)] = {
    val byClip = rows.groupBy(_.getAs[Long]("media_id"))
    (0 until worldClips).map { i =>
      val rs = byClip.getOrElse(i.toLong, Array.empty[Row])
      val bad = (0 until worldFrames).filter { f =>
        val at = rs.filter(_.getAs[Int]("frame_index") == f)
          .sortBy(_.getAs[Double]("loc_x"))
        val want = markerCentres(i, f)
        at.length != want.length || at.zip(want).exists { case (r, (x, y)) =>
          r.getAs[String]("marker_type") != "Ref" ||
            math.abs(r.getAs[Double]("loc_x") - x) > Tolerance ||
            math.abs(r.getAs[Double]("loc_y") - y) > Tolerance
        }
      }
      (Op(s"world clip $i", bad.headOption.map(f =>
        s"${bad.length} frames off; frame $f: markers not within $Tolerance px of ${markerCentres(i, f)}")),
        bad.length)
    }
  }

  def frames: Long = eyeClips.toLong * eyeFrames + worldClips.toLong * worldFrames

  def check(d: Detections): Pass =
    Pass(frames, Nil, (verifyPupils(d.pupils) ++ verifyMarkers(d.markers)).map(_._1))

  /** Decode alone, then each detector on the same in-memory clips. */
  def traced(t: Tracer): Pass = {
    val decoded = t.span("multimodal.decode") {
      (eyeMedia.union(worldMedia)).rdd
        .map(r => VideoDecoder.default.frames(r.getAs[Array[Byte]](1)).map(_.size).getOrElse(0).toLong)
        .sum().toLong
    }
    val pupils = t.span("multimodal.detect_pupils") { VisionOps.detectPupilsVideo(eyeMedia).collect() }
    val markers = t.span("multimodal.detect_markers") { VisionOps.detectMarkersVideo(worldMedia).collect() }
    val verdicts = verifyPupils(pupils) ++ verifyMarkers(markers)
    val ops = verdicts.map(_._1)
    val hits = frames - verdicts.map(_._2).sum
    val sec = t.traceSeconds
    Pass(frames, Nil, ops :+ Op("decode", if (decoded == frames) None
      else Some(s"$decoded frames decoded, $frames planted")), Map(
      "multimodal.decode_s" -> sec("multimodal.decode"),
      "multimodal.detect_pupils_s" -> sec("multimodal.detect_pupils"),
      "multimodal.detect_markers_s" -> sec("multimodal.detect_markers"),
      "multimodal.frames" -> decoded.toDouble,
      "multimodal.detect_hit_ratio" -> hits.toDouble / frames))
  }
}

object VideoDetect {
  val EyeW = 192
  val EyeH = 192
  val WorldW = 320
  val WorldH = 240
  val Tolerance = 0.5
}
