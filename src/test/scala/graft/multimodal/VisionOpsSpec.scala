package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VisionOpsSpec extends SparkSpec {
  import spark.implicits._

  def grayFrom(bytes: Array[Byte]): VisionOps.Gray =
    VisionOps.grayOf(MultimodalOps.decodeImage(bytes).get)

  // ----------------------------------------------------------- C1 pupil

  test("pupil ellipse recovers a planted axis-aligned ellipse exactly") {
    val (cx, cy, a, b) = VisionFixtures.pupilParams(7L)
    val p = VisionOps.pupilEllipse(grayFrom(VisionFixtures.renderPupil(7L))).get
    // symmetric planted set → integer-exact center, zero cross-moment
    assert(p.cx == cx.toDouble && p.cy == cy.toDouble)
    assert(math.abs(p.angleDeg) < 1e-9)
    // moment axes of a discretized filled ellipse land within a pixel
    assert(math.abs(p.major - 2.0 * a) < 1.5, s"major ${p.major} vs ${2 * a}")
    assert(math.abs(p.minor - 2.0 * b) < 1.5, s"minor ${p.minor} vs ${2 * b}")
    assert(p.diameter == p.major)
    assert(p.confidence > 0.9 && p.confidence <= 1.0)
  }

  test("pupil ellipse recovers orientation of a rotated ellipse") {
    val th = math.toRadians(30.0)
    val (cx, cy, a, b) = (32.0, 32.0, 14.0, 6.0)
    val bytes = VisionFixtures.pngBytes(64, 64, invert = false) { (x, y) =>
      val dx = x - cx; val dy = y - cy
      val u = (dx * math.cos(th) + dy * math.sin(th)) / a
      val v = (-dx * math.sin(th) + dy * math.cos(th)) / b
      u * u + v * v <= 1.0
    }
    val p = VisionOps.pupilEllipse(grayFrom(bytes)).get
    assert(math.abs(p.cx - cx) < 0.5 && math.abs(p.cy - cy) < 0.5)
    assert(math.abs(p.angleDeg - 30.0) < 2.0, s"angle ${p.angleDeg}")
    assert(math.abs(p.major - 2 * a) < 1.5 && math.abs(p.minor - 2 * b) < 1.5)
  }

  test("contour ellipse: EVERY distinct planted pupil config recovers " +
      "center/axes within rasterization tolerance") {
    // id params cycle with lcm(13, 13, 5, 3) = 195 — sweeping 0..194
    // covers every configuration any scale factor can produce, which is
    // what makes the cv_pupil_contour oracle's planted_ok=true analytic
    for (id <- 0L until 195L) {
      val (cx, cy, a, b) = VisionFixtures.pupilParams(id)
      val c = VisionOps.contourEllipse(
        grayFrom(VisionFixtures.renderPupil(id))).get
      assert(math.abs(c.cx - cx) < 0.7 && math.abs(c.cy - cy) < 0.7,
        s"id $id center (${c.cx}, ${c.cy}) != ($cx, $cy)")
      assert(math.abs(c.major - 2 * a) < 2.0,
        s"id $id major ${c.major} != ${2 * a}")
      assert(math.abs(c.minor - 2 * b) < 2.0,
        s"id $id minor ${c.minor} != ${2 * b}")
      // axis-aligned with a > b: major axis along x
      assert(math.abs(c.angleDeg) < 10.0 || math.abs(c.angleDeg) > 170.0,
        s"id $id angle ${c.angleDeg}")
    }
  }

  test("contour ellipse recovers a rotated ellipse's orientation") {
    val (cx, cy, a, b) = (31.0, 30.0, 14.0, 7.0)
    val th = math.toRadians(30.0)
    val bytes = VisionFixtures.pngBytes(64, 64, invert = false) { (x, y) =>
      val dx = x - cx; val dy = y - cy
      val u = (dx * math.cos(th) + dy * math.sin(th)) / a
      val v = (-dx * math.sin(th) + dy * math.cos(th)) / b
      u * u + v * v <= 1.0
    }
    val c = VisionOps.contourEllipse(grayFrom(bytes)).get
    assert(math.abs(c.cx - cx) < 0.7 && math.abs(c.cy - cy) < 0.7)
    assert(math.abs(c.angleDeg - 30.0) < 3.0, s"angle ${c.angleDeg}")
    assert(math.abs(c.major - 2 * a) < 2.0 && math.abs(c.minor - 2 * b) < 2.0)
  }

  // ----------------------------------------------------- C4 checkerboard

  test("checkerboard corners are the exact planted grid, either phase, " +
      "with or without margins") {
    for (id <- Seq(0L, 1L, 2L, 3L, 4L)) {
      val (s, mx0, my0) = VisionFixtures.checkerboardParams(id)
      val corners = VisionOps.checkerboardCorners(
        grayFrom(VisionFixtures.renderCheckerboard(id)))
      val expect = (for (j <- 1 to 3; i <- 1 to 6)
        yield VisionOps.Corner(mx0 + i * s, my0 + j * s)).toSet
      assert(corners.toSet == expect,
        s"id $id (margins $mx0,$my0): ${corners.size} corners")
      // marker position = mean of corners = board center (reference
      // contract: location = np.mean(corners, axis=0))
      val cmx = corners.map(_.x).sum.toDouble / corners.size
      val cmy = corners.map(_.y).sum.toDouble / corners.size
      assert(cmx == mx0 + 3.5 * s && cmy == my0 + 2.0 * s)
    }
  }

  test("checkerboard detection is contrast-inversion invariant (C7) on " +
      "margin-free boards") {
    // like cv2.findChessboardCorners' white-border requirement, boards
    // WITH margins need the correct polarity (the C7 pre-step restores
    // it); zero-margin boards are invariant under plain inversion
    val (_, mx, my) = VisionFixtures.checkerboardParams(0L)
    assert(mx == 0 && my == 0)
    val g = grayFrom(VisionFixtures.renderCheckerboard(0L))
    assert(VisionOps.checkerboardCorners(g).nonEmpty &&
      VisionOps.checkerboardCorners(g) ==
        VisionOps.checkerboardCorners(VisionOps.invert(g)))
  }

  // --------------------------------------------------------- C3 circles

  test("concentric circles: center, ring count, outer size on planted rings") {
    for (id <- Seq(0L, 2L, 4L)) { // even = normal contrast
      val (cx, cy, nr, rb) = VisionFixtures.circleParams(id)
      val m = VisionOps.concentricCircles(
        grayFrom(VisionFixtures.renderCircles(id))).get
      assert(m.locX == cx.toDouble && m.locY == cy.toDouble)
      assert(m.nRings == nr, s"id $id rings ${m.nRings} != $nr")
      val rmax = 6 * nr + rb
      assert(m.size <= rmax + 1 + 1e-9 && m.size >= rmax - 1)
    }
  }

  test("C7 inversion arm: inverted render + invert flag == normal render") {
    // ids 1 and 3 are rendered light-on-dark; the invert pre-step must
    // recover the identical marker statistics a normal render gives
    for (id <- Seq(1L, 3L)) {
      val inv = VisionOps.concentricCircles(
        VisionOps.invert(grayFrom(VisionFixtures.renderCircles(id)))).get
      val (cx, cy, nr, rb) = VisionFixtures.circleParams(id)
      val normal = VisionOps.concentricCircles(grayFrom(
        VisionFixtures.pngBytes(64, 64, invert = false) { (x, y) =>
          val d2 = (x - cx).toLong * (x - cx) + (y - cy).toLong * (y - cy)
          (1 to nr).exists { k =>
            val r = 6 * k + rb
            (r - 1).toLong * (r - 1) <= d2 && d2 <= (r + 1).toLong * (r + 1)
          }
        })).get
      assert(inv == normal)
    }
  }

  test("multi-marker frames: one row per planted marker, exact centers, " +
      "Ref/Stop classified") {
    for (id <- Seq(2L, 3L, 7L, 10L)) { // even = 1 marker Ref; odd = 2, Stop
      val inverted = id % 2 == 1 // odd frames render light-on-dark (C7 arm)
      val g0 = grayFrom(VisionFixtures.renderMultiMarkers(id))
      val markers = VisionOps.concentricMarkersTyped(
        if (inverted) VisionOps.invert(g0) else g0, inverted)
      val planted = VisionFixtures.multiMarkerParams(id)
      assert(markers.size == planted.size,
        s"id $id: ${markers.size} markers != ${planted.size}")
      val expect = planted.map { case (cx, cy, _, _) =>
        (cx.toDouble, cy.toDouble)
      }.sorted
      assert(markers.map(m => (m.marker.locX, m.marker.locY)) == expect)
      // every marker reports its own ring count (2 planted per marker)
      assert(markers.forall(_.marker.nRings == 2))
      // ring/dot luma classification (circle_detector.py:339-452): dark
      // rings on light → Ref; the inverted arm's original image has light
      // rings on dark → Stop
      val wantType = if (inverted) "Stop" else "Ref"
      assert(markers.forall(_.markerType == wantType),
        s"id $id types ${markers.map(_.markerType)}")
      assert(markers.forall(m =>
        m.ringLuma == (if (inverted) 224.0 else 32.0) &&
          m.dotLuma == (if (inverted) 32.0 else 224.0)))
    }
  }

  test("multi-marker detection degrades to single-marker on circles fixtures") {
    // a one-marker scene through the multi path == the single-marker path
    val g = grayFrom(VisionFixtures.renderCircles(2L))
    val multi = VisionOps.concentricMarkersTyped(g, inverted = false)
      .map(_.marker)
    val single = VisionOps.concentricCircles(g).get
    assert(multi.size == 1 && multi.head == single)
  }

  test("property: random rotated ellipses recover center/axes/angle (seeded sweep)") {
    val rng = new scala.util.Random(97)
    for (_ <- 1 to 25) {
      val cx = 24 + rng.nextInt(17).toDouble
      val cy = 24 + rng.nextInt(17).toDouble
      val a = 10.0 + rng.nextInt(8)
      val b = 4.0 + rng.nextInt(4) // a - b >= 2: orientation well-defined
      val th = math.toRadians(rng.nextInt(180).toDouble)
      val bytes = VisionFixtures.pngBytes(64, 64, invert = false) { (x, y) =>
        val dx = x - cx; val dy = y - cy
        val u = (dx * math.cos(th) + dy * math.sin(th)) / a
        val v = (-dx * math.sin(th) + dy * math.cos(th)) / b
        u * u + v * v <= 1.0
      }
      val p = VisionOps.pupilEllipse(grayFrom(bytes)).get
      assert(math.abs(p.cx - cx) < 0.6 && math.abs(p.cy - cy) < 0.6,
        s"center ($cx,$cy) a=$a b=$b th=$th -> (${p.cx},${p.cy})")
      assert(math.abs(p.major - 2 * a) < 2.0 && math.abs(p.minor - 2 * b) < 2.0,
        s"axes ($a,$b) th=$th -> (${p.major},${p.minor})")
      // angle mod 180 within 6 deg (discretization-limited at small b)
      val planted = math.toDegrees(th)
      val diff0 = math.abs(p.angleDeg - planted) % 180.0
      val diff = math.min(diff0, 180.0 - diff0)
      assert(diff < 6.0, s"angle $planted -> ${p.angleDeg} (a=$a b=$b)")
      assert(p.confidence > 0.85 && p.confidence <= 1.0)
    }
  }

  // ------------------------------------------- DataFrame plumbing

  test("detectPupils over a planted media table: exact centers, one row per id") {
    val ids = Seq(0L, 5L, 11L).toDF("doc_id")
    val media = VisionFixtures.plantMedia(ids, "doc_id", "pupil")
    val rows = VisionOps.detectPupils(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Double]("center_x"), r.getAs[Double]("center_y"))).toMap
    assert(rows.keySet == Set(0L, 5L, 11L))
    for (id <- rows.keys) {
      val (cx, cy, _, _) = VisionFixtures.pupilParams(id)
      assert(rows(id) == (cx.toDouble, cy.toDouble))
    }
  }

  test("raw video: per-frame pupil rows track the planted drift exactly") {
    val ids = Seq(0L, 4L, 7L).toDF("doc_id")
    val media = VisionFixtures.plantMedia(ids, "doc_id", "video")
    val rows = VisionOps.detectPupilsVideo(media).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame_index")) ->
        (r.getAs[Double]("center_x"), r.getAs[Double]("center_y"))).toMap
    for (id <- Seq(0L, 4L, 7L)) {
      val (nf, cx0, cy0, _, _) = VisionFixtures.videoParams(id)
      assert(rows.keys.count(_._1 == id) == nf)
      for (f <- 0 until nf)
        assert(rows((id, f)) == ((cx0 + f).toDouble, (cy0 + f).toDouble))
    }
  }

  test("video frame luminance is the closed-form two-tone mean per frame") {
    val ids = Seq(1L, 5L).toDF("doc_id")
    val media = VisionFixtures.plantMedia(ids, "doc_id", "video")
    val lum = MultimodalOps.videoFrameLuminance(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (id <- Seq(1L, 5L)) {
      val (nf, cx0, cy0, a, b) = VisionFixtures.videoParams(id)
      for (f <- 0 until nf) {
        val cx = cx0 + f; val cy = cy0 + f
        val nDark = (for (y <- 0 until 48; x <- 0 until 48) yield {
          val tx = (x - cx).toDouble / a; val ty = (y - cy).toDouble / b
          tx * tx + ty * ty <= 1.0
        }).count(identity)
        val expect = (nDark.toLong * VisionFixtures.Dark +
          (2304L - nDark) * VisionFixtures.Light).toDouble / 2304
        assert(lum((id, f)) == expect, s"id $id frame $f")
      }
    }
  }

  test("raw video container round-trips planes; malformed blobs rejected") {
    val planes = Seq(Array.tabulate(6)(i => i.toByte),
      Array.tabulate(6)(i => (100 + i).toByte))
    val enc = MultimodalOps.encodeRawVideo(3, 2, planes)
    val dec = MultimodalOps.decodeRawVideo(enc).get
    assert(dec.w == 3 && dec.h == 2 && dec.frames.length == 2)
    assert(dec.frames(1).sameElements(planes(1)))
    assert(MultimodalOps.decodeRawVideo(enc.dropRight(1)).isEmpty)
    assert(MultimodalOps.decodeRawVideo("JUNK".getBytes ++
      new Array[Byte](20)).isEmpty)
    assert(MultimodalOps.decodeRawVideo(null).isEmpty)
  }

  test("PNG-framed video container decodes to the same planes as raw-gray") {
    for (id <- Seq(0L, 3L, 5L)) {
      val raw = MultimodalOps.decodeRawVideo(VisionFixtures.renderVideo(id)).get
      val png = MultimodalOps.decodePngVideo(VisionFixtures.renderVideoPng(id)).get
      assert(png.length == raw.frames.length)
      png.zip(raw.frames).foreach { case (img, plane) =>
        val luma = VisionOps.grayOf(img)
        assert(luma.w == raw.w && luma.h == raw.h)
        // identical two-tone geometry: binarized planes must agree exactly
        (0 until raw.w * raw.h).foreach { i =>
          assert((luma.px(i) < 128.0) == ((plane(i) & 0xff) < 128))
        }
      }
    }
    assert(MultimodalOps.decodePngVideo("JUNK".getBytes ++
      new Array[Byte](20)).isEmpty)
    assert(MultimodalOps.decodePngVideo(null).isEmpty)
  }

  test("sub-pixel edge: gradient CoM recovers the planted AA boundary") {
    for (id <- Seq(0L, 1L, 2L, 3L)) {
      val (xb, m) = VisionFixtures.edgeParams(id)
      val g = grayFrom(VisionFixtures.renderEdge(id))
      val e = VisionOps.subpixelEdgeX(g, 24).get
      val want = ((m - 32).toDouble * (xb - 1 + 0.5) +
        (224 - m).toDouble * (xb + 0.5)) / 192.0
      assert(math.abs(e - want) < 1e-12, s"id $id: $e != $want")
      // the refinement is genuinely sub-pixel: between the two integer
      // boundary candidates, biased toward the heavier gradient
      assert(e > xb - 0.5 && e < xb + 0.5)
    }
  }

  test("undecodable media yield no rows from any detector") {
    val junk = Seq((1L, Array[Byte](9, 9, 9), ("image/png", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    assert(VisionOps.detectPupils(junk).count() == 0)
    assert(VisionOps.findCheckerboard(junk).count() == 0)
    assert(VisionOps.findCircles(junk).count() == 0)
    assert(VisionOps.detectKeypointsVideo(junk).count() == 0)
  }

  test("keypoint detector (C2 stand-in) recovers the planted lid arcs") {
    for (id <- Seq(0L, 5L, 7L)) {
      val (cx, cy, a) = VisionFixtures.blinkParams(id)
      val media = Seq((id, VisionFixtures.renderVideoBlink(id)))
        .toDF("media_id", "bytes")
        .withColumn("meta", struct(lit("video/x-graft-png").as("format"),
          lit(48).as("width"), lit(48).as("height"),
          lit(VisionFixtures.blinkPattern.length).as("n_frames")))
      val rows = VisionOps.detectKeypointsVideo(media)
        .orderBy("frame_index").collect()
      assert(rows.length == VisionFixtures.blinkPattern.length)
      rows.zip(VisionFixtures.blinkPattern).foreach { case (r, b) =>
        val xs = r.getAs[scala.collection.Seq[Double]]("dlc_kpts_x")
        val ys = r.getAs[scala.collection.Seq[Double]]("dlc_kpts_y")
        val n = 2 * a + 1 // dark columns span cx-a .. cx+a every frame
        assert(xs.length == 2 * n && ys.length == 2 * n)
        assert(r.getAs[Double]("dlc_confidence") == n.toDouble / 48)
        // upper arc then lower arc, both ascending x; at the center
        // column the arcs sit exactly b above/below cy
        assert(xs.take(n) == xs.drop(n) &&
          xs.take(n).toSeq == (cx - a to cx + a).map(_.toDouble))
        val ci = xs.take(n).indexOf(cx.toDouble)
        assert(ys(ci) == (cy - b).toDouble &&
          ys(n + ci) == (cy + b).toDouble)
        // lid gap at the center column is the frame's planted 2b maximum
        val gaps = (0 until n).map(i => ys(n + i) - ys(i))
        assert(gaps.max == 2.0 * b && gaps(ci) == 2.0 * b)
      }
    }
  }
}
