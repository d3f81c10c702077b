package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Pure-JVM per-frame CV kernels over DECODED images — the C1/C3/C4/C7
  * tier that was container-blocked while the decode seam was a stub. With
  * real `javax.imageio` decode in place ([[MultimodalOps.decodeImage]]),
  * these run on actual pixels end-to-end: PNG bytes → luma plane →
  * detector → typed feature rows.
  *
  * Deliberately simplified relative to the reference's OpenCV/pupil-labs
  * kernels (no sub-pixel refinement, no adaptive thresholds, no contour
  * trees): each detector keeps the reference's OUTPUT CONTRACT and overall
  * geometry while using closed-form, exactly-reproducible math —
  * moment-based ellipse fit instead of Detector2D's contour search
  * (pupil_detection_pl.py:94-133), binary-transition corner intersection
  * instead of cv2.findChessboardCorners + cornerSubPix
  * (marker_detection.py:185-258), radial dark-pixel statistics instead of
  * the contour-nesting concentric-circle search
  * (externals/circle_detector.py:205-454). Contrast inversion (C7) is the
  * reference's `255 - frame` pre-step for black-background markers
  * (marker_detection.py:339-340), applied to the luma plane before
  * thresholding.
  *
  * Scale shape: every detector is a row-local mapPartitions over the
  * media table — embarrassingly parallel, no shuffle; the frame never
  * becomes a long-lived table, only per-frame feature rows do (the S1
  * batch-scan contract).
  */
object VisionOps {

  /** Decoded grayscale plane, row-major. */
  final case class Gray(w: Int, h: Int, px: Array[Double]) {
    def apply(x: Int, y: Int): Double = px(y * w + x)
  }

  /** C7: contrast inversion, `255 - v` (marker_detection.py:339-340). */
  def invert(g: Gray): Gray = {
    val out = new Array[Double](g.px.length)
    var i = 0
    while (i < g.px.length) { out(i) = 255.0 - g.px(i); i += 1 }
    Gray(g.w, g.h, out)
  }

  /** Default binarization threshold: dark iff luma < 128. */
  val DarkThreshold = 128.0

  def grayOf(img: java.awt.image.BufferedImage): Gray =
    Gray(img.getWidth, img.getHeight, MultimodalOps.lumaPixels(img))

  // ------------------------------------------------------------- C1 pupil

  /** Moment-based ellipse fit of the dark-pixel region.
    *
    * Mirrors the pupil datum contract of `_opencv_ellipse_to_dict`
    * (marker_detection.py:14-26): center, full axes (major/minor),
    * orientation angle in degrees, diameter = max axis, confidence. The
    * fit is the classic image-moment ellipse: center = first moments,
    * axes = 4·sqrt(eigenvalues of the second-moment covariance) (the
    * full-axis lengths that make a perfect filled ellipse's covariance
    * a²/16, b²/16 round-trip), angle = major-axis orientation from
    * atan2 of the covariance terms (the reference reports the detector's
    * angle convention shifted by −90°; ours is the plain covariance
    * orientation, documented here). Confidence = fill ratio of dark
    * pixels inside the fitted-axes ellipse area, clamped to 1 — the
    * analogue of Detector2D's support ratio.
    *
    * All moment sums are over integer pixel coordinates, so they are
    * EXACT in doubles (values ≤ 2^53): the downstream double arithmetic
    * is a fixed expression tree an external SQL oracle replays
    * bit-for-bit.
    */
  final case class PupilDatum(n: Long, cx: Double, cy: Double,
                              major: Double, minor: Double,
                              angleDeg: Double, diameter: Double,
                              confidence: Double)

  def pupilEllipse(g: Gray, thresh: Double = DarkThreshold): Option[PupilDatum] = {
    var n = 0L
    var sx = 0L; var sy = 0L; var sxx = 0L; var syy = 0L; var sxy = 0L
    var y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (g(x, y) < thresh) {
          n += 1
          sx += x; sy += y
          sxx += x.toLong * x; syy += y.toLong * y; sxy += x.toLong * y
        }
        x += 1
      }
      y += 1
    }
    if (n == 0) None
    else {
      val cx = sx.toDouble / n
      val cy = sy.toDouble / n
      val mxx = sxx.toDouble / n - cx * cx
      val myy = syy.toDouble / n - cy * cy
      val mxy = sxy.toDouble / n - cx * cy
      val tr = mxx + myy
      val det = mxx * myy - mxy * mxy
      val disc = math.sqrt(math.max(tr * tr / 4.0 - det, 0.0))
      val l1 = tr / 2.0 + disc
      val l2 = tr / 2.0 - disc
      val major = 4.0 * math.sqrt(math.max(l1, 0.0))
      val minor = 4.0 * math.sqrt(math.max(l2, 0.0))
      val angle = 0.5 * math.atan2(2.0 * mxy, mxx - myy) * 180.0 / math.Pi
      val area = math.Pi * (major / 2.0) * (minor / 2.0)
      val conf = if (area > 0.0) math.min(n.toDouble / area, 1.0) else 0.0
      Some(PupilDatum(n, cx, cy, major, minor, angle, major, conf))
    }
  }

  /** CONTOUR-based pupil ellipse (r5) — the Detector2D-shaped path next
    * to the moment fit: extract the dark region's BOUNDARY pixels (a dark
    * pixel with a non-dark 4-neighbor or on the image edge — the pixel
    * set cv2's border following walks) and fit an ellipse to them by
    * Fitzgibbon-Pilu-Fisher DIRECT least squares (the algorithm behind
    * cv2.fitEllipse, which Detector2D calls on its contour candidates —
    * pupil_detection_pl.py:94-133 → Detector2D → fitEllipse). Points are
    * mean-centered before the scatter matrices for conditioning; the
    * 4ac−b² > 0 constraint picks the elliptical eigenvector.
    *
    * Returns (nBoundary, cx, cy, major, minor, angleDeg) — full axes,
    * major-axis orientation in degrees. None when the boundary has < 6
    * points or the constrained eigensystem has no elliptical solution
    * (degenerate regions). */
  final case class ContourEllipse(nBoundary: Long, cx: Double, cy: Double,
                                  major: Double, minor: Double,
                                  angleDeg: Double)

  def contourEllipse(g: Gray, thresh: Double = DarkThreshold): Option[ContourEllipse] = {
    // boundary set: dark with a non-dark 4-neighbor (or at the frame edge)
    val pts = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (g(x, y) < thresh) {
          val edge = x == 0 || x == g.w - 1 || y == 0 || y == g.h - 1
          if (edge || g(x - 1, y) >= thresh || g(x + 1, y) >= thresh ||
              g(x, y - 1) >= thresh || g(x, y + 1) >= thresh)
            pts += ((x.toDouble, y.toDouble))
        }
        x += 1
      }
      y += 1
    }
    if (pts.length < 6) return None
    val n = pts.length
    val mx = pts.iterator.map(_._1).sum / n
    val my = pts.iterator.map(_._2).sum / n
    import breeze.linalg.{inv, DenseMatrix, DenseVector, eig}
    val d1 = DenseMatrix.zeros[Double](n, 3) // x², xy, y² (centered)
    val d2 = DenseMatrix.zeros[Double](n, 3) // x, y, 1
    var i = 0
    while (i < n) {
      val px = pts(i)._1 - mx; val py = pts(i)._2 - my
      d1(i, 0) = px * px; d1(i, 1) = px * py; d1(i, 2) = py * py
      d2(i, 0) = px; d2(i, 1) = py; d2(i, 2) = 1.0
      i += 1
    }
    val s1 = d1.t * d1; val s2 = d1.t * d2; val s3 = d2.t * d2
    val t = -inv(s3) * s2.t
    val m0 = s1 + s2 * t
    // C1⁻¹ rows for constraint matrix [[0,0,2],[0,-1,0],[2,0,0]]
    val m = DenseMatrix.zeros[Double](3, 3)
    for (j <- 0 until 3) {
      m(0, j) = m0(2, j) / 2.0; m(1, j) = -m0(1, j); m(2, j) = m0(0, j) / 2.0
    }
    val e = eig(m)
    // the elliptical eigenvector: REAL eigenvalue + 4ac − b² > 0 (exactly
    // one satisfies the constraint, Fitzgibbon et al. 1999, §3)
    var best = -1
    var k = 0
    while (k < 3 && best < 0) {
      if (math.abs(e.eigenvaluesComplex(k)) < 1e-9) {
        val a0 = e.eigenvectors(0, k); val b0 = e.eigenvectors(1, k)
        val c0 = e.eigenvectors(2, k)
        if (4.0 * a0 * c0 - b0 * b0 > 0) best = k
      }
      k += 1
    }
    if (best < 0) return None
    val a1 = DenseVector(e.eigenvectors(0, best), e.eigenvectors(1, best),
      e.eigenvectors(2, best))
    val a2 = t * a1
    // conic in centered coords: a x² + b xy + c y² + d x + e y + f = 0,
    // sign-normalized so the quadratic part is positive definite
    var Array(ca, cb, cc, cd, ce, cf) =
      Array(a1(0), a1(1), a1(2), a2(0), a2(1), a2(2))
    if (ca < 0) { ca = -ca; cb = -cb; cc = -cc; cd = -cd; ce = -ce; cf = -cf }
    val den = cb * cb - 4.0 * ca * cc // < 0 for an ellipse
    val ccx = (2.0 * cc * cd - cb * ce) / den
    val ccy = (2.0 * ca * ce - cb * cd) / den
    // λ± of [[a, b/2], [b/2, c]] (both > 0 after normalization): the
    // SMALLER eigenvalue's direction is the major axis
    val tr = ca + cc
    val det = ca * cc - cb * cb / 4.0
    val disc = math.sqrt(math.max(tr * tr / 4.0 - det, 0.0))
    val lMin = tr / 2.0 - disc
    val lMax = tr / 2.0 + disc
    val fc = ca * ccx * ccx + cb * ccx * ccy + cc * ccy * ccy +
      cd * ccx + ce * ccy + cf
    if (!(fc < 0.0) || lMin <= 0.0) return None
    val major = 2.0 * math.sqrt(-fc / lMin)
    val minor = 2.0 * math.sqrt(-fc / lMax)
    // eigenvector of λmin from whichever defining row is non-degenerate
    var vx = cb / 2.0; var vy = lMin - ca
    if (math.abs(vx) + math.abs(vy) < 1e-12 * (math.abs(lMin) + 1.0)) {
      vx = lMin - cc; vy = cb / 2.0
    }
    val angle0 =
      if (math.abs(vx) + math.abs(vy) == 0.0) 0.0 // circle: any axis
      else math.atan2(vy, vx) * 180.0 / math.Pi
    // normalize to (−90, 90], the pupilEllipse convention
    val angle = {
      val a = ((angle0 % 180.0) + 180.0) % 180.0
      if (a > 90.0) a - 180.0 else a
    }
    Some(ContourEllipse(n.toLong, ccx + mx, ccy + my, major, minor, angle))
  }

  /** Contour-fit pupil detection over a media table — the Detector2D-
    * shaped sibling of [[detectPupils]]. */
  def detectPupilsContour(media: DataFrame, invertContrast: Boolean = false,
                          thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_boundary", LongType),
      StructField("center_x", DoubleType), StructField("center_y", DoubleType),
      StructField("axis_major", DoubleType), StructField("axis_minor", DoubleType),
      StructField("angle_deg", DoubleType)))
    mediaPlanes(media, invertContrast)((id, g) =>
      contourEllipse(g, thresh).iterator.map(c =>
        Row(id, c.nBoundary, c.cx, c.cy, c.major, c.minor, c.angleDeg)),
      schema)
  }

  // ------------------------------------------------------- C4 checkerboard

  /** Interior-corner detection for a full-frame axis-aligned checkerboard.
    *
    * Binary-transition form of `find_checkerboard_frame`
    * (marker_detection.py:185-258): a column x is a vertical cell
    * boundary iff the binarized image flips across x at EVERY row
    * (horizontally adjacent cells always differ), and symmetrically for
    * rows; interior corners are the boundary intersections. Corner
    * positions are exact integers (no sub-pixel step — the planted
    * boards put corners on the pixel grid); output mirrors the
    * reference: full-pixel corner coordinates plus 0-1 normalized
    * positions (corners / [hdim, vdim], marker_detection.py:246-249).
    * Detection is inversion-invariant (transitions survive `255 - v`),
    * matching cv2's tolerance of either leading cell color.
    */
  final case class Corner(x: Int, y: Int)

  /** MARGIN-TOLERANT since r5: `cv2.findChessboardCorners` finds boards
    * anywhere in the frame (marker_detection.py:218-233), so the flip rule
    * runs inside the BOARD BOUNDING BOX rather than demanding the board
    * fill the frame. The box is the dark-pixel bounding box — exact for a
    * checkerboard on a uniform light margin, because every pixel row and
    * column of the board contains dark cells (cells alternate), while the
    * margin contains none. Documented residual approximation: margins must
    * be clutter-free (a second dark object would widen the box); the
    * reference's cv2 search handles clutter via its quad filtering. The
    * board's own outer edges never qualify as boundaries (margin→cell
    * transitions only flip on alternating cell rows), so exactly the
    * interior corners emerge, as before. */
  def checkerboardCorners(g: Gray, thresh: Double = DarkThreshold): Seq[Corner] = {
    val dark = Array.tabulate(g.h, g.w)((y, x) => g(x, y) < thresh)
    var x0 = Int.MaxValue; var x1 = Int.MinValue
    var y0 = Int.MaxValue; var y1 = Int.MinValue
    var y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (dark(y)(x)) {
          if (x < x0) x0 = x; if (x > x1) x1 = x
          if (y < y0) y0 = y; if (y > y1) y1 = y
        }
        x += 1
      }
      y += 1
    }
    if (x1 < x0) return Seq.empty // no dark pixels at all
    val vb = (x0 + 1 to x1).filter { x =>
      (y0 to y1).forall(y => dark(y)(x - 1) != dark(y)(x))
    }
    val hb = (y0 + 1 to y1).filter { y =>
      (x0 to x1).forall(x => dark(y - 1)(x) != dark(y)(x))
    }
    for (y <- hb; x <- vb) yield Corner(x, y)
  }

  /** Sub-pixel edge localization — the 1-D restatement of cornerSubPix
    * (marker_detection.py:234-240): within each pixel row, the edge
    * position is the gradient-magnitude center of mass,
    * Σ |I(x+1)−I(x)| · (x+0.5) / Σ |I(x+1)−I(x)| — for an ideal
    * anti-aliased step [D, D, m, L, L] this recovers the fractional edge
    * position the mixing value m encodes. Luma is rounded to the integer
    * gray level first (`rint`) so the weights are exact integers and the
    * single division is the only rounding — replayable bit-for-bit by an
    * external oracle. Returns None for a gradient-free (uniform) row. */
  def subpixelEdgeX(g: Gray, y: Int): Option[Double] = {
    var num = 0.0
    var den = 0L
    var x = 0
    while (x < g.w - 1) {
      val w = math.abs(math.rint(g(x + 1, y)).toLong - math.rint(g(x, y)).toLong)
      if (w != 0) { num += w.toDouble * (x + 0.5); den += w }
      x += 1
    }
    if (den == 0L) None else Some(num / den)
  }

  // --------------------------------------------------------- C3 circles

  /** Radial concentric-circle marker statistics.
    *
    * Simplified `find_pupil_circle_marker`
    * (externals/circle_detector.py:205-454) keeping the output contract
    * of `_find_circles_frame` (marker_detection.py:29-47): `location` =
    * mean position of the ring pixels (the planted markers are
    * symmetric, so this is the exact ring center), `norm_pos` =
    * location / [hdim, vdim], `size` = the outermost ring's maximal
    * pixel radius (reference: max ellipse radii). `n_rings` counts
    * maximal runs in the sorted distinct floor(radius) values of dark
    * pixels — the ring-nesting count the reference gets from its
    * contour tree (min_ellipses_num gate, circle_detector.py:258-262).
    *
    * Sums are over integer coordinates (exact in doubles); distances are
    * sqrt of exact integer d², so every emitted value is replayable
    * bit-for-bit by an external oracle over the same grid.
    */
  final case class CircleMarker(n: Long, locX: Double, locY: Double,
                                size: Double, nRings: Int)

  def concentricCircles(g: Gray, thresh: Double = DarkThreshold): Option[CircleMarker] = {
    var n = 0L; var sx = 0L; var sy = 0L
    var y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (g(x, y) < thresh) { n += 1; sx += x; sy += y }
        x += 1
      }
      y += 1
    }
    if (n == 0) return None
    val cx = sx.toDouble / n
    val cy = sy.toDouble / n
    var maxD2 = 0.0
    val floors = floorSlots(g)
    y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (g(x, y) < thresh) {
          val dx = x - cx; val dy = y - cy
          val d2 = dx * dx + dy * dy
          if (d2 > maxD2) maxD2 = d2
          floors(math.floor(math.sqrt(d2)).toInt) = true
        }
        x += 1
      }
      y += 1
    }
    Some(CircleMarker(n, cx, cy, math.sqrt(maxD2), ringCount(floors)))
  }

  /** One slot per possible floor(distance) of a pixel from a centroid:
    * a centroid of pixels lies in the image's bounding box, so the image
    * diagonal bounds every distance. */
  private def floorSlots(g: Gray): Array[Boolean] =
    new Array[Boolean](math.sqrt(g.w.toDouble * g.w + g.h.toDouble * g.h).toInt + 1)

  /** Ring count: maximal runs of consecutive marked floor distances. */
  private def ringCount(floors: Array[Boolean]): Int = {
    var rings = 0
    var f = 0
    while (f < floors.length) {
      if (floors(f) && (f == 0 || !floors(f - 1))) rings += 1
      f += 1
    }
    rings
  }

  /** Ref/Stop-classified marker (r5): the reference classifies each
    * concentric marker by ring-vs-dot brightness — dark rings around a
    * light center are calibration "Ref" markers, the inverted polarity is
    * the epoch-ending "Stop" marker (find_pupil_circle_marker,
    * externals/circle_detector.py:339-452, types emitted at :401/:449).
    * `ringLuma` = mean ORIGINAL-image gray level of the marker's ring
    * pixels, `dotLuma` = original gray level at the marker center (the
    * enclosed dot/background); type = Ref iff the rings are darker than
    * the dot. Luma is rounded to the integer gray level (`rint`) before
    * the mean so the sums are exact integers (replayable by the oracle). */
  final case class TypedMarker(marker: CircleMarker, ringLuma: Double,
                               dotLuma: Double, markerType: String)

  /** 4-connected component labeling of the dark set. Returns (label map,
    * component count); non-dark pixels carry label −1. */
  private def labelDark(g: Gray, thresh: Double): (Array[Int], Int) = {
    val n = g.w * g.h
    val label = new Array[Int](n)
    java.util.Arrays.fill(label, -1)
    val stack = new Array[Int](n)
    var next = 0
    var i = 0
    while (i < n) {
      if (label(i) < 0 && g.px(i) < thresh) {
        var top = 0
        stack(0) = i; label(i) = next; top = 1
        while (top > 0) {
          top -= 1
          val p = stack(top)
          val x = p % g.w; val y = p / g.w
          var d = 0
          while (d < 4) {
            val (nx, ny) = d match {
              case 0 => (x - 1, y); case 1 => (x + 1, y)
              case 2 => (x, y - 1); case _ => (x, y + 1)
            }
            if (nx >= 0 && nx < g.w && ny >= 0 && ny < g.h) {
              val q = ny * g.w + nx
              if (label(q) < 0 && g.px(q) < thresh) {
                label(q) = next; stack(top) = q; top += 1
              }
            }
            d += 1
          }
        }
        next += 1
      }
      i += 1
    }
    (label, next)
  }

  /** MULTI-marker concentric-circle detection with the Ref/Stop
    * classification — the reference's true output shape:
    * `find_pupil_circle_marker` returns a LIST of markers per frame
    * (world_circles, marker_detection.py:33-47), each an ellipse
    * cluster. Here: binarize → 4-connected component labeling (each ring
    * is its own component) → group components into markers by their
    * rounded centroids (every ring of a concentric marker has the SAME
    * center; for symmetric rings the centroid recovers it exactly, so
    * integer rounding is a safe group key at ≥ 2 px marker separation)
    * → per marker the [[CircleMarker]] statistics plus [[TypedMarker]]'s
    * ring/dot luma and type. Emitted sorted by (locX, locY) with a
    * frame-local marker index — no shuffle needed for a deterministic
    * order. `inverted` says the plane was contrast-inverted BEFORE
    * detection (the C7 arm), so original gray = 255 − plane value for
    * the luma statistics. */
  def concentricMarkersTyped(g: Gray, inverted: Boolean,
                             thresh: Double = DarkThreshold): Seq[TypedMarker] = {
    val n = g.w * g.h
    val (label, next) = labelDark(g, thresh)
    if (next == 0) return Seq.empty
    def origLuma(i: Int): Long = {
      val v = math.rint(g.px(i)).toLong
      if (inverted) 255L - v else v
    }
    // per-component integer moment sums
    val cn = new Array[Long](next); val csx = new Array[Long](next)
    val csy = new Array[Long](next)
    var i = 0
    while (i < n) {
      val l = label(i)
      if (l >= 0) { cn(l) += 1; csx(l) += i % g.w; csy(l) += i / g.w }
      i += 1
    }
    // group components by rounded centroid = marker identity
    val groups = (0 until next).groupBy { c =>
      (math.rint(csx(c).toDouble / cn(c)), math.rint(csy(c).toDouble / cn(c)))
    }.values.toArray
    val ng = groups.length
    val groupOf = new Array[Int](next)
    val gn = new Array[Long](ng)
    val gcx = new Array[Double](ng); val gcy = new Array[Double](ng)
    var k = 0
    while (k < ng) {
      val comps = groups(k)
      comps.foreach(groupOf(_) = k)
      val mn = comps.map(cn(_)).sum
      val sx = comps.map(csx(_)).sum; val sy = comps.map(csy(_)).sum
      gn(k) = mn; gcx(k) = sx.toDouble / mn; gcy(k) = sy.toDouble / mn
      k += 1
    }
    // one pass over the labelled pixels: per marker the outer radius, the
    // ring-pixel luma sum and the floor distances its pixels occupy
    val maxD2 = new Array[Double](ng)
    val lumaSum = new Array[Long](ng)
    val floors = Array.fill(ng)(floorSlots(g))
    var p = 0
    while (p < n) {
      val l = label(p)
      if (l >= 0) {
        val m = groupOf(l)
        val dx = p % g.w - gcx(m); val dy = p / g.w - gcy(m)
        val d2 = dx * dx + dy * dy
        if (d2 > maxD2(m)) maxD2(m) = d2
        floors(m)(math.floor(math.sqrt(d2)).toInt) = true
        lumaSum(m) += origLuma(p)
      }
      p += 1
    }
    (0 until ng).map { m =>
      val mn = gn(m); val cx = gcx(m); val cy = gcy(m)
      val ringLuma = lumaSum(m).toDouble / mn
      val dcx = math.rint(cx).toInt; val dcy = math.rint(cy).toInt
      val dotLuma =
        if (dcx >= 0 && dcx < g.w && dcy >= 0 && dcy < g.h)
          origLuma(dcy * g.w + dcx).toDouble
        else ringLuma
      TypedMarker(CircleMarker(mn, cx, cy, math.sqrt(maxD2(m)), ringCount(floors(m))),
        ringLuma, dotLuma, if (ringLuma < dotLuma) "Ref" else "Stop")
    }.sortBy(m => (m.marker.locX, m.marker.locY))
  }

  // -------------------------------------------------- DataFrame entry points

  private def mediaPlanes(media: DataFrame, invertContrast: Boolean)(
      f: (Long, Gray) => Iterator[Row], outSchema: StructType): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        MultimodalOps.decodeImage(r.getAs[Array[Byte]](bIdx)) match {
          case Some(img) =>
            val g0 = grayOf(img)
            f(r.getLong(idIdx), if (invertContrast) invert(g0) else g0)
          case None => Iterator.empty
        }
      }
    }
  }

  /** C1 over a media table: one pupil datum row per decodable frame.
    * `invertContrast` mirrors the reference's black-background option. */
  def detectPupils(media: DataFrame, invertContrast: Boolean = false,
                   thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_dark", LongType),
      StructField("center_x", DoubleType), StructField("center_y", DoubleType),
      StructField("axis_major", DoubleType), StructField("axis_minor", DoubleType),
      StructField("angle_deg", DoubleType), StructField("diameter", DoubleType),
      StructField("confidence", DoubleType)))
    mediaPlanes(media, invertContrast)((id, g) =>
      pupilEllipse(g, thresh).iterator.map(p =>
        Row(id, p.n, p.cx, p.cy, p.major, p.minor, p.angleDeg, p.diameter,
          p.confidence)), schema)
  }

  /** S1 + C5 + C1 composed: the per-frame video batch scan. Raw-video
    * blobs ([[MultimodalOps.decodeRawVideo]]) fan out to per-frame luma
    * planes (raw gray: pixel value IS the luma, no colorimetric
    * rounding) and the pupil kernel runs on every frame — one output
    * row per (media, frame), the reference's find_pupils shape: frames
    * stay task-local, only detection rows survive. */
  /** Per-blob frame fan-out through the [[VideoDecoder]] seam: the
    * shipped default chain dispatches GRVD raw-gray planes (byte value
    * IS the luma) then GPNV PNG-framed video (every frame through the
    * real `javax.imageio` codec); an FFI codec (ffmpeg/JavaCV) joins by
    * implementing the one-method trait and riding the `decoder`
    * parameter of the video operators — see docs/CODEC.md. */
  private def videoFrames(bytes: Array[Byte],
                          decoder: VideoDecoder = VideoDecoder.default): Iterator[Gray] =
    decoder.frames(bytes).getOrElse(Iterator.empty)

  def detectPupilsVideo(media: DataFrame, invertContrast: Boolean = false,
                        thresh: Double = DarkThreshold,
                        decoder: VideoDecoder = VideoDecoder.default): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_index", IntegerType, nullable = false),
      StructField("n_dark", LongType),
      StructField("center_x", DoubleType), StructField("center_y", DoubleType),
      StructField("axis_major", DoubleType),
      StructField("axis_minor", DoubleType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        videoFrames(r.getAs[Array[Byte]](bIdx), decoder).zipWithIndex
          .flatMap { case (g0, f) =>
            pupilEllipse(if (invertContrast) invert(g0) else g0, thresh)
              .iterator.map(p => Row(r.getLong(idIdx), f, p.n, p.cx, p.cy,
                p.major, p.minor))
          }
      }
    }
  }

  /** C2 seam — the pylids-shaped keypoint detector (pipelines.py:105-106,
    * 736; keypoint columns labeling.py:184-188, 270-272): one row per
    * (media, frame) carrying `dlc_kpts_x` / `dlc_kpts_y` /
    * `dlc_confidence`, the exact column contract the reference's DNN
    * detector emits — so the M12 (PCA align) → M13 (eyelid distance) →
    * W5 (blink FSM) chain downstream cannot tell the producer apart.
    * The DNN itself has no public weights (genuinely blocked); this
    * kernel is the deterministic stand-in: per frame it scans every
    * pixel column and emits the topmost dark pixel (upper-lid arc) and
    * bottommost dark pixel (lower-lid arc) of each column containing
    * any dark pixel — upper arc first, then lower, both in ascending x,
    * confidence = fraction of columns with a detection. Swapping in a
    * real DNN is a kernel substitution behind the same schema. */
  def detectKeypointsVideo(media: DataFrame,
                           thresh: Double = DarkThreshold,
                           decoder: VideoDecoder = VideoDecoder.default): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_index", IntegerType, nullable = false),
      StructField("dlc_kpts_x", ArrayType(DoubleType), nullable = false),
      StructField("dlc_kpts_y", ArrayType(DoubleType), nullable = false),
      StructField("dlc_confidence", DoubleType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        videoFrames(r.getAs[Array[Byte]](bIdx), decoder).zipWithIndex.map {
          case (g, f) =>
            val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
            val tops = scala.collection.mutable.ArrayBuffer.empty[Double]
            val bots = scala.collection.mutable.ArrayBuffer.empty[Double]
            var x = 0
            while (x < g.w) {
              var top = -1; var bot = -1; var y = 0
              while (y < g.h) {
                if (g.px(y * g.w + x) < thresh) {
                  if (top < 0) top = y
                  bot = y
                }
                y += 1
              }
              if (top >= 0) { xs += x; tops += top; bots += bot }
              x += 1
            }
            Row(r.getLong(idIdx), f,
              (xs ++ xs).toArray, (tops ++ bots).toArray,
              xs.length.toDouble / g.w)
        }
      }
    }
  }

  /** The world-camera video scan: marker detection per video frame
    * (marker_detection.py:98-117 — world.mp4 → find_circles per frame),
    * 0..n typed marker rows per (media, frame), frame-local index. Same
    * container dispatch as [[detectPupilsVideo]]. */
  def detectMarkersVideo(media: DataFrame, invertContrast: Boolean = false,
                         thresh: Double = DarkThreshold,
                         decoder: VideoDecoder = VideoDecoder.default): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val bIdx = media.schema.fieldIndex("bytes")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_index", IntegerType, nullable = false),
      StructField("marker_idx", IntegerType, nullable = false),
      StructField("n_dark", LongType),
      StructField("loc_x", DoubleType), StructField("loc_y", DoubleType),
      StructField("size", DoubleType),
      StructField("n_rings", IntegerType),
      StructField("marker_type", StringType)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.flatMap { r =>
        videoFrames(r.getAs[Array[Byte]](bIdx), decoder).zipWithIndex
          .flatMap { case (g0, f) =>
            val g = if (invertContrast) invert(g0) else g0
            concentricMarkersTyped(g, invertContrast, thresh).iterator
              .zipWithIndex.map { case (t, idx) =>
                val m = t.marker
                Row(r.getLong(idIdx), f, idx, m.n, m.locX, m.locY,
                  m.size, m.nRings, t.markerType)
              }
          }
      }
    }
  }

  /** C4 over a media table: one row per detected interior corner, with
    * full-pixel and 0-1 normalized positions. */
  def findCheckerboard(media: DataFrame, invertContrast: Boolean = false,
                       thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("corner_x", DoubleType), StructField("corner_y", DoubleType),
      StructField("norm_x", DoubleType), StructField("norm_y", DoubleType)))
    mediaPlanes(media, invertContrast)((id, g) =>
      checkerboardCorners(g, thresh).iterator.map(c =>
        Row(id, c.x.toDouble, c.y.toDouble,
          c.x.toDouble / g.w, c.y.toDouble / g.h)), schema)
  }

  /** C3 MULTI-marker form over a media table: 0..n marker rows per
    * decodable frame (the world_circles generator shape), frame-local
    * `marker_idx` ordered by position, each marker Ref/Stop-classified
    * from its ring/dot luma statistics (circle_detector.py:339-452). */
  def findMarkers(media: DataFrame, invertContrast: Boolean = false,
                  thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("marker_idx", IntegerType, nullable = false),
      StructField("n_dark", LongType),
      StructField("loc_x", DoubleType), StructField("loc_y", DoubleType),
      StructField("norm_x", DoubleType), StructField("norm_y", DoubleType),
      StructField("size", DoubleType),
      StructField("n_rings", IntegerType),
      StructField("ring_luma", DoubleType), StructField("dot_luma", DoubleType),
      StructField("marker_type", StringType)))
    mediaPlanes(media, invertContrast)((id, g) =>
      concentricMarkersTyped(g, invertContrast, thresh).iterator.zipWithIndex
        .map { case (t, idx) =>
          val m = t.marker
          Row(id, idx, m.n, m.locX, m.locY, m.locX / g.w, m.locY / g.h,
            m.size, m.nRings, t.ringLuma, t.dotLuma, t.markerType)
        }, schema)
  }

  /** Sub-pixel edge localization over a media table (the cornerSubPix
    * tier on real decoded pixels): one row per decodable frame with the
    * gradient-CoM edge position of the frame's middle row. */
  def findEdgeSubpixel(media: DataFrame, thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("edge_x", DoubleType)))
    mediaPlanes(media, invertContrast = false)((id, g) =>
      subpixelEdgeX(g, g.h / 2).iterator.map(e => Row(id, e)), schema)
  }

  /** C3 over a media table: one marker-statistics row per decodable
    * frame; `invertContrast` = the C7 pre-step. */
  def findCircles(media: DataFrame, invertContrast: Boolean = false,
                  thresh: Double = DarkThreshold): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_dark", LongType),
      StructField("loc_x", DoubleType), StructField("loc_y", DoubleType),
      StructField("norm_x", DoubleType), StructField("norm_y", DoubleType),
      StructField("size", DoubleType),
      StructField("n_rings", IntegerType)))
    mediaPlanes(media, invertContrast)((id, g) =>
      concentricCircles(g, thresh).iterator.map(m =>
        Row(id, m.n, m.locX, m.locY, m.locX / g.w, m.locY / g.h,
          m.size, m.nRings)), schema)
  }
}
