package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import VisionOps.{CircleMarker, Gray, TypedMarker}

/** The ring count of [[VisionOps.concentricCircles]] and
  * [[VisionOps.concentricMarkersTyped]] works over a boolean array of
  * floor distances and a label → marker array. Their outputs must equal
  * those of the sorted-set / per-marker-scan bodies they replaced, kept
  * here verbatim as the reference, on planted single- and multi-marker
  * frames (normal and C7-inverted) and on seeded noise frames with many
  * components. */
class MarkerRingSpec extends AnyFunSuite {

  // ------------------------------------------------ reference bodies

  private def concentricCircles(g: Gray, thresh: Double = VisionOps.DarkThreshold): Option[CircleMarker] = {
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
    val floors = scala.collection.mutable.SortedSet.empty[Long]
    y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        if (g(x, y) < thresh) {
          val dx = x - cx; val dy = y - cy
          val d2 = dx * dx + dy * dy
          if (d2 > maxD2) maxD2 = d2
          floors += math.floor(math.sqrt(d2)).toLong
        }
        x += 1
      }
      y += 1
    }
    var rings = 0
    var prev = Long.MinValue
    floors.foreach { f =>
      if (prev == Long.MinValue || f - prev > 1) rings += 1
      prev = f
    }
    Some(CircleMarker(n, cx, cy, math.sqrt(maxD2), rings))
  }

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

  private def concentricMarkersTyped(g: Gray, inverted: Boolean,
                                     thresh: Double = VisionOps.DarkThreshold): Seq[TypedMarker] = {
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
    }
    groups.toSeq.map { case (_, comps) =>
      val mn = comps.map(cn(_)).sum
      val sx = comps.map(csx(_)).sum; val sy = comps.map(csy(_)).sum
      val cx = sx.toDouble / mn; val cy = sy.toDouble / mn
      var maxD2 = 0.0
      var lumaSum = 0L
      val floors = scala.collection.mutable.SortedSet.empty[Long]
      val member = comps.toSet
      var p = 0
      while (p < n) {
        if (label(p) >= 0 && member(label(p))) {
          val dx = p % g.w - cx; val dy = p / g.w - cy
          val d2 = dx * dx + dy * dy
          if (d2 > maxD2) maxD2 = d2
          floors += math.floor(math.sqrt(d2)).toLong
          lumaSum += origLuma(p)
        }
        p += 1
      }
      var rings = 0; var prev = Long.MinValue
      floors.foreach { f =>
        if (prev == Long.MinValue || f - prev > 1) rings += 1
        prev = f
      }
      val ringLuma = lumaSum.toDouble / mn
      val dcx = math.rint(cx).toInt; val dcy = math.rint(cy).toInt
      val dotLuma =
        if (dcx >= 0 && dcx < g.w && dcy >= 0 && dcy < g.h)
          origLuma(dcy * g.w + dcx).toDouble
        else ringLuma
      TypedMarker(CircleMarker(mn, cx, cy, math.sqrt(maxD2), rings),
        ringLuma, dotLuma, if (ringLuma < dotLuma) "Ref" else "Stop")
    }.sortBy(m => (m.marker.locX, m.marker.locY))
  }

  // ------------------------------------------------ comparison

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def circleKey(m: CircleMarker) =
    (m.n, bits(m.locX), bits(m.locY), bits(m.size), m.nRings)

  private def typedKey(t: TypedMarker) =
    (circleKey(t.marker), bits(t.ringLuma), bits(t.dotLuma), t.markerType)

  private def grayFrom(bytes: Array[Byte]): Gray =
    VisionOps.grayOf(MultimodalOps.decodeImage(bytes).get)

  /** The plane detection runs on: C7 frames are inverted first. */
  private def plane(bytes: Array[Byte], inverted: Boolean): Gray = {
    val g = grayFrom(bytes)
    if (inverted) VisionOps.invert(g) else g
  }

  private def assertSame(g: Gray, inverted: Boolean, what: String): Unit = {
    assert(VisionOps.concentricCircles(g).map(circleKey) ==
      concentricCircles(g).map(circleKey), what)
    val got = VisionOps.concentricMarkersTyped(g, inverted)
    val want = concentricMarkersTyped(g, inverted)
    assert(got.map(typedKey) == want.map(typedKey), what)
  }

  /** Two-tone frame of seeded dark discs, rings and specks: many small
    * components, some sharing a rounded centroid. */
  private def noiseFrame(w: Int, h: Int, seed: Long): Gray = {
    val rnd = new scala.util.Random(seed)
    val shapes = Seq.fill(4 + rnd.nextInt(12)) {
      (rnd.nextInt(w), rnd.nextInt(h), rnd.nextInt(9), 1 + rnd.nextInt(3))
    }
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val inShape = shapes.exists { case (cx, cy, r, t) =>
        val d = math.sqrt(((x - cx) * (x - cx) + (y - cy) * (y - cy)).toDouble)
        d >= r && d < r + t
      }
      if (inShape || rnd.nextInt(40) == 0) 32.0 + rnd.nextInt(90) else 224.0
    }
    Gray(w, h, px)
  }

  test("planted single-marker frames, normal and C7-inverted") {
    for (id <- 0L until 10L) {
      val inverted = id % 2 == 1
      assertSame(plane(VisionFixtures.renderCircles(id), inverted), inverted, s"circles $id")
      // the inverted render detected without the C7 step: light rings
      assertSame(grayFrom(VisionFixtures.renderCircles(id)), inverted = false, s"circles raw $id")
    }
  }

  test("planted multi-marker frames, normal and C7-inverted") {
    for (id <- 0L until 12L) {
      val inverted = id % 2 == 1
      val g = plane(VisionFixtures.renderMultiMarkers(id), inverted)
      assert(VisionOps.concentricMarkersTyped(g, inverted).size ==
        VisionFixtures.multiMarkerParams(id).size, s"multi $id")
      assertSame(g, inverted, s"multi $id")
    }
    // drifting two-marker video frames
    for (id <- 0L until 4L; img <- MultimodalOps.decodePngVideo(VisionFixtures.renderVideoMarkers(id)).get)
      assertSame(VisionOps.grayOf(img), inverted = false, s"video markers $id")
  }

  test("seeded noise frames: many components, shared centroids, empty frame") {
    for (seed <- 0L until 24L; inverted <- Seq(false, true)) {
      val g = noiseFrame(48 + (seed % 5).toInt * 7, 40 + (seed % 3).toInt * 9, seed)
      assertSame(g, inverted, s"noise $seed inverted=$inverted")
    }
    val blank = Gray(9, 7, Array.fill(63)(224.0))
    assertSame(blank, inverted = false, "blank")
    val full = Gray(9, 7, Array.fill(63)(0.0))
    assertSame(full, inverted = true, "all dark")
  }
}
