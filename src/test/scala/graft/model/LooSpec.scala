package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** The closed-form leave-one-out ([[Tps.looResiduals]]) against the refit
  * loops it replaced, which are kept here verbatim as the reference: the
  * per-point errors agree to 1e-9 relative, and the chosen λ and the
  * outlier cut are the same — on planted noisy sets, on a near-tie
  * between two λ values, and on sets where the cut fires. */
class LooSpec extends AnyFunSuite {

  // ---- reference: the refit loops --------------------------------------

  /** Former `Tps.looSelect` body: residual of each point refitted without it. */
  def naiveResiduals(xy: Array[Array[Double]], v: Array[Double],
                     l: Double): Array[Double] = {
    val n = xy.length
    Array.tabulate(n) { j =>
      val keepIdx = (0 until n).filter(_ != j).toArray
      val xyK = keepIdx.map(xy)
      val theta = Tps.fit(xyK, keepIdx.map(v), l)
      Tps.z(xy(j)(0), xy(j)(1), xyK, theta) - v(j)
    }
  }

  def naiveLooSelect(xy: Array[Array[Double]], v: Array[Double],
                     lambdas: Array[Double],
                     metric: Array[Double] => Double): (Int, Array[Double]) = {
    val errs = lambdas.map(l => metric(naiveResiduals(xy, v, l)))
    var best = 0
    var i = 1
    while (i < errs.length) { if (errs(i) < errs(best)) best = i; i += 1 }
    (best, errs)
  }

  /** Former `Calibrator.fitTpsCv` per-point errors: both axes refitted
    * with `fit2` per leave-out. */
  def naiveCvErrors(pxy: Array[Array[Double]], mx: Array[Double],
                    my: Array[Double], lambdas: Array[Double]): Array[Array[Double]] = {
    val n = pxy.length
    lambdas.map { l =>
      Array.tabulate(n) { j =>
        val keep = (0 until n).filter(_ != j).toArray
        val xyK = keep.map(pxy)
        val (tx, ty) = Tps.fit2(xyK, keep.map(mx), keep.map(my), l)
        val ex = Tps.z(pxy(j)(0), pxy(j)(1), xyK, tx) - mx(j)
        val ey = Tps.z(pxy(j)(0), pxy(j)(1), xyK, ty) - my(j)
        math.sqrt(ex * ex + ey * ey)
      }
    }
  }

  /** Former `Calibrator.fitTpsCv`: cut, re-run, argmin, final fit. */
  def naiveFitTpsCv(pxy: Array[Array[Double]], mx: Array[Double], my: Array[Double],
                    lambdas: Array[Double], maxStds: Option[Double]): TpsMapModel = {
    val n = pxy.length
    val errors = naiveCvErrors(pxy, mx, my, lambdas)
    def finalFit(): TpsMapModel = {
      val mean = errors.map(e => e.sum / e.length)
      var best = 0
      var i = 1
      while (i < lambdas.length) { if (mean(i) < mean(best)) best = i; i += 1 }
      val (tx, ty) = Tps.fit2(pxy, mx, my, lambdas(best))
      TpsMapModel(pxy, tx, pxy, ty)
    }
    maxStds match {
      case Some(k) =>
        val perPt = Array.tabulate(n)(j => errors.map(_(j)).sum / lambdas.length)
        val cut = Stats.median(perPt) + k * Stats.stdPop(perPt)
        val keep = perPt.zipWithIndex.collect { case (e, i) if e <= cut => i }
        if (keep.length < n)
          naiveFitTpsCv(keep.map(pxy), keep.map(mx), keep.map(my), lambdas, None)
        else finalFit()
      case None => finalFit()
    }
  }

  // ---- planted sets ----------------------------------------------------

  /** n pupil points on a jittered grid in [0, 1]², markers a smooth warp
    * of them plus noise; the `outliers` indices are moved by 0.3. */
  def planted(n: Int, seed: Int, noise: Double = 2e-3,
              outliers: Set[Int] = Set.empty)
      : (Array[Array[Double]], Array[Double], Array[Double]) = {
    val rng = new scala.util.Random(seed)
    val side = math.ceil(math.sqrt(n.toDouble)).toInt
    val pxy = Array.tabulate(n) { i =>
      Array((i % side + 0.2 + 0.6 * rng.nextDouble()) / side,
        (i / side + 0.2 + 0.6 * rng.nextDouble()) / side)
    }
    def off(i: Int) = if (outliers(i)) 0.3 else 0.0
    val mx = pxy.zipWithIndex.map { case (p, i) =>
      0.8 * p(0) - 0.3 * p(1) + 0.15 + 0.05 * math.sin(3 * p(0)) * p(1) +
        noise * rng.nextGaussian() + off(i) }
    val my = pxy.zipWithIndex.map { case (p, i) =>
      0.2 * p(0) + 1.1 * p(1) - 0.05 + 0.04 * p(0) * p(0) +
        noise * rng.nextGaussian() - off(i) }
    (pxy, mx, my)
  }

  val lambdas: Array[Double] = Calibrator.DefaultLambdas
  val rms: Array[Double] => Double = r => math.sqrt(r.map(e => e * e).sum / r.length)

  def assertRel(got: Array[Double], want: Array[Double], what: String): Unit = {
    assert(got.length == want.length, what)
    got.indices.foreach { i =>
      val rel = math.abs(got(i) - want(i)) / math.max(math.abs(want(i)), 1e-300)
      assert(rel <= 1e-9, s"$what point $i: ${got(i)} vs ${want(i)} (rel $rel)")
    }
  }

  def assertSameModel(got: TpsMapModel, want: TpsMapModel): Unit = {
    assert(got.anchorsX.map(_.toSeq).toSeq == want.anchorsX.map(_.toSeq).toSeq,
      "different kept anchors")
    // the same λ gives the same final fit2 call, bit for bit
    assert(got.thetaX.toSeq == want.thetaX.toSeq && got.thetaY.toSeq == want.thetaY.toSeq,
      "different final fit (different λ)")
  }

  /** Mean 2-D leave-one-out error at λ — the `fitTpsCv` selection metric. */
  def cvMean(pxy: Array[Array[Double]], mx: Array[Double], my: Array[Double],
             l: Double): Double = {
    val e = naiveCvErrors(pxy, mx, my, Array(l)).head
    e.sum / e.length
  }

  /** A λ right of the error curve's minimum whose mean error is
    * (1 + rel)·target, by bisection over log λ on the reference. */
  def matchRight(f: Double => Double, lo: Double, hi: Double, target: Double): Double = {
    assert(f(lo) < target && f(hi) > target, s"no bracket: ${f(lo)} ${f(hi)} $target")
    var a = math.log(lo); var b = math.log(hi)
    for (_ <- 0 until 200) {
      val m = 0.5 * (a + b)
      if (f(math.exp(m)) < target) a = m else b = m
    }
    math.exp(b)
  }

  // ---- specs -----------------------------------------------------------

  test("per-point residuals equal the refit loop's on both axes over the λ grid") {
    for ((n, seed) <- Seq((16, 1), (25, 2), (40, 3))) {
      val (pxy, mx, my) = planted(n, seed)
      val want = naiveCvErrors(pxy, mx, my, lambdas)
      lambdas.indices.foreach { i =>
        val l = lambdas(i)
        val r = Tps.looResiduals(pxy, Seq(mx, my), l)
        assertRel(r(0), naiveResiduals(pxy, mx, l), s"n=$n λ=$l x")
        assertRel(r(1), naiveResiduals(pxy, my, l), s"n=$n λ=$l y")
        assertRel(Array.tabulate(n)(j => math.sqrt(r(0)(j) * r(0)(j) + r(1)(j) * r(1)(j))),
          want(i), s"n=$n λ=$l 2-D error")
      }
    }
  }

  test("Tps.looSelect: same errors and same λ as the refit loop") {
    for ((n, seed) <- Seq((16, 4), (25, 5), (36, 6))) {
      val (pxy, mx, _) = planted(n, seed)
      val (best, errs) = Tps.looSelect(pxy, mx, lambdas, rms)
      val (wantBest, wantErrs) = naiveLooSelect(pxy, mx, lambdas, rms)
      assertRel(errs, wantErrs, s"n=$n errors")
      assert(best == wantBest, s"n=$n λ index $best vs $wantBest")
    }
  }

  test("fitTpsCv: same λ and same model as the refit loop, with and without the cut") {
    for ((n, seed) <- Seq((16, 7), (25, 8), (30, 9)); cut <- Seq(None, Some(3.0))) {
      val (pxy, mx, my) = planted(n, seed)
      assertSameModel(Calibrator.fitTpsCv(pxy, mx, my, lambdas, cut),
        naiveFitTpsCv(pxy, mx, my, lambdas, cut))
    }
  }

  test("fitTpsCv: a cut that fires drops the same points as the refit loop") {
    for ((n, seed, out) <- Seq((25, 10, Set(7)), (30, 11, Set(3, 17)), (49, 12, Set(20)))) {
      val (pxy, mx, my) = planted(n, seed, outliers = out)
      val got = Calibrator.fitTpsCv(pxy, mx, my, lambdas, Some(3.0))
      val want = naiveFitTpsCv(pxy, mx, my, lambdas, Some(3.0))
      assert(want.anchorsX.length < n, s"n=$n: the planted cut did not fire")
      out.foreach(i => assert(!want.anchorsX.exists(_.sameElements(pxy(i))),
        s"n=$n: planted outlier $i kept"))
      assertSameModel(got, want)
    }
  }

  test("near-tie between two λ values: both sides of the tie pick the same λ") {
    val (pxy, mx, my) = planted(16, 13, noise = 1e-2)
    val f = (l: Double) => cvMean(pxy, mx, my, l)
    val grid = lambdas.map(f)
    val m = Stats.argmin(grid)
    assert(m > 0 && m < lambdas.length - 1, s"no interior minimum: ${grid.toList}")
    val left = lambdas(m - 1)
    for (rel <- Seq(1e-7, -1e-7)) {
      val right = matchRight(f, lambdas(m), 1e4, f(left) * (1 + rel))
      val pair = Array(left, right)
      val want = naiveCvErrors(pxy, mx, my, pair).map(e => e.sum / e.length)
      // a near-tie: the two means differ by about rel, far above rounding
      val gap = (want(1) - want(0)) / want(0)
      assert(math.abs(gap - rel) < 1e-8, s"gap $gap for planted $rel")
      assertSameModel(Calibrator.fitTpsCv(pxy, mx, my, pair, None),
        naiveFitTpsCv(pxy, mx, my, pair, None))
      // the winner is the side the planted gap favours
      val got = Calibrator.fitTpsCv(pxy, mx, my, pair, None)
      val (tx, _) = Tps.fit2(pxy, mx, my, if (rel > 0) left else right)
      assert(got.thetaX.toSeq == tx.toSeq, s"rel=$rel picked the other λ")
      // the single-axis selection (ErrorMap's path) on the same pair
      val (b, _) = Tps.looSelect(pxy, mx, pair, rms)
      assert(b == naiveLooSelect(pxy, mx, pair, rms)._1)
    }
    // an exact tie (one λ listed twice) goes to the first, numpy argmin
    val (b, errs) = Tps.looSelect(pxy, mx, Array(left, left), rms)
    assert(errs(0) == errs(1) && b == 0, s"tie went to $b: ${errs.toList}")
  }

  test("too few points for a leave-one-out fit fail loudly") {
    val (pxy, mx, my) = planted(3, 14)
    intercept[IllegalArgumentException](Calibrator.fitTpsCv(pxy, mx, my, lambdas, None))
  }
}
