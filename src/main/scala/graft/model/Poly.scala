package graft.model

import breeze.linalg.{svd, DenseMatrix, DenseVector, diag}

/** Polynomial gaze calibration, driver-side fit (M1-M3).
  *
  * Semantics follow the reference's Pupil-Labs 2-D calibration
  * (/root/reference/vedb_gaze/externals/calibrate_2d.py:89-247 and the vedb
  * two-pass variant calibration.py:102-183): design matrix of fixed monomial
  * sets per n ∈ {3,5,7,9,13,17}, least squares via SVD pseudoinverse,
  * then a second fit on inliers (absolute error ≤ 35 px, or
  * median + k·std when maxStds is given).
  */
object Poly {

  /** M1: the monomial feature vector for one sample. `in` is (px, py) for
    * monocular n ∈ {3,7,9}, (px0, py0, px1, py1) for binocular {5,13,17}. */
  def features(in: Array[Double], n: Int): Array[Double] = n match {
    case 3 =>
      val Array(x, y) = in; Array(x, y, 1.0)
    case 5 =>
      val Array(x0, y0, x1, y1) = in; Array(x0, y0, x1, y1, 1.0)
    case 7 =>
      val Array(x, y) = in
      Array(x, y, x * x, y * y, x * y, x * x * y * y, 1.0)
    case 9 =>
      val Array(x, y) = in
      Array(x, y, x * x, y * y, x * y, x * x * y * y, x * x * y, y * y * x, 1.0)
    case 13 =>
      val Array(x0, y0, x1, y1) = in
      Array(x0, y0, x1, y1, x0 * x0, y0 * y0, x0 * y0, x0 * x0 * y0 * y0,
        x1 * x1, y1 * y1, x1 * y1, x1 * x1 * y1 * y1, 1.0)
    case 17 =>
      val Array(x0, y0, x1, y1) = in
      Array(x0, y0, x1, y1, x0 * x0, y0 * y0, x0 * y0, x0 * x0 * y0 * y0,
        x1 * x1, y1 * y1, x1 * y1, x1 * x1 * y1 * y1,
        x0 * x1, x0 * y1, y0 * x1, y0 * y1, 1.0)
    case _ => throw new IllegalArgumentException(s"model n must be 3,5,7,9,13,17; got $n")
  }

  /** M2: least-squares via SVD pseudoinverse; returns (cx, cy, errX, errY)
    * with residuals in normalized units (fit_poly_surface). */
  def fitSurface(ins: Array[Array[Double]], tx: Array[Double], ty: Array[Double],
                 n: Int): (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val rows = ins.map(features(_, n))
    val m = DenseMatrix(rows.toIndexedSeq: _*)
    val s = svd.reduced(m)
    // pinv = V · diag(1/w) · Uᵀ
    val pinv = s.rightVectors.t * diag(s.singularValues.map(1.0 / _)) * s.leftVectors.t
    val cx = pinv * DenseVector(tx)
    val cy = pinv * DenseVector(ty)
    val px = m * cx; val py = m * cy
    (cx.toArray, cy.toArray,
      (px - DenseVector(tx)).toArray, (py - DenseVector(ty)).toArray)
  }

  /** M3: two-pass robust fit (calibrate_2d_polynomial, calibration.py:102-183).
    * Screen-scaled error distance; inliers by absolute threshold or
    * median + maxStds·std; refit on inliers. Returns None when every point
    * is an outlier. */
  def calibrate(ins: Array[Array[Double]], tx: Array[Double], ty: Array[Double],
                n: Int, screenSize: (Double, Double) = (1.0, 1.0),
                maxAbsErr: Double = 35.0,
                maxStds: Option[Double] = None): Option[PolyMapModel] =
    calibrateRaw(ins, tx, ty, n, screenSize, maxAbsErr, maxStds)
      .map { case (cx, cy) => PolyMapModel(cx, cy, n) }

  /** Two-pass fit returning raw coefficients (for the binocular n∈{5,13,17}
    * models, which wrap into [[PolyBinocularModel]] instead). */
  def calibrateRaw(ins: Array[Array[Double]], tx: Array[Double], ty: Array[Double],
                   n: Int, screenSize: (Double, Double) = (1.0, 1.0),
                   maxAbsErr: Double = 35.0,
                   maxStds: Option[Double] = None): Option[(Array[Double], Array[Double])] = {
    val (_, _, ex, ey) = fitSurface(ins, tx, ty, n)
    val errDist = ex.zip(ey).map { case (a, b) =>
      val sx = a * screenSize._1 / 2.0; val sy = b * screenSize._2 / 2.0
      math.sqrt(sx * sx + sy * sy)
    }
    val inliers: Array[Boolean] = maxStds match {
      case Some(k) =>
        val med = Stats.median(errDist)
        val sd = Stats.stdPop(errDist)
        errDist.map(_ < med + k * sd)
      case None => errDist.map(_ <= maxAbsErr)
    }
    val errOk = maxStds match {
      case Some(_) => errDist.map(_ <= maxAbsErr)
      case None    => inliers
    }
    if (!errOk.exists(identity)) None
    else {
      val keep = inliers.zipWithIndex.collect { case (true, i) => i }
      val (cx, cy, _, _) =
        fitSurface(keep.map(ins), keep.map(tx), keep.map(ty), n)
      Some((cx, cy))
    }
  }
}

/** Small exact statistics helpers (numpy semantics: median interpolates,
  * std is population by default). */
object Stats {
  def median(xs: Array[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  def mean(xs: Array[Double]): Double = xs.sum / xs.length
  /** Index of the first minimum (numpy argmin on NaN-free input). */
  def argmin(xs: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < xs.length) { if (xs(i) < xs(best)) best = i; i += 1 }
    best
  }
  def stdPop(xs: Array[Double]): Double = {
    val mu = mean(xs)
    math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.length)
  }
}
