package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}

/** Thin-plate spline fit/eval (driver-side; N anchors ≤ ~10³).
  *
  * Same math as the public py-thin-plate-spline library the reference
  * imports (/root/reference/vedb_gaze/calibration.py:6-13): kernel
  * U(r) = r²·ln(r + 1e-6), augmented system
  * [[K+λI, P],[Pᵀ,0]]·θ = [v,0], P = [1, x, y].
  * We solve in float64 (the reference solves in float32 — we only promise
  * equal-or-better numerics, there is no bit-parity oracle for TPS).
  *
  * Fit is O(N³) on reduced cluster medians (10¹-10² points); apply is a
  * distributed Column expression (see [[GazeModel.tpsCol]]).
  */
object Tps {

  @inline def kernel(r: Double): Double = r * r * math.log(r + 1e-6)

  /** The augmented system [[K+λI, P],[Pᵀ,0]] of the anchors, (n+3)². */
  private def system(xy: Array[Array[Double]], lambd: Double): DenseMatrix[Double] = {
    val n = xy.length
    val a = DenseMatrix.zeros[Double](n + 3, n + 3)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val dx = xy(i)(0) - xy(j)(0)
        val dy = xy(i)(1) - xy(j)(1)
        a(i, j) = kernel(math.sqrt(dx * dx + dy * dy)) + (if (i == j) lambd else 0.0)
        j += 1
      }
      a(i, n) = 1.0; a(i, n + 1) = xy(i)(0); a(i, n + 2) = xy(i)(1)
      a(n, i) = 1.0; a(n + 1, i) = xy(i)(0); a(n + 2, i) = xy(i)(1)
      i += 1
    }
    a
  }

  /** Fit θ (length n+3: n warp weights + affine a0, ax, ay).
    * @param xy  anchor coordinates, n×2
    * @param v   values at anchors, length n
    */
  def fit(xy: Array[Array[Double]], v: Array[Double], lambd: Double): Array[Double] = {
    val n = xy.length
    require(n >= 3, s"TPS fit needs >= 3 points, got $n")
    val rhs = DenseVector.zeros[Double](n + 3)
    System.arraycopy(v, 0, rhs.data, 0, n)
    (system(xy, lambd) \ rhs).toArray
  }

  /** Fit the x and y maps together, sharing ONE factorization of the
    * common system matrix (it depends only on the anchors and λ, not the
    * values). Solutions are column-wise identical to two [[fit]] calls
    * (same LU, independent triangular solves per RHS column). */
  def fit2(xy: Array[Array[Double]], vx: Array[Double], vy: Array[Double],
           lambd: Double): (Array[Double], Array[Double]) = {
    val n = xy.length
    require(n >= 3, s"TPS fit needs >= 3 points, got $n")
    val rhs = DenseMatrix.zeros[Double](n + 3, 2)
    var i = 0
    while (i < n) { rhs(i, 0) = vx(i); rhs(i, 1) = vy(i); i += 1 }
    val theta = system(xy, lambd) \ rhs
    (theta(::, 0).toArray, theta(::, 1).toArray)
  }

  /** Leave-one-out residuals f⁻ⁱ(xᵢ) − vᵢ at every anchor, one array per
    * value array in `vs`, from ONE inverse B = A⁻¹ of the full system:
    * the residual is −cᵢ / Bᵢᵢ with c = B·[v; 0]. The leave-out solution,
    * padded with cᵢ = 0, solves the full system with vᵢ replaced by its
    * own leave-out prediction (Craven & Wahba, Numer. Math. 31, 1979), so
    * this equals n refits with anchor i dropped, up to rounding, at the
    * cost of one. */
  def looResiduals(xy: Array[Array[Double]], vs: Seq[Array[Double]],
                   lambd: Double): Seq[Array[Double]] = {
    val n = xy.length
    require(n >= 4, s"TPS leave-one-out needs >= 4 points, got $n")
    val b = breeze.linalg.inv(system(xy, lambd))
    vs.map { v =>
      Array.tabulate(n) { i =>
        var c = 0.0
        var j = 0
        while (j < n) { c += b(i, j) * v(j); j += 1 }
        -c / b(i, i)
      }
    }
  }

  /** Evaluate the fitted spline at (x, y). */
  def z(x: Double, y: Double, xy: Array[Array[Double]], theta: Array[Double]): Double = {
    val n = xy.length
    var acc = theta(n) + theta(n + 1) * x + theta(n + 2) * y
    var i = 0
    while (i < n) {
      val dx = x - xy(i)(0); val dy = y - xy(i)(1)
      acc += theta(i) * kernel(math.sqrt(dx * dx + dy * dy))
      i += 1
    }
    acc
  }

  /** Leave-one-out cross-validated λ selection (calibration.py:348-412 /
    * error_computation.py:180-198): for each λ, the residual of every
    * point predicted with itself left out ([[looResiduals]]); pick argmin
    * (first minimum, numpy semantics) of the caller's metric over them.
    * Returns (bestLambdaIndex, perLambdaErrors).
    */
  def looSelect(xy: Array[Array[Double]], v: Array[Double], lambdas: Array[Double],
                metric: Array[Double] => Double): (Int, Array[Double]) = {
    val errs = lambdas.map(l => metric(looResiduals(xy, Seq(v), l).head))
    (Stats.argmin(errs), errs)
  }
}
