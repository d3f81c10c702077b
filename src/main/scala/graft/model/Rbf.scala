package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}

/** M7: radial-basis-function interpolation with the reference's CV grid
  * (_fit_rbf_cv, /root/reference/vedb_gaze/calibration.py:239-313 — the
  * non-default calibration path; kept for surface completeness).
  *
  * Matches scipy.interpolate.Rbf semantics: system matrix
  * A = φ(‖xi−xj‖) − smooth·I solved for node weights; ε defaults to the
  * "average distance between nodes" ((Π edge extents)/N)^(1/d).
  * Kernels: multiquadric √((r/ε)²+1), linear r, cubic r³,
  * thin_plate r²·ln r (0 at r=0).
  */
object Rbf {

  case class Model(xy: Array[Array[Double]], w: Array[Double],
                   kernel: String, eps: Double) {
    def predict(x: Double, y: Double): Double = {
      var acc = 0.0
      var i = 0
      while (i < xy.length) {
        val dx = x - xy(i)(0); val dy = y - xy(i)(1)
        acc += w(i) * phi(kernel, math.sqrt(dx * dx + dy * dy), eps)
        i += 1
      }
      acc
    }
  }

  def phi(kernel: String, r: Double, eps: Double): Double = kernel match {
    case "multiquadric" => math.sqrt((r / eps) * (r / eps) + 1.0)
    case "linear" => r
    case "cubic" => r * r * r
    case "thin_plate" => if (r == 0.0) 0.0 else r * r * math.log(r)
    case other => throw new IllegalArgumentException(s"unknown kernel $other")
  }

  def defaultEps(xy: Array[Array[Double]]): Double = {
    val n = xy.length
    val ex = xy.map(_(0)).max - xy.map(_(0)).min
    val ey = xy.map(_(1)).max - xy.map(_(1)).min
    math.pow(math.max(ex, 1e-12) * math.max(ey, 1e-12) / n, 0.5)
  }

  def fit(xy: Array[Array[Double]], v: Array[Double], kernel: String,
          smooth: Double, eps: Double = Double.NaN): Model = {
    val n = xy.length
    val e = if (eps.isNaN) defaultEps(xy) else eps
    val a = DenseMatrix.tabulate(n, n) { (i, j) =>
      val dx = xy(i)(0) - xy(j)(0); val dy = xy(i)(1) - xy(j)(1)
      phi(kernel, math.sqrt(dx * dx + dy * dy), e) -
        (if (i == j) smooth else 0.0)
    }
    val w = a \ DenseVector(v)
    Model(xy, w.toArray, kernel, e)
  }

  /** LOO-CV over the (smoothness × method) grid — smoothness-OUTER, the
    * reference's errors[s, m] layout — RMS of the joint 2-D residual
    * (x and y maps fitted with the same hyperparameters); first minimum
    * in row-major order wins (np.unravel_index(errors.argmin())).
    * Returns (bestKernel, bestSmooth, errors).
    *
    * This refits n times per grid point on purpose: the closed-form
    * leave-one-out of [[Tps.looResiduals]] does not apply, because ε
    * ([[defaultEps]]) depends on the node set, so each multiquadric
    * leave-out fit uses a different kernel than the full system. */
  def looSelect(pxy: Array[Array[Double]], mx: Array[Double], my: Array[Double],
                kernels: Seq[String], smoothnesses: Seq[Double]):
      (String, Double, Array[Double]) = {
    val n = pxy.length
    val grid = for (s <- smoothnesses; k <- kernels) yield (k, s)
    val errs = grid.map { case (k, s) =>
      var sum = 0.0
      var j = 0
      while (j < n) {
        val keep = (0 until n).filter(_ != j).toArray
        val xyK = keep.map(pxy)
        val fx = fit(xyK, keep.map(mx), k, s)
        val fy = fit(xyK, keep.map(my), k, s)
        val ex = fx.predict(pxy(j)(0), pxy(j)(1)) - mx(j)
        val ey = fy.predict(pxy(j)(0), pxy(j)(1)) - my(j)
        sum += ex * ex + ey * ey
        j += 1
      }
      math.sqrt(sum / n)
    }.toArray
    val best = Stats.argmin(errs)
    (grid(best)._1, grid(best)._2, errs)
  }
}

/** RBF gaze map (x and y interpolators), Column apply via the native
  * [[graft.functions.RbfEval]] kernel (r17 — the TpsEval discipline; the
  * typedLit-packed HOF fold paid interpreted evaluation per node per row,
  * bit-parity pinned in GazeModelSpec). */
case class RbfMapModel(fx: Rbf.Model, fy: Rbf.Model) extends GazeModel {
  import org.apache.spark.sql.Column

  def mapCols(px: Column, py: Column): (Column, Column) =
    (graft.functions.RbfEval.rbf_eval(px, py, fx),
      graft.functions.RbfEval.rbf_eval(px, py, fy))
}
