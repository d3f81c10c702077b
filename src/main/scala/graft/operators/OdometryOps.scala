package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Odometry / pose-stream operators.
  *
  * Reference (file:line relative to /root/reference/vedb_gaze):
  *  - quatToEuler:  `euler_from_quaternion` odometry.py:176-193 (P8) —
  *    including the RealSense axis remap (x,y,z) → (-z, x, -y)
  *  - speed conversions: `convert_speed` odometry.py:197-224 (P9)
  *  - savgol: Savitzky-Golay smoothing odometry.py:82-92 (W8) as a
  *    fixed-coefficient FIR over a row window — coefficients are computed
  *    once on the driver (pseudoinverse of the local Vandermonde), the
  *    apply is a declarative window dot-product (one shuffle on the keys).
  */
object OdometryOps {

  /** P8: (pitch, roll, yaw) in degrees from quaternion components. Pure
    * Column arithmetic + atan2/asin — codegen'd, no UDF. */
  def quatToEuler(w: Column, x0: Column, y0: Column, z0: Column):
      (Column, Column, Column) = {
    // RealSense remap (odometry.py:183-188)
    val x = -z0; val y = x0; val z = -y0
    val deg = lit(180.0 / math.Pi)
    val pitch = -asin(lit(2.0) * (x * z - w * y)) * deg
    val roll = atan2(lit(2.0) * (w * x + y * z), w * w - x * x - y * y + z * z) * deg
    val yaw = atan2(lit(2.0) * (w * z + x * y), w * w + x * x - y * y - z * z) * deg
    (pitch, roll, yaw)
  }

  /** P9: m/s → mph (odometry.py:197-224). */
  def mph(mps: Column): Column = mps * 3600.0 / 1609.34

  /** W8: Savitzky-Golay coefficients for (window, polyorder): the smoothed
    * value is Σ c_i · v[t+i-h], c = e₀ᵀ(AᵀA)⁻¹Aᵀ with A the Vandermonde of
    * offsets −h..h. Driver-side, tiny. */
  def savgolCoeffs(window: Int, polyorder: Int): Array[Double] = {
    require(window % 2 == 1 && polyorder < window)
    val h = window / 2
    val a = breeze.linalg.DenseMatrix.tabulate(window, polyorder + 1) {
      (r, c) => math.pow(r - h, c)
    }
    val ata = a.t * a
    val sol = ata \ a.t // (p+1) × window
    (0 until window).map(i => sol(0, i)).toArray
  }

  /** W8 apply: FIR smoothing over a sorted row window; nulls at the series
    * edges (callers keep the raw value there if desired). */
  def savgol(df: DataFrame, tsCol: String, valueCol: String,
             partitionCols: Seq[String], window: Int, polyorder: Int,
             outCol: String): DataFrame = {
    val coeffs = savgolCoeffs(window, polyorder)
    val h = window / 2
    val w =
      (if (partitionCols.isEmpty) Window.partitionBy()
       else Window.partitionBy(partitionCols.map(col): _*)).orderBy(col(tsCol))
    val terms = coeffs.zipWithIndex.map { case (c, i) =>
      val off = i - h
      val v =
        if (off < 0) lag(col(valueCol).cast("double"), -off).over(w)
        else if (off > 0) lead(col(valueCol).cast("double"), off).over(w)
        else col(valueCol).cast("double")
      v * lit(c)
    }
    df.withColumn(outCol, terms.reduce(_ + _))
  }
}
