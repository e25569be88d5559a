package graft.integrate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.llmdata.BinaryKernel

/** The 26-feature row-pair kernel (reference: validator/join.py:96-197)
  * as a single Catalyst expression: two double arrays in, one 26-field
  * struct out, computed with a handful of tight JVM loops.
  *
  * Why an expression and not higher-order functions: Spark's HOFs
  * (`aggregate`/`zip_with`/`transform`) fall back to interpreted
  * evaluation, and this kernel needs ~100 of them per pair — measured
  * minutes for a few million pairs. One expression doing the loops
  * directly is two orders of magnitude faster and keeps the arithmetic
  * order bit-compatible with the generated DuckDB oracle
  * (left-associated sums, population std, two-pass deviations).
  *
  * Codegen: the [[BinaryKernel]] chassis calls [[compute]] from the
  * generated code, so the surrounding stage (cross join -> generate
  * -> filter -> project) stays inside whole-stage codegen.
  *
  * Null array elements become NaN (like the reference's float
  * conversion of missing pandas values); downstream filtering skips
  * any pair with a NaN feature (join.py:405-409).
  */
case class PairFeaturesExpression(
    left: Expression,
    right: Expression,
    eps: Double,
    closeTol: Double,
    veryCloseTol: Double)
    extends BinaryKernel {

  override def dataType: DataType =
    StructType(JoinEngine.featureCols.map(StructField(_, DoubleType, nullable = false)))
  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override protected def nullSafeEval(leftVal: Any, rightVal: Any): Any =
    compute(leftVal.asInstanceOf[ArrayData], rightVal.asInstanceOf[ArrayData])

  def compute(leftVal: ArrayData, rightVal: ArrayData): InternalRow = {
    val a = toDoubles(leftVal)
    val b = toDoubles(rightVal)
    val n = a.length
    val out = new Array[Any](26)

    // per-side moments (population, like np.mean/np.std)
    val ma = meanOf(a)
    val mb = meanOf(b)
    val va = devSq(a, ma)
    val vb = devSq(b, mb)
    val sa = math.sqrt(va / n)
    val sb = math.sqrt(vb / n)

    val d = new Array[Double](n)
    val ad = new Array[Double](n)
    val ratio = new Array[Double](n)
    val rd = new Array[Double](n)
    val pc = new Array[Double](n)
    val zd = new Array[Double](n)
    var i = 0
    while (i < n) {
      d(i) = a(i) - b(i)
      ad(i) = math.abs(d(i))
      ratio(i) = a(i) / (b(i) + eps)
      rd(i) = (a(i) - b(i)) / (math.abs(b(i)) + eps)
      pc(i) = (a(i) - b(i)) / (a(i) + eps)
      zd(i) = (a(i) - ma) / (sa + eps) - (b(i) - mb) / (sb + eps)
      i += 1
    }

    val adMean = meanOf(ad)
    out(0) = adMean
    out(1) = median(ad)
    out(2) = maxOf(ad)
    out(3) = minOf(ad)
    out(4) = math.sqrt(devSq(ad, adMean) / n)
    out(5) = meanOf(rd)
    out(6) = median(rd)
    out(7) = meanOf(zd)
    out(8) = maxAbs(zd)
    out(9) = meanOf(pc)
    out(10) = sumSq(pc) / n
    out(11) = sumOf(ad)
    out(12) = math.sqrt(sumSq(d))
    out(13) = sumAbs(zd)
    out(14) = math.sqrt(sumSq(zd))
    out(15) = sumAbs(pc)
    out(16) = math.sqrt(sumSq(pc))
    // correlation (np.corrcoef; NaN on zero variance -> 0.0)
    var num = 0.0
    i = 0
    while (i < n) { num += (a(i) - ma) * (b(i) - mb); i += 1 }
    val den = math.sqrt(va * vb)
    out(17) = if (den == 0.0) 0.0 else num / den
    val ratioMean = meanOf(ratio)
    out(18) = ratioMean
    out(19) = median(ratio)
    out(20) = math.sqrt(devSq(ratio, ratioMean) / n)
    var signAgree = 0.0
    var bothZero = 0.0
    var close = 0.0
    var veryClose = 0.0
    i = 0
    while (i < n) {
      if (math.signum(a(i)) == math.signum(b(i))) signAgree += 1.0
      if (a(i) == 0.0 && b(i) == 0.0) bothZero += 1.0
      if (ad(i) <= closeTol) close += 1.0
      if (ad(i) <= veryCloseTol) veryClose += 1.0
      i += 1
    }
    out(21) = signAgree / n
    out(22) = n.toDouble
    out(23) = bothZero
    out(24) = close
    out(25) = veryClose

    new GenericInternalRow(out)
  }

  private def toDoubles(arr: ArrayData): Array[Double] = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) Double.NaN else arr.getDouble(i)
      i += 1
    }
    out
  }

  private def sumOf(xs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s
  }
  private def meanOf(xs: Array[Double]): Double = sumOf(xs) / xs.length
  private def sumSq(xs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i) * xs(i); i += 1 }
    s
  }
  private def sumAbs(xs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += math.abs(xs(i)); i += 1 }
    s
  }
  private def devSq(xs: Array[Double], mean: Double): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += (xs(i) - mean) * (xs(i) - mean); i += 1 }
    s
  }
  private def maxOf(xs: Array[Double]): Double = {
    var m = xs(0); var i = 1
    while (i < xs.length) { if (xs(i) > m) m = xs(i); i += 1 }
    m
  }
  private def minOf(xs: Array[Double]): Double = {
    var m = xs(0); var i = 1
    while (i < xs.length) { if (xs(i) < m) m = xs(i); i += 1 }
    m
  }
  private def maxAbs(xs: Array[Double]): Double = {
    var m = math.abs(xs(0)); var i = 1
    while (i < xs.length) { val v = math.abs(xs(i)); if (v > m) m = v; i += 1 }
    m
  }
  /** NumPy median: average of the two middle elements for even n. */
  private def median(xs: Array[Double]): Double = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
