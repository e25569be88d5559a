package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Product-quantization codes + per-subspace distance tables
  * ([[AnnSearch.pqAssign]] / [[AnnSearch.pqTopK]]) in one JIT'd pass.
  *
  * The HOF spelling evaluated, per row, `subspaces x codebook`
  * interpreted `aggregate(zip_with(slice(...), c, (x,y)->(x-y)*(x-y)))`
  * folds — twice per subspace (once under `array_min`, once under
  * `array_position`) — the heaviest remaining ANN cost in the r9 sf1
  * rehearsal (`ann_pq_assign` 13.1 s for a 64-dim 8x16 lattice
  * codebook). This kernel computes every sub-distance once:
  * ~subspaces*codebook*subDim long mul-adds per row, JIT'd.
  *
  * Output struct, value-identical to the HOF chain:
  *  - `codes`:  1-based first-minimum index per subspace
  *              (`array_position(arr, array_min(arr))` semantics);
  *  - `sq_err`: sum over subspaces of the minimum sub-distance
  *              (total squared quantization error, exact long);
  *  - `tables`: the full per-subspace distance arrays (the query-side
  *              ADC lookup tables), populated only when `withTables`
  *              (corpus-side assignment never allocates them).
  *
  * Contract edges mirrored from the HOFs: a subspace whose slice is
  * short (vector shorter than `(m+1)*subDim`) or contains a null
  * element null-poisons that subspace — all its distances, its code,
  * and the total `sq_err` are null (`zip_with` pads / propagates null
  * through the fold, `array_min` over all-null is null, and a null
  * term nullifies the `+` chain).
  */
case class PqCodesExpression(child: Expression,
                             centroids: Seq[Seq[Seq[Long]]],
                             withTables: Boolean) extends UnaryKernel {

  require(centroids.nonEmpty && centroids.head.nonEmpty &&
    centroids.head.head.nonEmpty, "pqCodes: empty codebook")
  require(centroids.forall(sub => sub.size == centroids.head.size &&
    sub.forall(_.size == centroids.head.head.size)),
    "pqCodes: ragged codebook")

  private val subspaces = centroids.size
  private val codebook = centroids.head.size
  private val subDim = centroids.head.head.size

  // flat (subspace-major, then code, then dim) for cache-friendly scans
  @transient private lazy val flat: Array[Long] = {
    val a = new Array[Long](subspaces * codebook * subDim)
    var i = 0
    centroids.foreach(_.foreach(_.foreach { v => a(i) = v; i += 1 }))
    a
  }

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = true)),
    StructField("sq_err", LongType),
    StructField("tables",
      ArrayType(ArrayType(LongType, containsNull = true), containsNull = false))))

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(vi: ArrayData): InternalRow = {
    val n = vi.numElements()
    val codes = new Array[Any](subspaces)
    val tables = if (withTables) new Array[Any](subspaces) else null
    var sqErr = 0L
    var errNull = false
    var m = 0
    while (m < subspaces) {
      val off = m * subDim
      // a short or null-bearing slice null-poisons the whole subspace
      var ok = off + subDim <= n
      var d = 0
      while (ok && d < subDim) {
        if (vi.isNullAt(off + d)) ok = false
        d += 1
      }
      if (!ok) {
        codes(m) = null
        errNull = true
        if (withTables) tables(m) = new GenericArrayData(new Array[Any](codebook))
      } else {
        val table = if (withTables) new Array[Any](codebook) else null
        var best = Long.MaxValue
        var bestIdx = -1
        var j = 0
        while (j < codebook) {
          val cOff = (m * codebook + j) * subDim
          var s = 0L
          var d2 = 0
          while (d2 < subDim) {
            val diff = vi.getLong(off + d2) - flat(cOff + d2)
            s += diff * diff
            d2 += 1
          }
          if (withTables) table(j) = s
          if (s < best) { best = s; bestIdx = j } // strict <: first min wins
          j += 1
        }
        codes(m) = bestIdx + 1 // 1-based, array_position semantics
        sqErr += best
        if (withTables) tables(m) = new GenericArrayData(table)
      }
      m += 1
    }
    InternalRow(
      new GenericArrayData(codes),
      if (errNull) null else sqErr,
      if (withTables) new GenericArrayData(tables) else null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-centroid mean-dot scores ([[AnnSearch.kmeansScores]]) in one
  * JIT'd pass: `cast(dot(vi, sum_j) as double) / cast(cnt_j as
  * double)` for every centroid — the dot an exact long fold (wrapping
  * like Spark's BIGINT `+` fold, see the overflow bound on the SQL
  * spelling), then exactly one cast and one IEEE divide per centroid,
  * so scores stay bit-identical to the HOF spelling in any partition
  * order. The HOF ran k interpreted `aggregate(zip_with(...))` folds
  * per row per k-means pass (k x dim = 512 steps at the defaults).
  *
  * Contract edges: `zip_with` pads the shorter side with null, so a
  * vector whose length differs from `dim` — or carrying a null
  * element — nullifies every score.
  */
case class CentroidDotScoresExpression(child: Expression,
                                       sums: Seq[Seq[Long]],
                                       counts: Seq[Long]) extends UnaryKernel {

  require(sums.nonEmpty && sums.size == counts.size,
    "centroidDotScores: sums/counts size mismatch")
  require(sums.forall(_.size == sums.head.size),
    "centroidDotScores: ragged centroid sums")

  private val k = sums.size
  private val dim = sums.head.size

  @transient private lazy val flat: Array[Long] = {
    val a = new Array[Long](k * dim)
    var i = 0
    sums.foreach(_.foreach { v => a(i) = v; i += 1 })
    a
  }
  @transient private lazy val cnts: Array[Long] = counts.toArray

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(vi: ArrayData): ArrayData = {
    val n = vi.numElements()
    var ok = n == dim
    var d = 0
    while (ok && d < n) {
      if (vi.isNullAt(d)) ok = false
      d += 1
    }
    if (!ok) return new GenericArrayData(new Array[Any](k))
    val toks = new Array[Long](dim)
    d = 0
    while (d < dim) { toks(d) = vi.getLong(d); d += 1 }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val off = j * dim
      var s = 0L
      var d2 = 0
      while (d2 < dim) {
        s += toks(d2) * flat(off + d2)
        d2 += 1
      }
      out(j) = s.toDouble / cnts(j).toDouble
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqKernelExpressions {
  def pqCodes(vi: Column, centroids: Seq[Seq[Seq[Long]]],
              withTables: Boolean): Column =
    ColumnBridge.column(PqCodesExpression(
      ColumnBridge.expression(vi), centroids, withTables))

  def centroidDotScores(vi: Column, state: Seq[(Seq[Long], Long)]): Column =
    ColumnBridge.column(CentroidDotScoresExpression(
      ColumnBridge.expression(vi), state.map(_._1), state.map(_._2)))
}
