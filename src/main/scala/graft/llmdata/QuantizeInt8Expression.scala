package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole [[EmbeddingOps.quantizeInt8]] row contract in one JIT'd
  * pass over the double array: returns
  * `struct(scale, q_csv, max_abs_err)`, value-identical to the
  * `array_max(transform(abs))` + quantize `transform` +
  * `array_max(zip_with(err))` + `concat_ws` spelling it replaces
  * (same portable left-to-right arithmetic:
  * `floor(x * 127.0 / scale + 0.5)`, dequant `q * scale / 127.0`).
  *
  * Why an expression: three interpreted lambda passes plus a
  * stringified bigint array per row — the last interpreted HOF chain
  * in the embedding family at the r9 sf1 rehearsal.
  *
  * Edge semantics replicated from the built-ins: `array_max` skips
  * null elements and treats NaN as greatest; a null element
  * propagates through the quantize lambda to a null code, which
  * `concat_ws` omits (no empty CSV field); the non-ANSI double->long
  * cast is `Double#toLong` (NaN -> 0, infinities clamp); an empty
  * vector yields null scale, empty csv, null max_abs_err.
  */
case class QuantizeInt8Expression(child: Expression) extends UnaryKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("q_csv", StringType, nullable = false),
    StructField("max_abs_err", DoubleType, nullable = true)))

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  /** array_max ordering: NaN is greatest, nulls skipped. */
  @inline private def maxOrNew(cur: Double, curSet: Boolean, x: Double): Double =
    if (!curSet) x
    else if (java.lang.Double.isNaN(x)) x
    else if (java.lang.Double.isNaN(cur)) cur
    else if (x > cur) x else cur

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    // pass 1: scale = max |x|
    var scale = 0.0
    var scaleSet = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        scale = maxOrNew(scale, scaleSet, math.abs(v.getDouble(i)))
        scaleSet = true
      }
      i += 1
    }
    // pass 2: codes + reconstruction error, csv built as we go
    val sb = new java.lang.StringBuilder(n * 4)
    var err = 0.0
    var errSet = false
    var first = true
    i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = v.getDouble(i)
        val qd = if (scale == 0.0) 0.0 else math.floor(x * 127.0 / scale + 0.5)
        val q = qd.toLong // non-ANSI cast: NaN -> 0, infinities clamp
        if (!first) sb.append(',')
        sb.append(q)
        first = false
        err = maxOrNew(err, errSet, math.abs(q.toDouble * scale / 127.0 - x))
        errSet = true
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      if (scaleSet) scale else null,
      UTF8String.fromString(sb.toString),
      if (errSet) err else null))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeInt8Expression {
  def quantizeInt8(v: Column): Column =
    ColumnBridge.column(QuantizeInt8Expression(ColumnBridge.expression(v)))
}
