package graft.llmdata

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full MinHash signature in one pass: for seed k in [0, numHashes),
  * the minimum `md5("mh<k>:" ++ shingle)` hex string over the shingle
  * array (lexicographic min of fixed-width lowercase hex == numeric
  * min — the engine-portable trick the oracles share).
  *
  * Why an expression: the HOF spelling runs `numHashes` interpreted
  * `array_min(transform(...md5...))` passes per document; this is one
  * JIT'd loop with a reused MessageDigest and no per-element lambda
  * dispatch, producing byte-identical hex strings (md5 is md5), so
  * the DuckDB oracles are untouched.
  */
case class MinHashSignatureExpression(child: Expression, numHashes: Int)
    extends UnaryKernel {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  @transient private lazy val prefixes: Array[Array[Byte]] =
    (0 until numHashes).map(k => s"mh$k:".getBytes("UTF-8")).toArray

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[String](numHashes)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val bytes = shingles.getUTF8String(i).getBytes
        var k = 0
        while (k < numHashes) {
          md.reset()
          md.update(prefixes(k))
          md.update(bytes)
          val hex = toHex(md.digest())
          if (mins(k) == null || hex.compareTo(mins(k)) < 0) mins(k) = hex
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(s => if (s == null) null else UTF8String.fromString(s)))
  }

  private def toHex(bytes: Array[Byte]): String = {
    val hex = "0123456789abcdef".toCharArray
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = hex(b >> 4)
      out(i * 2 + 1) = hex(b & 0xf)
      i += 1
    }
    new String(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignatureExpression {
  def signature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignatureExpression(
      ColumnBridge.expression(shingles), numHashes))
}
