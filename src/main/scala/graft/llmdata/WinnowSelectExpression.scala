package graft.llmdata

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The winnowing selection (Schleimer et al. 2003) in one JIT'd pass:
  * from a token array, hash every `gram`-shingle (md5, first 16 bits —
  * the portable positional decode every oracle shares, see
  * [[LlmDataParams.hexDecode4]]), slide a `window`-hash window, keep
  * each window's minimum, and return the sorted distinct minima as
  * `array<bigint>`.
  *
  * Why an expression (VERDICT r8 §next-2): the HOF spelling —
  * `transform(sequence(...), i -> array_min(slice(...)))` nested over
  * a `transform(..., md5(concat_ws(...)))` — evaluates interpreted,
  * with per-element lambda dispatch and a fresh variant array per
  * slice; it measured ~2.5x its family's peers at sf0.1. This kernel
  * is one tight loop with a reused MessageDigest and zero
  * allocations beyond the output, in the
  * [[MinHashSignatureExpression]] mold, producing bit-identical
  * values (md5 is md5; the decode is the same two digest bytes), so
  * the DuckDB oracles are untouched.
  *
  * Exact parity with the HOF spelling, including the edges:
  *   - fewer than `gram` tokens -> the old chain evaluated
  *     `array_min(slice(array(), 1, w))` = null, so the selected set
  *     is the single-null array (callers branch it away on n_grams);
  *   - fewer hashes than `window` -> one window over all hashes (the
  *     global minimum) — `greatest(size - w + 1, 1)`;
  *   - null tokens are skipped exactly as `concat_ws` skips them
  *     (no doubled separator).
  */
case class WinnowSelectExpression(child: Expression, gram: Int, window: Int)
    extends UnaryKernel {

  require(gram >= 1 && window >= 1, "winnow: gram and window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < gram) return new GenericArrayData(Array[Any](null))
    val numH = n - gram + 1
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) tokBytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val md = MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](numH)
    var h = 0
    while (h < numH) {
      md.reset()
      var first = true
      var j = 0
      while (j < gram) {
        val b = tokBytes(h + j)
        if (b != null) { // concat_ws skips nulls without doubling the sep
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      // first 4 hex chars == first 2 digest bytes, big-endian
      hashes(h) = (((d(0) & 0xff) << 8) | (d(1) & 0xff)).toLong
      h += 1
    }
    val numW = math.max(numH - window + 1, 1)
    val minima = new Array[Long](numW)
    var w = 0
    while (w < numW) {
      var m = Long.MaxValue
      var j = w
      val end = math.min(w + window, numH)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      minima(w) = m
      w += 1
    }
    java.util.Arrays.sort(minima)
    var distinct = 1
    var k = 1
    while (k < numW) { if (minima(k) != minima(k - 1)) distinct += 1; k += 1 }
    val out = new Array[Long](distinct)
    out(0) = minima(0)
    var o = 1
    k = 1
    while (k < numW) {
      if (minima(k) != minima(k - 1)) { out(o) = minima(k); o += 1 }
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowSelectExpression {
  def select(tokens: Column, gram: Int, window: Int): Column =
    ColumnBridge.column(WinnowSelectExpression(
      ColumnBridge.expression(tokens), gram, window))
}
