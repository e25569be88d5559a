package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `width`-token word shingles of a text in one byte scan.
  *
  * Why an expression: the HOF spelling
  * (`transform(sequence(...), i -> concat_ws(' ', element_at(...)))`)
  * is a Catalyst lambda — evaluated INTERPRETED, one boxed
  * `concat_ws` dispatch per shingle. At sf0.1 that lambda was ~90% of
  * every shingle-consuming operator's scan (measured in PLANS.md
  * round-14: 6.6 s -> 0.4 s for the 260k-shingle corpus pass). This
  * kernel is one JIT'd loop.
  *
  * Value parity is structural, not approximate: joining `width`
  * consecutive tokens of `split(text, ' ')` with single spaces
  * reproduces the exact source substring between those token
  * boundaries (split cuts at EVERY space, so empty tokens from runs
  * of spaces re-join to the same byte sequence), so each shingle is
  * emitted as a substring slice of the input — byte-identical to the
  * HOF spelling and to the oracles' `string_split`/`list_transform`
  * replay, with no per-shingle string building at all. A space is
  * 0x20, which never occurs inside a multi-byte UTF-8 sequence, so
  * the byte scan is UTF-8-safe. Sub-`width` (and empty) inputs yield
  * an empty array, matching the `CASE WHEN size(...) >= width` guard
  * it replaces.
  */
case class WordShinglesExpression(child: Expression, width: Int)
    extends UnaryKernel {

  require(width >= 1, s"shingle width must be >= 1: $width")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') spaces += 1
      i += 1
    }
    val numTokens = spaces + 1
    if (numTokens < width) return new GenericArrayData(Array.empty[Any])
    // starts(t) = byte offset of token t; the sentinel start one past
    // the end stands in for a virtual trailing separator, so every
    // shingle's end is uniformly `starts(j + width) - 1`
    val starts = new Array[Int](numTokens + 1)
    var t = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(numTokens) = n + 1
    val m = numTokens - width + 1
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val s = starts(j)
      out(j) = UTF8String.fromBytes(bytes, s, starts(j + width) - 1 - s)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShinglesExpression {
  def shingles(text: Column, width: Int): Column =
    ColumnBridge.column(WordShinglesExpression(
      ColumnBridge.expression(text), width))
}
