package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE encode of one word under a FIXED ranked merge list, in one
  * JIT'd pass: spell the word as characters, then apply each merge
  * once, in rank order, as the greedy leftmost-non-overlapping fold
  * (the [[TextAnalysis.bpeTrain]] application semantics, verbatim).
  *
  * Why an expression: the HOF spelling — one interpreted
  * `aggregate(...)` lambda PER MERGE, nested `merges.size` deep —
  * dominated `text_bpe_fertility`'s vocabulary pass (the
  * [[WordShinglesExpression]] lesson: Catalyst lambdas evaluate
  * interpreted). This kernel runs the whole merge list over a single
  * reused symbol buffer. Value parity is structural: the in-place
  * left-to-right scan ("write symbol; if the last written symbol is
  * `a` and the incoming is `b`, fuse to `ab` and continue") IS the
  * fold's case split, so outputs are element-identical to the HOF
  * chain and to the oracle's `list_reduce` replay.
  *
  * The empty word spells as ONE empty symbol (the bpeEncodeStats
  * guard); a null input is null (nullIntolerant).
  */
case class BpeEncodeExpression(child: Expression,
                               merges: Seq[(String, String)])
    extends UnaryKernel {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(word: UTF8String): ArrayData = {
    val w = word.toString
    if (w.isEmpty) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    // seed: one symbol per Unicode code point (substring(w, i, 1)
    // parity — Spark's substring indexes code points, not chars)
    var syms = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var n = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val len = Character.charCount(cp)
      syms(n) = w.substring(i, i + len)
      n += 1
      i += len
    }
    merges.foreach { case (a, b) =>
      val ab = a + b
      var out = 0
      var j = 0
      while (j < n) {
        if (out > 0 && syms(out - 1) == a && syms(j) == b) syms(out - 1) = ab
        else { syms(out) = syms(j); out += 1 }
        j += 1
      }
      n = out
    }
    val arr = new Array[Any](n)
    i = 0
    while (i < n) { arr(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncodeExpression {
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeExpression(
      ColumnBridge.expression(word), merges))
}
