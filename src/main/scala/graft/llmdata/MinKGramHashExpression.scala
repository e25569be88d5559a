package graft.llmdata

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The rolling-gram min-k fingerprint ([[TextAnalysis.fingerprint]])
  * in one JIT'd pass: char `gram`-grams sampled every `stride`
  * offsets, each md5'd, and the fingerprint is the md5 of the `k`
  * lexicographically smallest DISTINCT gram digests concatenated in
  * ascending order. Fixed-width lowercase hex makes lexicographic
  * order numeric order, the same invariant the MinHash kernel uses.
  *
  * Why an expression: the HOF spelling (`md5(concat(element_at(
  * array_sort(array_distinct(transform(grams, md5))), 1..k)))`)
  * materializes every gram string, every digest, a distinct pass and
  * a full O(n log n) sort — all interpreted — to keep 4 values. The
  * r9 sf1 rehearsal measured it as the one repeatable >10x/10x
  * outlier (16.7x, 34 s). This kernel keeps a k-slot insertion buffer
  * (O(n·k), k=4) and allocates no arrays; the emitted fingerprint is
  * byte-identical, so the DuckDB oracle is untouched.
  *
  * Contract edges mirrored from the HOF chain: text shorter than
  * `gram` -> no grams -> null; fewer than `k` distinct digests ->
  * `concat` hits a null `element_at` -> null.
  */
case class MinKGramHashExpression(child: Expression, gram: Int, stride: Int,
                                  k: Int) extends UnaryKernel {

  require(gram >= 1 && stride >= 1 && k >= 1,
    "minKGramHash: gram, stride, k must all be >= 1")

  override def dataType: DataType = StringType
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def nullableResult: Boolean = true

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): Any = {
    val n = text.numChars()
    if (n < gram) return null
    val md = MessageDigest.getInstance("MD5")
    // insertion buffer of the k smallest distinct digests, ascending
    val top = new Array[String](k)
    var filled = 0
    var off = 0
    while (off <= n - gram) {
      md.reset()
      md.update(text.substring(off, off + gram).getBytes)
      val h = hex(md.digest())
      // find insertion point; drop duplicates and values >= current kth
      if (filled < k || h.compareTo(top(filled - 1)) < 0) {
        var lo = 0
        var dup = false
        while (lo < filled && !dup && top(lo).compareTo(h) < 0) lo += 1
        dup = lo < filled && top(lo) == h
        if (!dup) {
          val last = math.min(filled, k - 1)
          var j = last
          while (j > lo) { top(j) = top(j - 1); j -= 1 }
          top(lo) = h
          if (filled < k) filled += 1
        }
      }
      off += stride
    }
    if (filled < k) return null // HOF parity: concat over a null element_at
    md.reset()
    var i = 0
    while (i < k) {
      md.update(top(i).getBytes("UTF-8"))
      i += 1
    }
    UTF8String.fromString(hex(md.digest()))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinKGramHashExpression {
  def fingerprint(text: Column, gram: Int, stride: Int, k: Int): Column =
    ColumnBridge.column(MinKGramHashExpression(
      ColumnBridge.expression(text), gram, stride, k))
}
