package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** The most-frequent-k-gram count ([[TextAnalysis.repetitionSignals]])
  * in one JIT'd pass: word `k`-grams (tokens joined by one space) are
  * hash-counted and the max count returned — value-identical to the
  * HOF spelling's "longest equal run over `array_sort`ed grams"
  * (equal grams sort adjacent, so the longest run IS the max
  * frequency), without materializing the gram array or sorting it.
  *
  * Why an expression: the HOF chain ran two interpreted
  * `array_sort` + `aggregate` passes per document (one per gram
  * width), each allocating a 3-field struct per gram — the heaviest
  * remaining text-analysis cost in the r9 sf1 rehearsal after the
  * fingerprint kernel. Contract edges mirrored exactly: fewer than
  * `k` tokens -> no grams -> 0 (the fold over an empty array returns
  * its seed's `best`), and a null token is SKIPPED inside its gram
  * (`concat_ws` semantics), not null-poisoning.
  */
case class MaxGramFreqExpression(child: Expression, k: Int)
    extends UnaryKernel {

  require(k >= 1, "maxGramFreq: k must be >= 1")

  override def dataType: DataType = IntegerType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(tokens: ArrayData): Int = {
    val n = tokens.numElements()
    if (n < k) return 0
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      // concat_ws skips nulls: a null token contributes nothing to
      // its gram, so null maps to "" only via the join below
      toks(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).toString
      i += 1
    }
    val counts = new java.util.HashMap[String, Integer]()
    var best = 0
    val sb = new java.lang.StringBuilder()
    i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < k) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) sb.append(' ')
          sb.append(t)
          first = false
        }
        j += 1
      }
      val g = sb.toString
      val c = counts.merge(g, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MaxGramFreqExpression {
  def maxFreq(tokens: Column, k: Int): Column =
    ColumnBridge.column(MaxGramFreqExpression(
      ColumnBridge.expression(tokens), k))
}
