package graft.llmdata

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The hashed bag-of-n-grams linear score (the fastText shape, see
  * [[TextAnalysis.hashClassifier]]) in one JIT'd pass: features are
  * the tokens plus adjacent-token bigrams; each feature hashes to 16
  * bits (first two md5 digest bytes — the same positional decode
  * every oracle shares) and contributes `hash % mod - shift`; the
  * score is the exact BIGINT feature sum.
  *
  * Why an expression: the HOF spelling (`aggregate(transform(
  * transform(concat(tokens, bigrams), md5), decode), 0, +)`) evaluates
  * interpreted — three lambda passes and a materialized bigram array
  * per document. This kernel reuses one MessageDigest and never
  * materializes the feature list, in the [[WinnowSelectExpression]] /
  * [[MinHashSignatureExpression]] mold; sums are value-identical
  * (md5 is md5, integer % and the sum are order-free), so the DuckDB
  * oracles are untouched.
  *
  * Null handling mirrors the HOF chain: a null token made the feature
  * (and so the whole aggregate) null — the kernel returns null if any
  * token is null. `split` never produces nulls, so this is the
  * contract edge, not a hot path.
  */
case class HashedNgramScoreExpression(child: Expression, mod: Int, shift: Int)
    extends UnaryKernel {

  require(mod >= 1, "hashedNgramScore: mod must be >= 1")

  override def dataType: DataType = LongType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override protected def nullableResult: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(tokens: ArrayData): Any = {
    val n = tokens.numElements()
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null // null feature -> null aggregate
      tokBytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val md = MessageDigest.getInstance("MD5")
    var score = 0L
    def add(d: Array[Byte]): Unit = {
      val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      score += (h % mod - shift).toLong
    }
    i = 0
    while (i < n) {
      md.reset()
      md.update(tokBytes(i))
      add(md.digest())
      i += 1
    }
    i = 0
    while (i < n - 1) { // adjacent bigrams, joined by one space
      md.reset()
      md.update(tokBytes(i))
      md.update(' '.toByte)
      md.update(tokBytes(i + 1))
      add(md.digest())
      i += 1
    }
    score
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedNgramScoreExpression {
  def score(tokens: Column, mod: Int, shift: Int): Column =
    ColumnBridge.column(HashedNgramScoreExpression(
      ColumnBridge.expression(tokens), mod, shift))
}
