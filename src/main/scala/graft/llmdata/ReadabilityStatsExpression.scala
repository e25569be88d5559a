package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The three [[TextAnalysis.readability]] counts — tokens, sentence
  * terminators (floored at 1), vowel-group syllables — in ONE JIT'd
  * byte pass, value-identical to the HOF spelling (spec-pinned):
  * `split(' ')` token count is spaces+1; a syllable starts at a
  * vowel char whose predecessor is not a vowel; sentences are `.!?`
  * occurrences.
  *
  * Why an expression: the HOF spelling allocates a `sequence(1, len)`
  * index array and runs an interpreted lambda PER CHARACTER of every
  * word — the r14 sf1 rehearsal measured it at 7.8x for 10x data
  * (compute-bound, zero parallel slack), the same interpreted-lambda
  * cliff the shingle kernel closed in r14's first wave.
  *
  * Byte-scan exactness: every character the scan inspects (vowels
  * `aeiou`, space, `.!?`) is single-byte ASCII, and UTF-8
  * continuation/lead bytes are >= 0x80, so a byte can equal one of
  * them only when the CHARACTER does — byte-wise predecessor checks
  * return exactly the char-wise HOF verdict on any UTF-8 input.
  * Output: array<bigint> [n_tokens, n_sentences, n_syllables].
  */
case class ReadabilityStatsExpression(child: Expression)
    extends UnaryKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  private def isVowel(b: Byte): Boolean =
    b == 'a' || b == 'e' || b == 'i' || b == 'o' || b == 'u'

  def compute(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    var tokens = 1L
    var sentences = 0L
    var syllables = 0L
    var prevVowel = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val v = isVowel(b)
      if (v && !prevVowel) syllables += 1
      if (b == ' ') tokens += 1
      else if (b == '.' || b == '!' || b == '?') sentences += 1
      prevVowel = v
      i += 1
    }
    if (sentences < 1L) sentences = 1L
    new GenericArrayData(Array(tokens, sentences, syllables))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ReadabilityStatsExpression {
  def stats(text: Column): Column =
    ColumnBridge.column(ReadabilityStatsExpression(
      ColumnBridge.expression(text)))
}
