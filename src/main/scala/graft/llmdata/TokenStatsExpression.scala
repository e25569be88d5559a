package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Both [[TextAnalysis.tokenCounts]] tokenizer counts in one JIT'd
  * pass over the raw UTF-8 bytes: returns `[n_ws_tokens,
  * n_bpe_tokens]` (array<bigint>), value-identical to
  * `size(split(text, ' '))` and
  * `size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))`.
  *
  * Why an expression: the regex spelling materializes every matched
  * token string into an array per document only to take its length —
  * `text_token_count` was ~10× for 10× data at the r9 sf1 rehearsal,
  * all of it `java.util.regex` + allocation churn. Both counts are
  * pure byte-scan arithmetic:
  *
  *  - `split(text, ' ')` (Spark limit -1 keeps trailing empties)
  *    yields exactly `#spaces + 1` fields; 0x20 never appears in
  *    UTF-8 continuation bytes, so a byte count is a char count.
  *  - The BPE-ish alternation's classes are disjoint, so its match
  *    count is: one per maximal `[a-z]` run + one per maximal `[0-9]`
  *    run + one per code point outside `[a-z0-9 ]` (Java and RE2 char
  *    classes both match single code points; a multi-byte sequence
  *    counts once via its leading byte).
  */
case class TokenStatsExpression(child: Expression) extends UnaryKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): GenericArrayData = {
    val n = s.numBytes()
    var spaces = 0L
    var bpe = 0L
    // 0 = none/space/other, 1 = in a letter run, 2 = in a digit run
    var run = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == 0x20) { spaces += 1; run = 0 }
      else if (b >= 'a' && b <= 'z') { if (run != 1) bpe += 1; run = 1 }
      else if (b >= '0' && b <= '9') { if (run != 2) bpe += 1; run = 2 }
      else if ((b & 0xC0) != 0x80) { bpe += 1; run = 0 } // ASCII other or lead byte
      // else: UTF-8 continuation byte of an already-counted code point
      i += 1
    }
    new GenericArrayData(Array[Any](spaces + 1L, bpe))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStatsExpression {
  def tokenStats(text: Column): Column =
    ColumnBridge.column(TokenStatsExpression(ColumnBridge.expression(text)))
}
