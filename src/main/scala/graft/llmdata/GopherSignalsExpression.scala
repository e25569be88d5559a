package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every counter [[TextAnalysis.gopherRules]] needs, in one JIT'd pass
  * over the raw UTF-8 bytes: returns
  * `[n_words, tot_len, alpha_words, hash_chars, ellipsis_runs,
  *   n_lines, bullet_lines, ellipsis_lines, n_stop_distinct]`
  * (array<bigint>), value-identical to the HOF spelling it replaces
  * (two `split`s + `aggregate` + three `filter`s + two `replace`
  * lengths + `array_intersect`), which ran ~6 s at the sf1 rehearsal
  * — the per-word `rlike` was the last interpreted regex in the text
  * family's hot paths.
  *
  * Replicated semantics, byte-exact with the Spark spellings:
  *  - words are the runs between 0x20 bytes (`split(text, " ")` keeps
  *    empty fields → n_words = #spaces + 1; 0x20 never occurs inside
  *    a UTF-8 multi-byte sequence);
  *  - `tot_len` (the `aggregate` sum of per-token code-point lengths)
  *    = total code points - space count;
  *  - `alpha_words` counts words containing any ASCII letter (the
  *    `rlike '[A-Za-z]'` contract — continuation bytes are >= 0x80,
  *    so a byte-range test cannot false-positive inside multi-byte
  *    code points);
  *  - `hash_chars` counts 0x23 bytes; `ellipsis_runs` counts
  *    non-overlapping `...` left-to-right = floor(run/3) per
  *    contiguous dot run (the `replace(text, '...', '')` length
  *    delta / 3);
  *  - lines are the runs between 0x0A bytes; a bullet line has
  *    `-`/`*`/U+2022 as its first non-space byte (the
  *    `startswith(ltrim(x), ...)` contract — ltrim strips 0x20 only);
  *    an ellipsis line ends with `...` after stripping trailing 0x20
  *    (`endswith(rtrim(x), '...')`);
  *  - `n_stop_distinct` counts how many DISTINCT stop words occur as
  *    whole words (the `array_intersect(array_distinct(words), ...)`
  *    length) via a per-stopword presence bitmask.
  */
case class GopherSignalsExpression(child: Expression, stops: Seq[String])
    extends UnaryKernel {

  require(stops.size <= 62, "stop list packs into one Long presence bitmask")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  /** stop word -> its presence bit. */
  @transient private lazy val stopBit: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    stops.zipWithIndex.foreach { case (s, i) =>
      m.put(UTF8String.fromString(s), i)
    }
    m
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val bits = stopBit
    var nWords = 0L
    var codePoints = 0L
    var spaces = 0L
    var alphaWords = 0L
    var hashChars = 0L
    var ellipsisRuns = 0L
    var nLines = 1L
    var bulletLines = 0L
    var ellipsisLines = 0L
    var stopsSeen = 0L
    var wordStart = 0
    var wordHasAlpha = false
    var lineStart = 0
    var dotRun = 0

    def endLine(endExclusive: Int): Unit = {
      // bullet: first non-0x20 byte of the line
      var j = lineStart
      while (j < endExclusive && bytes(j) == 0x20) j += 1
      if (j < endExclusive) {
        val b = bytes(j)
        if (b == '-' || b == '*') bulletLines += 1
        else if ((b & 0xff) == 0xe2 && j + 2 < endExclusive &&
                 (bytes(j + 1) & 0xff) == 0x80 && (bytes(j + 2) & 0xff) == 0xa2)
          bulletLines += 1 // U+2022 bullet
      }
      // ellipsis: last three bytes before trailing spaces
      var e = endExclusive
      while (e > lineStart && bytes(e - 1) == 0x20) e -= 1
      if (e - lineStart >= 3 && bytes(e - 1) == '.' && bytes(e - 2) == '.' &&
          bytes(e - 3) == '.') ellipsisLines += 1
    }

    def endWord(endExclusive: Int): Unit = {
      nWords += 1
      if (wordHasAlpha) alphaWords += 1
      wordHasAlpha = false
      val len = endExclusive - wordStart
      if (len > 0) {
        val tok = UTF8String.fromBytes(bytes, wordStart, len)
        val bit = bits.get(tok)
        if (bit != null) stopsSeen |= 1L << bit.intValue()
      }
    }

    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xC0) != 0x80) codePoints += 1
      if (b == '.') dotRun += 1
      else { ellipsisRuns += dotRun / 3; dotRun = 0 }
      if (b == '#') hashChars += 1
      if (b == 0x20) {
        spaces += 1
        endWord(i)
        wordStart = i + 1
      } else if (b == 0x0A) {
        nLines += 1
        endLine(i)
        lineStart = i + 1
      } else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
        wordHasAlpha = true
      }
      i += 1
    }
    ellipsisRuns += dotRun / 3
    endWord(n)
    endLine(n)

    new GenericArrayData(Array[Any](
      nWords, codePoints - spaces, alphaWords, hashChars, ellipsisRuns,
      nLines, bulletLines, ellipsisLines,
      java.lang.Long.bitCount(stopsSeen).toLong))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherSignalsExpression {
  /** `[n_words, tot_len, alpha_words, hash_chars, ellipsis_runs,
    *   n_lines, bullet_lines, ellipsis_lines, n_stop_distinct]`.
    */
  def signals(text: Column, stops: Seq[String]): Column =
    ColumnBridge.column(GopherSignalsExpression(
      ColumnBridge.expression(text), stops))
}
