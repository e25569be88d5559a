package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole [[TextAnalysis.redactPii]] contract in one JIT'd byte
  * scan: returns `struct(n_emails, n_phones, redacted)`,
  * value-identical to
  *
  *   - `size(regexp_extract_all(text, emailPattern))`,
  *   - `size(regexp_extract_all(text, phonePattern))`  (both counted
  *     over the ORIGINAL text), and
  *   - `regexp_replace(regexp_replace(text, email, '<EMAIL>'),
  *     phone, '<PHONE>')` — phones replaced over the email-redacted
  *     string, exactly as the nested spelling composes.
  *
  * Why an expression: the regex spelling runs four `java.util.regex`
  * passes per document, two of which materialize every match into an
  * array only to take its length — `text_pii_redact` was the last
  * real >10×/10× CPU entry in the r9 sf1 rehearsal. Both patterns
  * ([[LlmDataParams.emailPattern]] / [[LlmDataParams.phonePattern]])
  * are ASCII-character-class-only, so a byte scan is exact: UTF-8
  * continuation and lead bytes are >= 0x80 and never match any class.
  *
  * Match semantics replicated from `Matcher.find` (leftmost match,
  * resume after the previous match's end), which RE2/DuckDB agrees
  * with on these patterns:
  *
  *   - `[a-z0-9._-]+@[a-z0-9-]+[.][a-z]+`: each quantified class
  *     excludes the literal that follows it, so greedy runs end
  *     exactly where the literal is tested and backtracking can never
  *     succeed — a failed attempt at local-run start `s` fails for
  *     every start inside the run, and the next viable start is the
  *     byte after the run (or after the '@' when the domain/tld part
  *     failed). That makes the scan linear with no regex engine.
  *     E.g. "a@b@c.d" redacts to "a@<EMAIL>": the attempt at 'a'
  *     fails at the second '@', and the retry from 'b' succeeds.
  *   - `[0-9]{3}-[0-9]{3}-[0-9]{4}`: a fixed 12-byte shape tested at
  *     each successive offset.
  */
case class PiiScanExpression(child: Expression) extends UnaryKernel {
  import PiiScanExpression._

  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): InternalRow = {
    val src = s.getBytes
    // Pass 1: count + replace emails over the original bytes.
    val r1 = new java.io.ByteArrayOutputStream(src.length + 16)
    var nEmails = 0L
    var prev = 0
    var m = findEmail(src, 0)
    while (m >= 0) {
      val st = (m >>> 32).toInt
      val en = (m & 0xFFFFFFFFL).toInt
      r1.write(src, prev, st - prev)
      r1.write(EmailToken, 0, EmailToken.length)
      nEmails += 1
      prev = en
      m = findEmail(src, en)
    }
    r1.write(src, prev, src.length - prev)
    // Pass 2: count phones over the ORIGINAL bytes (the extract_all
    // side of the contract sees pre-redaction text).
    var nPhones = 0L
    m = findPhone(src, 0)
    while (m >= 0) { nPhones += 1; m = findPhone(src, (m & 0xFFFFFFFFL).toInt) }
    // Pass 3: replace phones over the email-redacted bytes (the
    // nested-replace side composes; counts and replacements may
    // legitimately differ, e.g. a phone-shaped local part).
    val mid = r1.toByteArray
    val r2 = new java.io.ByteArrayOutputStream(mid.length)
    prev = 0
    m = findPhone(mid, 0)
    while (m >= 0) {
      val st = (m >>> 32).toInt
      val en = (m & 0xFFFFFFFFL).toInt
      r2.write(mid, prev, st - prev)
      r2.write(PhoneToken, 0, PhoneToken.length)
      prev = en
      m = findPhone(mid, en)
    }
    r2.write(mid, prev, mid.length - prev)
    new GenericInternalRow(Array[Any](
      nEmails, nPhones, UTF8String.fromBytes(r2.toByteArray)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PiiScanExpression {
  private val EmailToken = "<EMAIL>".getBytes("UTF-8")
  private val PhoneToken = "<PHONE>".getBytes("UTF-8")

  @inline private def isLocal(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
      b == '.' || b == '_' || b == '-'
  @inline private def isDomain(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '-'
  @inline private def isTld(b: Byte): Boolean = b >= 'a' && b <= 'z'
  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Leftmost email match at or after `from0`, packed `start << 32 | end`;
    * -1 when none. See the class scaladoc for why the skip rules are
    * exactly `Matcher.find`'s behavior on this pattern.
    */
  private[llmdata] def findEmail(b: Array[Byte], from0: Int): Long = {
    val n = b.length
    var i = from0
    while (i < n) {
      if (!isLocal(b(i))) i += 1
      else {
        val s = i
        var j = i + 1
        while (j < n && isLocal(b(j))) j += 1 // local run [s, j)
        if (j < n && b(j) == '@') {
          var k = j + 1
          while (k < n && isDomain(b(k))) k += 1 // domain run [j+1, k)
          if (k > j + 1 && k < n && b(k) == '.') {
            var t = k + 1
            while (t < n && isTld(b(t))) t += 1 // tld run [k+1, t)
            if (t > k + 1) return (s.toLong << 32) | t.toLong
          }
          // Domain or tld failed: every start inside [s, j] fails the
          // same way; the next candidate is the byte after the '@'.
          i = j + 1
        } else {
          // Run not followed by '@': no start inside it can match.
          i = j + 1
        }
      }
    }
    -1L
  }

  /** Leftmost `ddd-ddd-dddd` match at or after `from0`, packed like
    * [[findEmail]]; -1 when none.
    */
  private[llmdata] def findPhone(b: Array[Byte], from0: Int): Long = {
    val n = b.length
    var i = from0
    while (i + 12 <= n) {
      if (isDigit(b(i)) && isDigit(b(i + 1)) && isDigit(b(i + 2)) &&
          b(i + 3) == '-' &&
          isDigit(b(i + 4)) && isDigit(b(i + 5)) && isDigit(b(i + 6)) &&
          b(i + 7) == '-' &&
          isDigit(b(i + 8)) && isDigit(b(i + 9)) && isDigit(b(i + 10)) &&
          isDigit(b(i + 11))) {
        return (i.toLong << 32) | (i + 12).toLong
      }
      i += 1
    }
    -1L
  }

  def piiScan(text: Column): Column =
    ColumnBridge.column(PiiScanExpression(ColumnBridge.expression(text)))
}
