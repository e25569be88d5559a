package graft.llmdata

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The [[Dedup.simhash]] signature in one JIT'd pass: returns the
  * `simhashBits`-bit SimHash (bigint) over the document's DISTINCT
  * space-split tokens, value-identical to the
  * `transform(transform(array_distinct(split(...)), md5), hex-decode)`
  * + per-bit interpreted `aggregate` spelling it replaces.
  *
  * Why an expression: the HOF spelling materialized the token array,
  * the distinct array, an md5 HEX STRING per distinct token, a decoded
  * value array, and then ran `simhashBits` interpreted fold passes
  * over it (one per output bit) — the last interpreted per-row chain
  * in the dedup family at the r9 sf1 rehearsal. The kernel tokenizes
  * byte runs between 0x20s (split keeps empty fields — the empty
  * token is a distinct member like any other), dedups with an exact
  * token-slice hash set, takes the top TWO MD5 digest bytes directly
  * (== the first 4 hex chars the positional decode reconstructs,
  * big-endian), and accumulates all per-bit +-1 counters in the same
  * single pass.
  */
case class SimHashExpression(child: Expression, bits: Int) extends UnaryKernel {
  require(bits >= 1 && bits <= 16, s"simhash bits must be in [1,16], got $bits")

  override def dataType: DataType = LongType

  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    val md = SimHashExpression.digests.get()
    val seen = new java.util.HashSet[UTF8String]()
    val counts = new Array[Int](bits)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        if (seen.add(tok)) {
          md.reset()
          md.update(bytes, start, i - start)
          val digest = md.digest()
          // first 4 md5 hex chars, big-endian == top two digest bytes
          val v = ((digest(0) & 0xFF) << 8) | (digest(1) & 0xFF)
          var k = 0
          while (k < bits) {
            if (((v >> k) & 1) == 1) counts(k) += 1 else counts(k) -= 1
            k += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < bits) {
      if (counts(k) >= 0) sig |= (1L << k)
      k += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpression {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def simhash(text: Column, bits: Int): Column =
    ColumnBridge.column(SimHashExpression(ColumnBridge.expression(text), bits))
}
