package graft.llmdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Every per-token count [[TextAnalysis.qualityScore]] /
  * [[TextAnalysis.languageId]] / [[TextAnalysis.curate]] needs, in one
  * JIT'd pass over the raw UTF-8 bytes: returns
  * `[n_tokens, n_distinct, tot_len, n_stop, s_0 .. s_{k-1}]`
  * (array<bigint>, one `s_i` per marker set), value-identical to the
  * `split` + `array_distinct` + `aggregate` + k× `filter(t -> t IN
  * (...))` spelling it replaces.
  *
  * Why an expression: the HOF spelling tokenizes once but then runs
  * 3 + k interpreted lambda passes over the materialized token array
  * per document (`text_langid` alone ran five `filter` passes) —
  * together the last interpreted CPU in the text family at the r9 sf1
  * rehearsal. Each output is one-pass byte arithmetic:
  *
  *  - tokens are the byte runs between 0x20 bytes (split keeps empty
  *    fields, so `n_tokens` = #spaces + 1 — 0x20 never appears in
  *    UTF-8 continuation bytes);
  *  - `n_distinct` uses exact token equality (a hash set of token
  *    slices — no hashing shortcut, collisions compare bytes);
  *  - `tot_len` (the `aggregate` sum of code-point lengths) is the
  *    document's code-point count minus its space count, since every
  *    non-space code point belongs to exactly one token;
  *  - membership counts share one token -> set-bitmask hash map built
  *    from the constant marker lists (`IN` on string literals is
  *    exact equality, including multi-byte markers like the zh set).
  */
case class TokenProfileExpression(child: Expression, stopwords: Seq[String],
                                  markerSets: Seq[Seq[String]])
    extends UnaryKernel {

  // memberMask packs {stopwords, markerSets...} into an Int bitmask via
  // 1 << bit; past 31 sets the shift wraps silently and membership
  // counts corrupt. Fail loudly instead (30 leaves headroom for the
  // stopword bit). Current callers register at most 5 marker sets.
  require(markerSets.size <= 30,
    s"tokenProfile supports at most 30 marker sets (got ${markerSets.size}): " +
      "memberships are packed into one Int bitmask")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  /** token -> bitmask over {bit 0: stopwords, bit i+1: markerSets(i)}. */
  @transient private lazy val memberMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    def add(tok: String, bit: Int): Unit = {
      val u = UTF8String.fromString(tok)
      val cur = m.getOrDefault(u, 0)
      m.put(u, cur | (1 << bit))
    }
    stopwords.foreach(add(_, 0))
    markerSets.zipWithIndex.foreach { case (ms, i) => ms.foreach(add(_, i + 1)) }
    m
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val nSets = markerSets.length
    val hits = new Array[Long](nSets + 1)
    val seen = new java.util.HashSet[UTF8String]()
    val mask = memberMask
    var nTokens = 0L
    var codePoints = 0L
    var spaces = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        nTokens += 1
        seen.add(tok)
        val bits: Int = mask.getOrDefault(tok, 0)
        if (bits != 0) {
          var b = 0
          while (b <= nSets) {
            if ((bits & (1 << b)) != 0) hits(b) += 1
            b += 1
          }
        }
        if (i < n) spaces += 1
        start = i + 1
      }
      if (i < n && (bytes(i) & 0xC0) != 0x80) codePoints += 1
      i += 1
    }
    val out = new Array[Any](4 + nSets)
    out(0) = nTokens
    out(1) = seen.size.toLong
    out(2) = codePoints - spaces
    out(3) = hits(0)
    var k = 0
    while (k < nSets) { out(4 + k) = hits(k + 1); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenProfileExpression {
  /** `[n_tokens, n_distinct, tot_len, n_stop, s_0 .. s_{k-1}]`. */
  def tokenProfile(text: Column, stopwords: Seq[String],
                   markerSets: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenProfileExpression(
      ColumnBridge.expression(text), stopwords, markerSets))
}
