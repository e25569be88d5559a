package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.integrate.{PairFeaturesExpression, ValidatorConfig}
import graft.llmdata.{DotProductExpression, GopherSignalsExpression,
  MinHashSignatureExpression, MinKGramHashExpression, MaxGramFreqExpression,
  PiiScanExpression, QuantizeInt8Expression, SimHashExpression, TextAnalysis,
  TokenStatsExpression, WinnowSelectExpression}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql(...)` users
  * (and SQL-only surfaces like thriftserver/notebooks) reach the same
  * codegen kernels the DataFrame API uses. [[GraftExtensions.functions]]
  * is the one table of them; `DESCRIBE FUNCTION` shows each usage.
  *
  * (Kernels whose config is a string collection — the token-profile
  * marker sets — stay DataFrame-only; SQL literals can't carry the
  * set bitmask config naturally.) Int parameters must be literals,
  * like `graft_minhash`'s k.
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.core.GraftExtensions")` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  * This is the (c) extension path of the build brief — only the
  * kernels that genuinely cannot be expressed with built-in operators
  * live here; everything else in the engine is plain Catalyst.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.build))
    }
}

object GraftExtensions {

  /** The arguments of one call, for a builder: `intLit(i)` is argument
    * `i` as an int literal, named after its parameter when it is not one.
    */
  private[core] final class Args(fn: String, params: Seq[String], args: Seq[Expression]) {
    def apply(i: Int): Expression = args(i)
    def intLit(i: Int): Int = args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: ${params(i)} must be an int literal, got $other")
    }
  }

  /** One SQL function: `name(params) - what` is its usage, and
    * `params` also fixes its arity.
    */
  private[core] final class SqlFunction(val name: String, params: String, what: String)(
      kernel: Args => Expression) {
    private val paramNames = params.split(", ").toSeq
    def usage: String = s"$name($params) - $what"
    def build(args: Seq[Expression]): Expression = {
      require(args.size == paramNames.size,
        s"$name expects ${paramNames.size} arguments ($params), got ${args.size}")
      kernel(new Args(name, paramNames, args))
    }
  }

  private val balanced = ValidatorConfig.balanced

  private[core] val functions: Seq[SqlFunction] = Seq(
    new SqlFunction("graft_dot", "a, b",
      "sequential dot product of two double arrays")(
      a => DotProductExpression(a(0), a(1))),
    new SqlFunction("graft_minhash", "shingles, k",
      "k-hash MinHash signature (hex strings)")(
      a => MinHashSignatureExpression(a(0), a.intLit(1))),
    new SqlFunction("graft_pair_features", "a, b",
      "26-feature similarity-join kernel struct")(
      a => PairFeaturesExpression(a(0), a(1),
        balanced.epsilon, balanced.closeTolerance, balanced.veryCloseTolerance)),
    new SqlFunction("graft_token_stats", "text",
      "[n_ws_tokens, n_bpe_tokens] in one byte scan")(
      a => TokenStatsExpression(a(0))),
    new SqlFunction("graft_pii_scan", "text",
      "struct(n_emails, n_phones, redacted)")(
      a => PiiScanExpression(a(0))),
    new SqlFunction("graft_gopher_signals", "text",
      "the 9 Gopher-rule counters in one byte scan")(
      a => GopherSignalsExpression(a(0), TextAnalysis.gopherStops)),
    new SqlFunction("graft_simhash", "text, bits",
      "SimHash signature over distinct tokens")(
      a => SimHashExpression(a(0), a.intLit(1))),
    new SqlFunction("graft_quantize_int8", "v",
      "struct(scale, q_csv, max_abs_err)")(
      a => QuantizeInt8Expression(a(0))),
    new SqlFunction("graft_fingerprint_mink", "text, gram, stride, k",
      "min-k gram-hash sketch id")(
      a => MinKGramHashExpression(a(0), a.intLit(1), a.intLit(2), a.intLit(3))),
    new SqlFunction("graft_max_gram_freq", "words, k",
      "frequency of the most frequent word k-gram")(
      a => MaxGramFreqExpression(a(0), a.intLit(1))),
    new SqlFunction("graft_winnow_select", "shingles, gram, window",
      "winnowed fingerprint hashes")(
      a => WinnowSelectExpression(a(0), a.intLit(1), a.intLit(2))))
}
