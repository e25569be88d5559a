package graft.enrich

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

/** Safe expression DSL replacing the reference's RestrictedPython
  * `custom_*` features (reference: transform/enrichment.py:31-93 exec
  * sandbox; dsl_validator.py:26-51 contract; sandbox security tests
  * transform/tests/test_custom_features.py:191-326).
  *
  * Contract preserved: a custom feature supplies `code` + `as`, the
  * code is syntax-checked before execution, and execution yields one
  * named output column evaluated row-wise over the frame. The language
  * is a Spark SQL scalar expression validated against an allow-list by
  * walking the parsed Catalyst tree — arbitrary code, file access,
  * reflection, subqueries and UDF invocation are rejected at
  * validation time (the rebuild's analogue of the reference's
  * RestrictedPython sandbox).
  */
object SafeExprDsl {

  /** Function names a custom expression may call (lower-case). */
  val allowedFunctions: Set[String] = Set(
    // math
    "abs", "sqrt", "cbrt", "exp", "expm1", "ln", "log", "log10", "log1p", "log2",
    "pow", "power", "round", "bround", "floor", "ceil", "ceiling", "sign", "signum",
    "mod", "pmod", "negative", "positive", "sin", "cos", "tan", "asin", "acos",
    "atan", "atan2", "sinh", "cosh", "tanh", "degrees", "radians", "pi", "e",
    // null / conditional
    "coalesce", "nullif", "nvl", "nvl2", "if", "ifnull", "isnull", "isnotnull", "nanvl",
    // comparison helpers
    "greatest", "least",
    // string
    "lower", "upper", "trim", "ltrim", "rtrim", "length", "concat", "concat_ws",
    "substring", "substr", "replace", "instr", "lpad", "rpad", "left", "right",
    "startswith", "endswith", "contains", "split", "regexp_replace", "regexp_extract",
    // date/time scalar
    "year", "month", "day", "dayofmonth", "dayofweek", "dayofyear", "hour", "minute",
    "second", "weekofyear", "quarter", "last_day", "date_add", "date_sub", "datediff",
    "to_date", "to_timestamp", "unix_timestamp", "timestamp_micros", "timestamp_millis",
    // casts
    "cast", "double", "int", "bigint", "string")

  /** Full allow-list validation: parse, then require every node in the
    * tree to be a whitelisted construct. */
  def validate(code: String): Either[String, Expression] = {
    val parsed = try CatalystSqlParser.parseExpression(code) catch {
      case NonFatal(e) => return scala.util.Left(s"Invalid expression syntax: ${firstLine(e.getMessage)}")
    }
    val bad = parsed.collectFirst {
      case f: UnresolvedFunction if !allowedFunctions.contains(funcName(f)) =>
        s"Function '${funcName(f)}' is not allowed in custom features."
      case _: UnresolvedStar => "'*' is not allowed in custom features."
      case e if !allowedNode(e) =>
        s"Construct '${e.getClass.getSimpleName}' is not allowed in custom features."
    }
    bad.toLeft(parsed)
  }

  /** Compiles validated code to a named Column. */
  def compile(code: String, as: String): org.apache.spark.sql.Column =
    validate(code) match {
      case scala.util.Right(_) => org.apache.spark.sql.functions.expr(code).as(as)
      case scala.util.Left(err) => throw new IllegalArgumentException(err)
    }

  private def funcName(f: UnresolvedFunction): String =
    f.nameParts.last.toLowerCase

  private def allowedNode(e: Expression): Boolean = e match {
    case _: Literal | _: UnresolvedAttribute | _: UnresolvedFunction => true
    case _: Add | _: Subtract | _: Multiply | _: Divide | _: IntegralDivide |
         _: Remainder | _: UnaryMinus | _: UnaryPositive => true
    case _: And | _: Or | _: Not | _: EqualTo | _: EqualNullSafe | _: LessThan |
         _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual => true
    case _: In | _: IsNull | _: IsNotNull | _: CaseWhen | _: If => true
    case _: Cast => true
    case _: Coalesce | _: Greatest | _: Least | _: NullIf | _: Nvl => true
    // safety net: parser-internal wrappers of otherwise-allowed children
    case _ => false
  }

  private def firstLine(msg: String): String =
    Option(msg).map(_.linesIterator.next()).getOrElse("parse error")
}
