package graft.llmdata

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The chassis every codegen kernel rides ([[UnaryKernel]],
  * [[BinaryKernel]]). A kernel is a plain JVM method `compute` (JIT'd
  * tight loops); the generated code calls it through a reference
  * object, so the surrounding stage stays inside whole-stage codegen
  * instead of falling back to interpreted rows as CodegenFallback
  * would. A kernel class keeps only `compute`, `nullSafeEval`'s casts,
  * `dataType`, `inputTypes` and `withNewChild*`.
  */
sealed trait KernelExpression extends Expression {

  /** One accepted type per child. Arrays match whatever their
    * `containsNull`; any other type must be equal.
    */
  protected def inputTypes: Seq[DataType]

  /** `compute` may return null for a non-null input: it returns a boxed
    * `Object`, and the result is nullable whatever the children are.
    */
  protected def nullableResult: Boolean = false

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = nullableResult || children.exists(_.nullable)

  /** `PqCodesExpression` -> `pqCodes`: names the kernel in type errors
    * and in the generated code.
    */
  private def kernelName: String = {
    val s = nodeName.stripSuffix("Expression")
    s"${s.head.toLower}${s.tail}"
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepts(want: DataType, got: DataType) = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }
    val got = children.map(_.dataType)
    if (inputTypes.corresponds(got)(accepts)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$kernelName expects " +
      s"${inputTypes.map(_.catalogString).mkString("(", ", ", ")")}, " +
      s"got ${got.map(_.catalogString).mkString("(", ", ", ")")}")
  }

  /** `value = kernel.compute(args)`; a null from a nullable result sets
    * `isNull` instead.
    */
  protected def computeCall(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val kernel = ctx.addReferenceObj(kernelName, this, getClass.getName)
    val call = s"$kernel.compute(${args.mkString(", ")})"
    if (!nullableResult) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("r")
      s"""Object $r = $call;
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r; }""".stripMargin
    }
  }
}

trait UnaryKernel extends UnaryExpression with KernelExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => computeCall(ctx, ev, a))
}

trait BinaryKernel extends BinaryExpression with KernelExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => computeCall(ctx, ev, a, b))
}
