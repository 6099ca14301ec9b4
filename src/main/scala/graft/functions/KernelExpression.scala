package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The one codegen shape of the null-safe native expressions: the whole
  * computation is a public Scala method, `kernel`, which the interpreted
  * `nullSafeEval` and the generated code both call — the two engine paths
  * cannot drift, and Scalac checks the loop instead of Janino at run time.
  * The generated code evaluates the children as usual (the stage stays
  * fused), makes one call into the expression, which rides the plan as a
  * reference object, and maps a NULL kernel result to SQL NULL. Loop
  * variants (element precision, null guards) are values the kernel fixes
  * once per expression, a loop-invariant test the JIT can hoist. */
private[functions] object KernelExpression {
  /** Element precision of a float-or-double vector input: the kernels read
    * each side in its own precision and accumulate in double. */
  def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  def call(ctx: CodegenContext, ev: ExprCode, e: Expression,
           args: String*): String = {
    val ref = ctx.addReferenceObj("kernel", e)
    val r = ctx.freshName("r")
    val set = s"${ev.value} = (${CodeGenerator.boxedType(e.dataType)}) $r;"
    s"""final Object $r = $ref.kernel(${args.mkString(", ")});
       |${if (e.nullable) s"if ($r == null) ${ev.isNull} = true; else $set" else set}
       |""".stripMargin
  }
}

/** A null-safe one-input native expression: NULL in ⇒ NULL out, else
  * `kernel(input)` (a null result is SQL NULL). */
trait UnaryKernel extends UnaryExpression {
  def kernel(input: Any): Any

  override protected def nullSafeEval(input: Any): Any = kernel(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => KernelExpression.call(ctx, ev, this, a))
}

/** A null-safe two-input native expression: either input NULL ⇒ NULL,
  * else `kernel(left, right)` (a null result is SQL NULL). */
trait BinaryKernel extends BinaryExpression {
  def kernel(left: Any, right: Any): Any

  override protected def nullSafeEval(left: Any, right: Any): Any =
    kernel(left, right)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelExpression.call(ctx, ev, this, a, b))
}
