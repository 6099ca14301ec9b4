package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL face every native codegen expression shares: a function name,
  * a fixed arity and the expression's constructor. The companion objects
  * (`NativeCosine`, `NativeDot`, ...) extend this; [[graft.GraftSession]]
  * lists them, so `attach` and [[GraftExtensions]] register the same set. */
abstract class NativeFunction[E <: Expression: ClassTag](
    val name: String, arity: Int)(make: Seq[Expression] => E) {

  private val info =
    new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName, name)

  private val builder: FunctionBuilder = { args =>
    require(args.length == arity,
      s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
    make(args)
  }

  /** Descriptor for SparkSessionExtensions.injectFunction. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), info, builder)

  /** Idempotent in-session registration (library path, no extensions). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
