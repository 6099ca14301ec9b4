package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen cosine similarity over ArrayType(FloatType) or
  * ArrayType(DoubleType) — the §4.3 "custom Catalyst Expression" tier:
  * unlike a Scala UDF (boxing + serialization per row) or the HOF
  * formulation (interpreted lambda per element), this is one tight
  * primitive loop, a JIT-compiled Scala kernel called from the fused
  * whole-stage-codegen stage ([[BinaryKernel]]) — the formulation for
  * the 100 TB hot path.
  *
  * Semantics (single pass, per-accumulator order identical to the HOF /
  * DuckDB mirror, so results are bit-identical):
  *   dot/(sqrt(Σx²)·sqrt(Σy²)); NULL when lengths differ, arrays are
  *   empty, or either norm is zero. Array elements are assumed non-null
  *   (embedding columns; null elements read as 0.0). Each side reads in
  *   its own element precision — a double-typed corpus is never narrowed
  *   to float; accumulation is double either way.
  *
  * SQL names: `cosine_sim_native`, and the convenience name `cosine_sim`
  * ([[SqlNames.Cosine]]), which builds this expression too.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  @transient private lazy val leftDouble = KernelExpression.isDoubleArray(left.dataType)
  @transient private lazy val rightDouble = KernelExpression.isDoubleArray(right.dataType)

  def kernel(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0 || n != y.numElements()) return null
    val xd = leftDouble
    val yd = rightDouble
    var dot = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < n) {
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0d || nb == 0d) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim_native"
}

object NativeCosine
    extends NativeFunction("cosine_sim_native", 2)(a => CosineSim(a.head, a(1)))

/** Cluster entry point: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects, at session build time, the component list
  * [[graft.GraftSession.attach]] installs on a live session — every SQL
  * name, the convenience names of [[SqlNames]] included. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.GraftSession._
    nativeFunctions.foreach(f => ext.injectFunction(f.descriptor))
    optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    plannerStrategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    tableFunctions.foreach(ext.injectTableFunction)
  }
}
