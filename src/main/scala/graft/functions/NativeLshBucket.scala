package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen sign-LSH bucket id: bit i = (vec · planes(i)) > 0.
  *
  * The compiled twin of the HOF formulation in [[CosineLsh.bucketHof]]
  * (when(aggregate(zip_with(...)) > 0, 1 << i) summed per plane):
  * HigherOrderFunctions are CodegenFallback — interpreted per element —
  * and the bucket tree is re-evaluated once PER PROBE KEY inside
  * multiProbeBuckets' array constructor, so a depth-2/11-plane keying ran
  * ~47k interpreted lambda ops per row (measured 119 s for a 20k-vector
  * corpus, SCALE.md "ANN recall ladder"; the CosineLsh scaladoc's "bucketize is
  * codegen'd" claim was aspirational until this class). This expression
  * is one compiled nPlanes × dim multiply-add loop; the plane matrix
  * rides the plan as a reference object, broadcast with the task binary.
  *
  * Semantics: strict dot > 0 sets the bit (ties clear, like the HOF);
  * NULL vector ⇒ NULL; a vector whose length differs from the plane
  * width ⇒ NULL (the HOF silently collapsed that degenerate to bucket 0 —
  * dim misconfiguration now surfaces as null keys instead of one
  * mega-bucket). Elements read in their own precision (float/double),
  * accumulation in double.
  */
case class LshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  require(planes.nonEmpty && planes.length <= 30,
    s"plane count must be in [1, 30], got ${planes.length}")

  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> or ARRAY<DOUBLE> argument, got ${dt.sql}")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = planes(0).length
    if (v.numElements() != dim) return null
    val dbl = isDoubleArr(child.dataType)
    var bucket = 0
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0d
      var i = 0
      while (i < dim) {
        val x = if (dbl) v.getDouble(i) else v.getFloat(i).toDouble
        dot += x * plane(i)
        i += 1
      }
      if (dot > 0d) bucket |= (1 << p)
      p += 1
    }
    java.lang.Integer.valueOf(bucket)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val getter =
      if (isDoubleArr(child.dataType)) (a: String, i: String) => s"$a.getDouble($i)"
      else (a: String, i: String) => s"(double) $a.getFloat($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      val plane = ctx.freshName("plane")
      s"""
         |final int $dim = $planesRef[0].length;
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $bucket = 0;
         |  for (int $p = 0; $p < $planesRef.length; $p++) {
         |    final double[] $plane = $planesRef[$p];
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $dot += ${getter(a, i)} * $plane[$i];
         |    }
         |    if ($dot > 0.0) $bucket |= (1 << $p);
         |  }
         |  ${ev.value} = $bucket;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)

  override def prettyName: String = "lsh_bucket_native"
}
