package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen sign-LSH bucket id: bit i = (vec · planes(i)) > 0.
  *
  * The compiled twin of the HOF formulation
  * (when(aggregate(zip_with(...)) > 0, 1 << i) summed per plane; its
  * mirror in the test sources is `HofMirrors.lshBucket`):
  * HigherOrderFunctions are CodegenFallback — interpreted per element —
  * and the bucket tree is re-evaluated once PER PROBE KEY inside
  * multiProbeBuckets' array constructor, so a depth-2/11-plane keying ran
  * ~47k interpreted lambda ops per row (measured 119 s for a 20k-vector
  * corpus, SCALE.md "ANN recall ladder"; the CosineLsh scaladoc's "bucketize is
  * codegen'd" claim was aspirational until this class). This expression
  * is one nPlanes × dim multiply-add loop, a JIT-compiled Scala kernel
  * called from the fused stage ([[UnaryKernel]]); the plane matrix rides
  * the plan inside the expression, broadcast with the task binary.
  *
  * Semantics: strict dot > 0 sets the bit (ties clear, like the HOF);
  * NULL vector ⇒ NULL; a vector whose length differs from the plane
  * width ⇒ NULL (the HOF silently collapsed that degenerate to bucket 0 —
  * dim misconfiguration now surfaces as null keys instead of one
  * mega-bucket). Elements read in their own precision (float/double),
  * accumulation in double.
  */
case class LshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryKernel {

  require(planes.nonEmpty && planes.length <= 30,
    s"plane count must be in [1, 30], got ${planes.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> or ARRAY<DOUBLE> argument, got ${dt.sql}")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  @transient private lazy val readDouble = KernelExpression.isDoubleArray(child.dataType)

  def kernel(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = planes(0).length
    if (v.numElements() != dim) return null
    val dbl = readDouble
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

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)

  override def prettyName: String = "lsh_bucket_native"
}
