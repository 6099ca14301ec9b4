package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen EXACT integer dot product over two ArrayType(LongType)
  * columns — the verify kernel for scaled-integer vector audits
  * (q_lsh_eval's all-pairs cosine ground truth). The HOF formulation
  * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`)
  * runs two interpreted lambdas per element and allocates the zipped
  * array per pair — measured ~6 s for 600k 64-dim pairs; this is one
  * primitive multiply-add loop, a JIT-compiled Scala kernel called from
  * the fused whole-stage-codegen stage ([[BinaryKernel]]).
  *
  * Semantics (identical to the HOF twin and the DuckDB mirror):
  * Σ aᵢ·bᵢ as BIGINT; NULL when lengths differ, and NULL when EITHER
  * array carries a NULL element — identical in the interpreted and the
  * codegen path, so a globally registered SQL function cannot crash or
  * silently diverge depending on which engine path runs (the
  * interpreted path used to unbox a GenericArrayData null into an NPE
  * while codegen read a 0 from an UnsafeArrayData null slot; both now
  * run the one kernel). The kernel checks each element ONLY when the
  * static array type admits null elements (containsNull) — a
  * containsNull=false input runs the unguarded multiply-add loop, the
  * codegen'd form of which measured ~20% faster on
  * q_lsh_eval's 600k×64 hot loop, which is why that query builds its
  * vectors non-null-typed (ifnull inside the transform lambda). An
  * input that VIOLATES containsNull=false is outside the type contract
  * (undefined across all of Spark, not just here).
  * Overflow is the caller's bound to prove (scaled ±2^m entries give
  * |dot| ≤ n·2^2m — q_lsh_eval's ±11k over 64 dims is < 2^33).
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  /** True when either input's STATIC type admits null elements — only
    * then does the kernel check each element (see the class doc). */
  @transient private lazy val guardNulls: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })

  def kernel(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val guard = guardNulls
    var dot = 0L; var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i))) return null
      dot += x.getLong(i) * y.getLong(i); i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_long_native"
}

object NativeDot
    extends NativeFunction("dot_long_native", 2)(a => DotLong(a.head, a(1)))
