package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Set-Jaccard kernel behind [[TokenSetJaccard]] (one call per row from
  * the interpreted eval and the generated code alike, no per-element
  * lambda interpretation). Inputs are treated as SETS
  * (duplicates collapse). Returns NaN for the undefined 0/0 case, which
  * the expression maps to NULL. */
object JaccardImpl {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return Double.NaN
    val setA = new java.util.HashSet[UTF8String](Math.max(4, na * 2))
    var i = 0
    while (i < na) { setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String](Math.max(4, nb * 2))
    var inter = 0
    i = 0
    while (i < nb) {
      val s = b.getUTF8String(i)
      if (setB.add(s) && setA.contains(s)) inter += 1
      i += 1
    }
    val union = setA.size + setB.size - inter
    inter.toDouble / union
  }
}

/** Native codegen Jaccard similarity between two ARRAY<STRING> columns
  * treated as sets — the hot kernel of near-duplicate joins (|A∩B| and
  * |A∪B| in one pass, no intermediate intersection array, vs two
  * interpreted array_intersect calls per candidate pair). */
case class TokenSetJaccard(left: Expression, right: Expression)
    extends BinaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def kernel(a: Any, b: Any): Any = {
    val r = JaccardImpl.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(r)) null else java.lang.Double.valueOf(r)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenSetJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "token_set_jaccard"
}

object NativeJaccard
    extends NativeFunction("token_set_jaccard", 2)(a => TokenSetJaccard(a.head, a(1)))
