package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler kernel shared by interpreted eval and generated code.
  *
  * Semantics pinned to the de-facto standard the DuckDB oracle implements
  * (probed, see JaroSpec + tools/jaro_ab.py): match window floor(max/2)-1
  * (window 0 still admits same-position matches), transpositions = half
  * the out-of-order matched positions (INTEGER division), EITHER empty
  * string → 0.0 (not the 1.0 some textbook variants give for both-empty),
  * Winkler boost jw = j + l·0.1·(1-j) with l = common prefix capped at 4,
  * applied only when j > 0.7.
  *
  * The kernel runs over UTF-8 BYTES, not chars: the oracle measures
  * length / match positions / prefix in its string's raw UTF-8 units
  * (probed across BMP, non-BMP, and mixed alphabets — a byte-level twin
  * is bit-exact on all, a code-point or UTF-16 twin diverges on ~70% of
  * non-ASCII pairs). UTF8String's backing array IS UTF-8, so operating on
  * bytes is both the bit-exact semantics for every input and cheaper than
  * materializing a java.lang.String per row.
  */
object JaroImpl {

  def jaro(sa: Array[Byte], sb: Array[Byte]): Double = {
    val la = sa.length
    val lb = sb.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val fa = new Array[Boolean](la)
    val fb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!fb(j) && sb(j) == sa(i)) {
          fa(i) = true; fb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both flag arrays in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (fa(i)) {
        while (!fb(j)) j += 1
        if (sa(i) != sb(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2) / md) / 3.0
  }

  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val sa = a.getBytes
    val sb = b.getBytes
    val j = jaro(sa, sb)
    if (j <= 0.7) return j
    var l = 0
    val max = math.min(4, math.min(sa.length, sb.length))
    while (l < max && sa(l) == sb(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }
}

/** Native codegen Jaro-Winkler similarity between two STRING columns —
  * the fuzzy-match kernel for entity-resolution joins (candidate pairs
  * from a blocking key, this expression as the verify). Both engine paths
  * call the kernel once per row; no UDF conversion, no Row allocation.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryKernel {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"$prettyName requires two STRING arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  def kernel(a: Any, b: Any): Any =
    JaroImpl.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaro_winkler"
}

object NativeJaro
    extends NativeFunction("jaro_winkler", 2)(a => JaroWinkler(a.head, a(1)))
