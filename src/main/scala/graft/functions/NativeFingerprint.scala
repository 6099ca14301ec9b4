package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for the portable rolling document fingerprint — the exact value
  * of the HOF formulation in DedupQueries.fpExpr / its DuckDB oracle:
  *   tokhash(w) = foldl (a,c) -> (a*31 + codepoint(c)) mod 1e9+7
  *   docfp      = foldl (d,h) -> (d*131 + tokhash) mod 1e9+7  (' ' splits)
  * Tokens are space-separated; consecutive/leading/trailing spaces hash
  * empty tokens as 0, matching split(text, ' ') semantics on both engines.
  * Walks code points (ascii()/ASCII() return the code point of the first
  * char in both Spark and DuckDB). */
object FingerprintImpl {
  private final val P = 1000000007L

  def compute(s: UTF8String): Long = {
    val str = s.toString
    var d = 0L
    var t = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp == 32) { d = (d * 131 + t) % P; t = 0L }
      else t = (t * 31 + cp) % P
      i += Character.charCount(cp)
    }
    (d * 131 + t) % P
  }
}

/** Native codegen rolling fingerprint over a STRING column — promoted
  * from the HOF fold per SURVEY.md §4.3 after it profiled as the slowest
  * oracle query (interpreted per-char lambdas): one kernel call per row
  * inside whole-stage codegen, ~an order of magnitude less overhead. */
case class RollingFingerprint(child: Expression) extends UnaryKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  def kernel(input: Any): Any =
    FingerprintImpl.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)

  override def prettyName: String = "rolling_fingerprint"
}

object NativeFingerprint
    extends NativeFunction("rolling_fingerprint", 1)(a => RollingFingerprint(a.head))
