package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native codegen 64-bit SimHash of a token array — the compiled twin of
  * the HOF formulation (aggregate over zip_with over transform; its
  * mirror in the test sources is `HofMirrors.simHashSignature`):
  * HigherOrderFunctions are CodegenFallback, so
  * the HOF builds and interprets a fresh 64-element lambda chain PER TOKEN
  * — measured minutes for a few hundred documents, i.e. unusable as the
  * production signature path. This expression is one tight
  * tokens × 64-bit loop, a JIT-compiled Scala kernel called from the
  * fused whole-stage-codegen stage ([[UnaryKernel]]).
  *
  * Bit-identical to the HOF by construction:
  *   h(token)   = xxhash64(token) (XXH64.hashUTF8String, seed 42 — the
  *                SAME kernel the built-in Column function compiles to;
  *                a NULL token hashes to the seed, exactly like the
  *                built-in's null-skip leaving the running hash at seed)
  *   counter[b] += (h >> b & 1) == 1 ? +1 : −1
  *   sig bit b  =  counter[b] > 0
  * Empty array ⇒ 0L (all counters 0); NULL array ⇒ NULL.
  */
case class SimHashSig(child: Expression) extends UnaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<STRING> argument, got ${dt.sql}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = child.nullable

  def kernel(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)

  override def prettyName: String = "simhash_sig_native"
}

object NativeSimHash
    extends NativeFunction("simhash_sig_native", 1)(a => SimHashSig(a.head))
