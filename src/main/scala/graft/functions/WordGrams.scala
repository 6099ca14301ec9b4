package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen word n-gram (shingle) builder over a token array —
  * the compiled twin of
  * `transform(sequence(1, size(t) - n + 1), i -> array_join(slice(t, i, n), ' '))`
  * (optionally wrapped in `array_distinct`), which is the gram
  * generator on every dedup-family hot path (MinHash shingles, SimHash
  * bigrams, decontamination 5-grams, exact-similarity blocks). The HOF
  * form runs one interpreted lambda per position per row, each
  * allocating a slice array before joining it; this builds each gram
  * with one UTF8String.concatWs over the token window inside
  * JIT-compiled code, and folds the distinct (first-occurrence order,
  * array_distinct's semantics) into the same pass.
  *
  * Semantics identical to the HOF twin (spec-pinned) for the engine's
  * inputs: tokens come from `split(...)` so they are never NULL;
  * defensively, a NULL element is skipped inside its gram exactly as
  * array_join skips NULLs. Returns one gram per window position
  * (size - n + 1; callers guard size ≥ n), containsNull = false.
  */
case class WordGrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryKernel {

  require(n >= 1, s"gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${dt.sql}")
  }

  def kernel(input: Any): Any =
    WordGrams.build(input.asInstanceOf[ArrayData], n, distinct)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {

  /** Column builder: grams of width `n` over a token-array column. */
  def grams(tokens: Column, n: Int, distinct: Boolean): Column =
    org.apache.spark.sql.graftbridge.PlanBridge.column(WordGrams(
      org.apache.spark.sql.graftbridge.PlanBridge.expression(tokens),
      n, distinct))

  private val space = UTF8String.fromString(" ")

  /** The expression's kernel (both engine paths call it). */
  def build(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = tokens.numElements()
    val count = len - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val window = new Array[UTF8String](n)
    if (distinct) {
      // LinkedHashSet = array_distinct's first-occurrence order
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i < count) {
        seen.add(gramAt(tokens, i, n, window))
        i += 1
      }
      new GenericArrayData(seen.toArray)
    } else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        out(i) = gramAt(tokens, i, n, window)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** One gram: tokens[i..i+n) joined by ' ' with NULL elements skipped
    * (array_join's default). */
  private def gramAt(tokens: ArrayData, i: Int, n: Int,
                     window: Array[UTF8String]): UTF8String = {
    var k = 0; var m = 0
    while (k < n) {
      val t = tokens.getUTF8String(i + k)
      if (t != null) { window(m) = t; m += 1 }
      k += 1
    }
    if (m == n) UTF8String.concatWs(space, window: _*)
    else UTF8String.concatWs(space, java.util.Arrays.copyOf(window, m): _*)
  }
}
