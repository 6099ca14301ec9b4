package graft

import graft.functions.LangId
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The HOF (higher-order-function) formulations the native kernels
  * replaced, kept as independent mirrors: FunctionsLibSpec requires each
  * kernel to equal its mirror bit for bit. NOT production paths:
  * HigherOrderFunctions are CodegenFallback, interpreted per element. */
object HofMirrors {

  private val Bits = 64

  /** Mirror of [[graft.functions.SimHash.signature]] (aggregate over
    * zip_with over transform) — minutes for a few hundred documents. */
  def simHashSignature(tokens: Column): Column = {
    val counters = aggregate(
      transform(tokens, t => xxhash64(t)),
      array_repeat(lit(0), Bits),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(Bits - 1)),
          b => when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L,
            lit(1)).otherwise(lit(-1))),
        (x, y) => x + y))
    aggregate(
      sequence(lit(0), lit(Bits - 1)),
      lit(0L),
      (acc, b) => when(element_at(counters, b + 1) > 0,
        acc.bitwiseOR(call_function("shiftleft", lit(1L), b))).otherwise(acc))
  }

  /** dot(vec, literal hyperplane) as a HOF fold. */
  private def dotLit(vec: Column, plane: Array[Double]): Column =
    aggregate(
      zip_with(vec, typedlit(plane.toSeq), (x, y) => x.cast("double") * y),
      lit(0d), (acc, v) => acc + v)

  /** Mirror of [[graft.functions.CosineLsh.bucket]]: the sum of
    * when(dotLit > 0, 1 << i). Degenerate inputs differ deliberately: the
    * HOF collapses null vectors and dim mismatches to bucket 0; the native
    * kernel surfaces them as NULL. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotLit(vec, p) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Occurrence count of profile tokens in the token array. */
  private def score(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => array_contains(typedlit(markers), t)))

  /** Mirror of [[graft.functions.LangId.detect]]. */
  def langDetect(text: Column): Column = {
    val profiles = LangId.profiles
    val tokens = split(lower(text), "\\s+")
    // struct max: (score, inverted-lang) so ties pick the alphabetically
    // first code deterministically.
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(score(tokens, markers).as("s"),
        lit(-profiles.keys.toSeq.sorted.indexOf(lang)).as("o"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    // NULL text must yield "und", as the native scorer and the SQL name
    // `lang_id` do: without the guard every score is NULL, the <=0 branch
    // evaluates NULL, and the result falls through to a NULL/arbitrary
    // language.
    when(text.isNull || best.getField("s") <= 0, lit("und"))
      .otherwise(best.getField("lang"))
  }
}
