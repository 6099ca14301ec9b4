package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ArrayRemove, Cast, Coalesce, Expression, Literal, Lower, RegExpCount, RegExpReplace, StringSplit}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, NullType, NumericType}

/** The reference word-count vocabulary as SQL names (SURVEY.md §2.3 K):
  * `cosine_sim`, `lang_id`, `jaccard_tokens`, `normalize_text` and
  * `token_count`. Each name builds a native kernel or built-in
  * expressions, so the SQL path runs the same compiled code as the
  * DataFrame API and [[GraftExtensions]] injects it like any other native
  * function. CoverageSpec pins every name on its edge cases.
  */
object SqlNames {

  /** Java's `\s+` token split with the empty tokens dropped. */
  private def tokens(s: Expression): Expression =
    ArrayRemove(StringSplit(s, Literal("\\s+"), Literal(-1)), Literal(""))

  /** [[CosineSim]] reads float and double arrays as they are; a NULL
    * literal or any other numeric array becomes ARRAY<FLOAT>, the type
    * `cosine_sim` has always taken. */
  private def vector(e: Expression): Expression = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => e
    case NullType | ArrayType(NullType | _: NumericType, _) => Cast(e, ArrayType(FloatType))
    case _ => e
  }

  /** Cosine of two embedding arrays; NULL on a NULL or empty side,
    * different lengths or a zero norm. */
  object Cosine
      extends NativeFunction("cosine_sim", 2)(a => CosineSim(vector(a.head), vector(a(1))))

  /** Marker-profile language code, "und" for NULL or no marker. */
  object Lang extends NativeFunction("lang_id", 1)(a => LangDetectExpr(a.head))

  /** Jaccard of the two texts' token sets; NULL on a NULL side or when
    * neither side has a token. */
  object Jaccard extends NativeFunction("jaccard_tokens", 2)(a =>
    TokenSetJaccard(tokens(a.head), tokens(a(1))))

  /** Lower case, the ends stripped of every char ≤ U+0020 (Java's `trim`;
    * Spark's `trim` strips spaces only), inner `\s+` runs made one space. */
  object Normalize extends NativeFunction("normalize_text", 1)(a =>
    RegExpReplace(
      RegExpReplace(Lower(a.head), Literal("\\A[\\x00-\\x20]+|[\\x00-\\x20]+\\z"), Literal("")),
      Literal("\\s+"), Literal(" ")))

  /** Number of `\s+`-separated tokens; 0 for NULL. */
  object TokenCount extends NativeFunction("token_count", 1)(a =>
    Coalesce(Seq(RegExpCount(a.head, Literal("\\S+")), Literal(0))))

  val all: Seq[NativeFunction[_]] = Seq(Cosine, Lang, Jaccard, Normalize, TokenCount)
}
