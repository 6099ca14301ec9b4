package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Heuristic language identification (SURVEY.md north-star "text analysis":
  * language-ID by n-gram/marker heuristic — no ML model, deterministic).
  *
  * Scores a text against per-language marker-token profiles (high-frequency
  * function words — the 1-gram version of the classic char-n-gram profile
  * method) and returns the argmax language, or "und" when nothing matches.
  *
  * One compiled pass per row ([[LangDetectExpr]] calling [[detectOne]]),
  * behind both [[detect]] and the SQL name `lang_id`. Deterministic
  * tie-break: higher score wins, then the lexicographically smaller
  * language code.
  */
object LangId extends Serializable {

  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "in", "to", "it", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"))

  private val langs: Array[String] = profiles.keys.toArray.sorted
  /** marker token → langs containing it (markers overlap: "la" is both
    * es and fr), resolved once. */
  private val markerLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    for ((lang, ms) <- profiles; w <- ms)
      m.merge(w, Array(langs.indexOf(lang)),
        (a, b) => a ++ b)
    m
  }
  private val undResult = UTF8String.fromString("und")
  private val langResults = langs.map(UTF8String.fromString)

  /** One compiled pass: tokenize, score every profile, argmax. Exactly
    * the HOF formulation's semantics (FunctionsLibSpec pins equality
    * against the mirror in `HofMirrors`): ties break to
    * the alphabetically smaller code, score ≤ 0 and NULL text give
    * "und". Exists because the HOF form runs one interpreted
    * filter-lambda per profile per row — 4 × |tokens| × 8 interpreted
    * marker compares, measured as the dominant cost of q_lang_id. */
  def detectOne(t: UTF8String): UTF8String = {
    if (t == null) return undResult
    val tokens = t.toLowerCase.toString.split("\\s+", -1)
    val counts = new Array[Int](langs.length)
    var i = 0
    while (i < tokens.length) {
      val ls = markerLangs.get(tokens(i))
      if (ls != null) {
        var j = 0
        while (j < ls.length) { counts(ls(j)) += 1; j += 1 }
      }
      i += 1
    }
    var best = -1; var bestScore = 0
    var k = 0
    while (k < counts.length) {
      if (counts(k) > bestScore) { bestScore = counts(k); best = k }
      k += 1
    }
    if (best < 0) undResult else langResults(best)
  }

  /** Detected language code column — the native single-pass scorer. */
  def detect(text: Column): Column =
    org.apache.spark.sql.graftbridge.PlanBridge.column(LangDetectExpr(
      org.apache.spark.sql.graftbridge.PlanBridge.expression(text)))
}

/** Codegen wrapper for [[LangId.detectOne]]: the generated code is one
  * virtual call into the compiled scorer (all tokenization and marker
  * lookups run as JIT-compiled Scala), never an interpreted lambda.
  * NULL-tolerant by design: NULL text yields "und", so the expression
  * itself is never null. */
case class LangDetectExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def inputTypes = Seq(StringType)

  override def eval(input: InternalRow): Any =
    LangId.detectOne(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val impl = ctx.addReferenceObj("langId", LangId,
      "graft.functions.LangId$")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value} = $impl.detectOne(
          ${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
