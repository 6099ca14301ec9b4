package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the interval-stab join — same TVF pattern as
  * [[AsofSql]] (one registration bridge, one builder delegating to the
  * DataFrame op so validation and planning are shared):
  *
  * {{{
  *   SELECT * FROM range_lookup(
  *     'facts', 'intervals',   -- table or view names
  *     'v', 'lo', 'hi'         -- value column; interval bound columns
  *     [, 'inner'|'left'
  *     [, loInclusive [, hiInclusive]]])   -- booleans, default true
  * }}}
  */
object RangeSql {

  val name = "range_lookup"

  private val usage: String =
    s"""$name(facts, intervals, valueCol, loCol, hiCol
       |  [, joinType[, loInclusive[, hiInclusive]]]) —
       |string-literal names; inclusivity boolean literals""".stripMargin

  /** The TVF's registry descriptor (listed in graft.GraftSession). */
  val descriptor: graft.GraftSession.TableFunction =
    PlanBridge.tableFunction(name, usage, builder)

  private def builder(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 8)
      fail(s"expects 5-8 arguments, got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => fail(s"$what (arg ${i + 1}) must be a string literal, " +
        s"got ${other.sql}")
    }
    def bool(i: Int, what: String): Boolean = args(i) match {
      case Literal(b: Boolean, BooleanType) => b
      case other => fail(s"$what (arg ${i + 1}) must be a boolean literal, " +
        s"got ${other.sql}")
    }
    val joinType = if (args.length > 5) str(5, "joinType") else "inner"
    val loInc = if (args.length > 6) bool(6, "loInclusive") else true
    val hiInc = if (args.length > 7) bool(7, "hiInclusive") else true
    val spark = SparkSession.active
    RangeJoinOp.rangeLookup(
        spark.table(str(0, "facts table")),
        spark.table(str(1, "intervals table")),
        valueCol = str(2, "valueCol"), loCol = str(3, "loCol"),
        hiCol = str(4, "hiCol"), joinType = joinType,
        loInclusive = loInc, hiInclusive = hiInc)
      .queryExecution.analyzed
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$name: $msg\nusage: $usage")
}
