package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

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
    PlanBridge.tableFunction(name, usage, 5, 8) { args =>
      val joinType = if (args.length > 5) args.str(5, "joinType") else "inner"
      val loInc = if (args.length > 6) args.bool(6, "loInclusive") else true
      val hiInc = if (args.length > 7) args.bool(7, "hiInclusive") else true
      val spark = SparkSession.active
      RangeJoinOp.rangeLookup(
          spark.table(args.str(0, "facts table")),
          spark.table(args.str(1, "intervals table")),
          valueCol = args.str(2, "valueCol"), loCol = args.str(3, "loCol"),
          hiCol = args.str(4, "hiCol"), joinType = joinType,
          loInclusive = loInc, hiInclusive = hiInc)
        .queryExecution.analyzed
    }
}
