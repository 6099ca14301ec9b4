package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graftbridge.PlanBridge

/** SQL surface for grouped top-k — same TVF pattern as [[AsofSql]] /
  * [[RangeSql]] (one registration bridge, one builder delegating to the
  * DataFrame form so validation and planning are shared):
  *
  * {{{
  *   SELECT * FROM topk_per_group(
  *     'lineitem',                  -- table or view name
  *     'l_returnflag',              -- group cols, comma-separated
  *     'l_quantity DESC, l_orderkey', -- order spec, ASC default
  *     3                            -- k
  *     [, 'rank'])                  -- rank column name, default rn
  * }}}
  *
  * The builder emits the canonical row_number-window + filter plan, so
  * [[RewriteTopKWindow]] (attached with it) turns it into the
  * heap-based [[TopKPerGroupExec]] pair exactly as the DataFrame and raw
  * SQL forms plan — the TVF adds no third execution path to maintain.
  */
object TopKSql {

  val name = "topk_per_group"

  private val usage: String =
    s"""$name(table, groupCols, orderSpec, k [, rankCol]) —
       |string-literal names (groupCols/orderSpec comma-separated; order
       |entries take an optional ASC|DESC suffix), integer-literal k.
       |Column names must be plain identifiers ([A-Za-z_][A-Za-z0-9_]*):
       |backticks, dots and embedded commas are not supported here — use
       |the DataFrame form (TopKPerGroup.topKPerGroup) for such names""".stripMargin

  private val PlainIdent = "[A-Za-z_][A-Za-z0-9_]*".r

  /** The TVF's registry descriptor (listed in graft.GraftSession). */
  val descriptor: graft.GraftSession.TableFunction =
    PlanBridge.tableFunction(name, usage, 4, 5) { args =>
      /* The comma/whitespace split can't represent backticked names,
       * dotted names (col() would parse them as struct access) or names
       * with commas — reject them HERE with the TVF's own message instead
       * of letting a confusing downstream resolution error surface. */
      def ident(c: String, what: String): String = c match {
        case PlainIdent() => c
        case _ => args.fail(s"$what entry '$c' is not a plain identifier " +
          "([A-Za-z_][A-Za-z0-9_]*) — backticks/dots/commas are not " +
          "supported in the TVF surface; use the DataFrame form for such " +
          "names")
      }
      val k = args.int(3, "k")
      val groupCols = args.csv(1, "groupCols").map(ident(_, "groupCols"))
      if (groupCols.isEmpty) args.fail("groupCols must name at least one column")
      val orderCols = args.csv(2, "orderSpec").map { spec =>
        spec.split("\\s+") match {
          case Array(c)       => col(ident(c, "orderSpec")).asc
          case Array(c, dir) if dir.equalsIgnoreCase("asc")  => col(ident(c, "orderSpec")).asc
          case Array(c, dir) if dir.equalsIgnoreCase("desc") => col(ident(c, "orderSpec")).desc
          case _ => args.fail(s"bad order entry '$spec' — use <col> [ASC|DESC]")
        }
      }
      if (orderCols.isEmpty) args.fail("orderSpec must name at least one column")
      val rankCol = if (args.length > 4) args.str(4, "rankCol") else "rn"
      val df = SparkSession.active.table(args.str(0, "table"))
      if (df.columns.exists(_.equalsIgnoreCase(rankCol)))
        args.fail(s"rank column $rankCol collides with an input column — " +
          "pass a different name as arg 5")
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols: _*)
      df.withColumn(rankCol, row_number().over(w))
        .filter(col(rankCol) <= k)
        .queryExecution.analyzed
    }
}
