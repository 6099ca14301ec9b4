/* Lives in the org.apache.spark.sql namespace solely to reach the
 * `private[sql]` Dataset.ofRows constructor — the supported way to wrap a
 * custom LogicalPlan (graft.plans.AsofJoin) in a user-facing DataFrame.
 * No Spark internals are modified; this is a visibility bridge only. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a Catalyst Expression as a user-facing Column (and back) — for
    * parameterized native expressions (literal plane matrices, etc.) that
    * don't fit the FunctionRegistry's Column-args-only builder shape.
    * Same visibility story as ofRows: ExpressionUtils is private[sql] but
    * is the exact path Column.apply used before Spark 4's ColumnNode
    * split. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Decompose a possibly-sort-ordered Column into (key, ascending,
    * nullsFirst). Spark 4 Columns carry sort order as an
    * `internal.SortOrder` ColumnNode (NOT a catalyst SortOrder — that
    * only appears after analysis), so generic rank machinery
    * (graft.functions.RangeRank) that needs the bare key plus the
    * direction must unwrap the node here, inside the sql namespace. */
  def sortOrderOf(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (new Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Ascending,
        so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }

  /** A SQL table-valued function's (name, info, builder) descriptor — the
    * `SELECT * FROM f(...)` surface, in the shape
    * `SparkSessionExtensions.injectTableFunction` takes. */
  def tableFunction(
      name: String, usage: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => LogicalPlan)
      : graft.GraftSession.TableFunction =
    (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      // the non-deprecated full constructor; Spark rejects a group or
      // source outside its own lists
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.plans", null, name, usage, "", "", "", "table_funcs", "", "",
        "scala_udf"),
      builder)

  /** Register a table function in one live session. Same visibility story
    * as ofRows: `sessionState` is private[sql]; the registry API itself is
    * the one Spark's own built-in TVFs (`range`, `explode`, ...) go
    * through. */
  def registerTableFunction(
      spark: SparkSession, f: graft.GraftSession.TableFunction): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(f._1, f._2, f._3)
}
