/* In the org.apache.spark.sql namespace to read SparkSessionExtensions'
 * `private[sql]` build accessors. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.analysis.{SimpleFunctionRegistry, SimpleTableFunctionRegistry}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** What a set of session extensions installs into a session built with
  * them, read without building one, and such a session itself. */
object ExtensionsProbe {

  def strategies(ext: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(s)

  def optimizerRules(ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(s)

  def functionNames(ext: SparkSessionExtensions): Set[String] =
    ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet

  /** A new session on `s`'s context built with `extensions` alone, as
    * `spark.sql.extensions` builds one on a cluster. Building makes the new
    * session the default and active one; `s` gets both roles back. */
  def session(s: SparkSession, extensions: SparkSessionExtensions => Unit): SparkSession = {
    val built = classic.SparkSession.builder().sparkContext(s.sparkContext)
      .withExtensions(extensions).create()
    SparkSession.setDefaultSession(s)
    SparkSession.setActiveSession(s)
    built
  }

  def tableFunctionNames(ext: SparkSessionExtensions): Set[String] =
    ext.registerTableFunctions(new SimpleTableFunctionRegistry)
      .listFunction().map(_.funcName).toSet
}
