package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graftbridge.PlanBridge

/** THE one place that knows what the engine adds to a SparkSession: the
  * native codegen functions, the optimizer rules, the planner strategies
  * and the SQL table-valued functions, each held in one list below.
  * "Switching to this library" is one call on a session the caller owns:
  *
  *   GraftSession.attach(spark)            // or, on a cluster:
  *   // --conf spark.sql.extensions=graft.functions.GraftExtensions
  *
  * `attach` and [[graft.functions.GraftExtensions]] iterate the same
  * lists, so the library and cluster paths cannot drift apart;
  * `Bench.session` (Bench, Verify, the test session) ends in `attach`.
  * [[add]] and [[remove]] are the only writers of a session's
  * `experimental` rule and strategy lists — the use-site self-installs
  * (`AsofJoinOp.asof`, `RangeJoinOp.rangeLookup`, key and rollup
  * registration, `TopKPerGroup.install`) go through them too, so a bare
  * session can still plan a custom node it was handed.
  */
object GraftSession {

  /** (name, info, builder) as `SparkSessionExtensions.injectTableFunction`
    * takes it. */
  type TableFunction =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  val nativeFunctions: Seq[functions.NativeFunction[_]] = Seq(
    functions.NativeCosine, functions.NativeSimHash, functions.NativeJaccard,
    functions.NativeFingerprint, functions.NativeJaro, functions.NativeDot) ++
    functions.SqlNames.all

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    plans.RollupRewrite, plans.JoinElimination, plans.RewriteTopKWindow)

  val plannerStrategies: Seq[SparkStrategy] = Seq(
    plans.TopKStrategy, plans.AsofJoinStrategy, plans.RangeLookupStrategy)

  val tableFunctions: Seq[TableFunction] = Seq(
    plans.AsofSql.descriptor, plans.RangeSql.descriptor,
    plans.TopKSql.descriptor)

  /** Idempotently attach every component to a live session. */
  def attach(spark: SparkSession): SparkSession = {
    nativeFunctions.foreach(_.register(spark))
    tableFunctions.foreach(PlanBridge.registerTableFunction(spark, _))
    add(spark, optimizerRules, plannerStrategies)
    spark
  }

  /** Append each rule and strategy the session lacks, in the given order;
    * members already present stay where they are. */
  def add(spark: SparkSession, rules: Seq[Rule[LogicalPlan]] = Nil,
          strategies: Seq[SparkStrategy] = Nil): Unit =
    update(spark)(rs => rs ++ rules.filterNot(rs.contains),
      ss => ss ++ strategies.filterNot(ss.contains))

  /** Drop the given rules and strategies from the session. */
  def remove(spark: SparkSession, rules: Seq[Rule[LogicalPlan]] = Nil,
             strategies: Seq[SparkStrategy] = Nil): Unit =
    update(spark)(_.filterNot(rules.contains),
      _.filterNot(strategies.contains))

  private def update(spark: SparkSession)(
      rules: Seq[Rule[LogicalPlan]] => Seq[Rule[LogicalPlan]],
      strategies: Seq[SparkStrategy] => Seq[SparkStrategy]): Unit = {
    val x = spark.experimental
    x.synchronized {
      x.extraOptimizations = rules(x.extraOptimizations)
      x.extraStrategies = strategies(x.extraStrategies)
    }
  }
}
