package graft

import graft.plans.JoinElimination
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Unique-key left-join elimination: result identity (ground truth
  * collected BEFORE any key is declared), the join leaving the plan,
  * the counter proof, and every non-match guard (no declaration, right
  * column referenced, inner join, different right plan, partial key).
  */
class JoinElimSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val orders = table("orders")
  private lazy val customer = table("customer")

  private def joined: DataFrame = orders
    .join(customer, orders("o_custkey") === customer("c_custkey"), "left")

  /** fact-only projection over the star shape — the eliminable query */
  private def q: DataFrame = joined
    .select(col("o_orderkey"), col("o_totalprice"))
    .orderBy("o_orderkey")

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  private lazy val truth = q.collect().map(_.toSeq) // before any key

  override def beforeAll(): Unit = {
    super.beforeAll()
    // the session carries the rule from the start; with no key declared
    // it matches nothing, so the truth is the join executed literally
    JoinElimination.clear()
    truth
    JoinElimination.registerUniqueKey(customer, Seq("c_custkey"))
  }

  override def afterAll(): Unit = {
    JoinElimination.clear()
    super.afterAll()
  }

  test("declared-unique left join vanishes; result identical") {
    val before = JoinElimination.eliminatedCount
    val rewritten = q
    assert(!hasJoin(rewritten), "join must leave the optimized plan")
    assert(rewritten.collect().map(_.toSeq).toSeq == truth.toSeq)
    assert(JoinElimination.eliminatedCount > before, "counter must move")
  }

  test("aggregate on top of the join is eliminated too") {
    val agg = joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
    assert(!hasJoin(agg))
    val direct = orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")
    assert(agg.collect().map(_.toSeq).toSeq
      == direct.collect().map(_.toSeq).toSeq)
  }

  test("guard: referencing a dimension column keeps the join") {
    val usesDim = joined.select(col("o_orderkey"), col("c_name"))
    assert(hasJoin(usesDim))
  }

  test("guard: inner join is never eliminated (it can drop left rows)") {
    val inner = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .select(col("o_orderkey"))
    assert(hasJoin(inner))
  }

  test("a deterministically-filtered dimension still eliminates " +
    "(subset of a unique key stays unique)") {
    val filtered = customer.filter(col("c_acctbal") > 0)
    val j = orders
      .join(filtered, orders("o_custkey") === filtered("c_custkey"), "left")
      .select(col("o_orderkey")).orderBy("o_orderkey")
    assert(!hasJoin(j))
    assert(j.collect().map(_.toSeq).toSeq == truth.map(_.take(1)).toSeq
      .map(_.toSeq), "left rows survive unchanged whether or not the " +
      "filter would have matched them")
  }

  test("guard: a non-deterministic right-side filter keeps the join") {
    // NOT rand > -1: the optimizer constant-folds range-trivial rand
    // predicates away before this rule runs, which makes elimination
    // legitimate; rand > 0.5 is genuinely opaque
    val filtered = customer.filter(rand(7) > 0.5)
    val j = orders
      .join(filtered, orders("o_custkey") === filtered("c_custkey"), "left")
      .select(col("o_orderkey"))
    assert(hasJoin(j))
  }

  test("guard: joining on a non-key column keeps the join") {
    val j = orders
      .join(customer, orders("o_custkey") === customer("c_nationkey"), "left")
      .select(col("o_orderkey"))
    assert(hasJoin(j))
  }

  test("guard: a two-column declared key needs BOTH conjuncts") {
    // isolate the registry: ONLY a composite key declared — joining on
    // half of it must not eliminate (half a unique tuple is not unique)
    JoinElimination.clear()
    try {
      val dim = customer.select(col("c_custkey"), col("c_nationkey"),
        col("c_name"))
      JoinElimination.registerUniqueKey(dim, Seq("c_custkey", "c_nationkey"))
      val half = orders
        .join(dim, orders("o_custkey") === dim("c_custkey"), "left")
        .select(col("o_orderkey"))
      assert(hasJoin(half))
      // both conjuncts (the int nationkey arrives as an injective
      // widening cast — accepted) — eliminable
      val full = orders
        .join(dim, orders("o_custkey") === dim("c_custkey")
          && orders("o_custkey") === dim("c_nationkey"), "left")
        .select(col("o_orderkey"))
      assert(!hasJoin(full), "both key conjuncts present — eliminable")
    } finally {
      JoinElimination.clear()
      JoinElimination.registerUniqueKey(customer, Seq("c_custkey"))
    }
  }

  test("the oracle-gated q_join_elim actually eliminates when run") {
    val before = JoinElimination.eliminatedCount
    SparkEntry.queries("q_join_elim")(spark, sf).collect()
    assert(JoinElimination.eliminatedCount > before,
      "the registered query must exercise the rule, not just the shape")
    // the query fn clears the registry on exit; restore this suite's key
    JoinElimination.registerUniqueKey(customer, Seq("c_custkey"))
  }

  test("attribute-only project over the dimension still matches") {
    val pruned = customer.select("c_custkey", "c_name")
    val j = orders
      .join(pruned, orders("o_custkey") === pruned("c_custkey"), "left")
      .select(col("o_orderkey"))
    assert(!hasJoin(j),
      "column-pruned dimension must still sameResult-match the base")
  }
}
