package graft

import graft.plans.{TopKPerGroup, TopKPerGroupExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom grouped-top-k operator: rewrite fires on the declarative
  * window+filter pattern, plans as partial→exchange→final bounded heaps,
  * and returns row-identical results to the Window form it replaces.
  */
class TopKPlanSpec extends SparkSpec {

  /** Runs `body` with the rewrite present or absent, then restores
    * whether it was installed before — the shared session carries it for
    * every later suite. */
  private def withRewrite[T](present: Boolean)(body: => T): T = {
    val was = spark.experimental.extraOptimizations
      .contains(graft.plans.RewriteTopKWindow)
    if (present) TopKPerGroup.install(spark) else TopKPerGroup.uninstall(spark)
    try body
    finally
      if (was) TopKPerGroup.install(spark) else TopKPerGroup.uninstall(spark)
  }

  private def topkDf: DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table("orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey")
      .orderBy("o_orderpriority", "rn")
  }

  test("Bench.session installs the rewrite: row_number() <= k plans TopKPerGroupExec") {
    // a session with the rule absent, then the measurement-session
    // helper; the helper returns this same JVM-wide session, so its
    // runtime settings are restored afterwards
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try withRewrite(present = false) {
      // the adaptive root is opaque to collect; read the rendered plan
      def heapExec(df: DataFrame) =
        df.queryExecution.executedPlan.toString.contains("TopKPerGroup ")
      assert(!heapExec(topkDf), "rule absent, yet the heap exec planned")
      val s = Bench.session(defaultCpus = 4)
      assert(s eq spark)
      assert(heapExec(topkDf), topkDf.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }

  test("sql: topk_per_group TVF equals the DataFrame form and plans the heap exec") {
    withRewrite(present = true) {
      table("orders").createOrReplaceTempView("orders_v")
      val tvf = spark.sql(
        """SELECT o_orderpriority, rn, o_orderkey
          |FROM topk_per_group('orders_v', 'o_orderpriority',
          |  'o_totalprice DESC, o_orderkey', 3)
          |ORDER BY o_orderpriority, rn""".stripMargin)
      assert(tvf.collect().map(_.toSeq).toSeq ==
        topkDf.collect().map(_.toSeq).toSeq)
      val plan = tvf.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup "),
        s"TVF did not plan the heap exec:\n$plan")
      assert(!plan.contains("WindowExec"), plan)
      // custom rank column name
      val named = spark.sql(
        """SELECT o_orderpriority, rank_in_group
          |FROM topk_per_group('orders_v', 'o_orderpriority',
          |  'o_totalprice DESC, o_orderkey', 3, 'rank_in_group')""".stripMargin)
      assert(named.collect().forall(_.getAs[Int]("rank_in_group") <= 3))
    }
  }

  test("sql: topk_per_group TVF rejects malformed calls at analysis time") {
    table("orders").createOrReplaceTempView("orders_v")
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def msgs(t: Throwable): Seq[String] = Option(t).toSeq
        .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(frag)),
        s"expected '$frag' in: ${msgs(e)}")
    }
    bad("SELECT * FROM topk_per_group('orders_v', 'o_orderpriority')",
      "expects 4-5 arguments")
    bad("SELECT * FROM topk_per_group('orders_v', 'o_orderpriority', 'o_totalprice', 0)",
      "positive integer")
    bad("SELECT * FROM topk_per_group('orders_v', 'o_orderpriority', 'o_totalprice SIDEWAYS', 3)",
      "bad order entry")
    bad("SELECT * FROM topk_per_group('orders_v', '', 'o_totalprice', 3)",
      "at least one column")
    bad("SELECT * FROM topk_per_group('orders_v', 'o_orderpriority', 'o_totalprice', 3, 'o_orderkey')",
      "collides")
    // non-plain identifiers fail with the TVF's own message, not a
    // confusing downstream resolution error (backticks would otherwise
    // feed col() verbatim; dots would parse as struct access)
    bad("SELECT * FROM topk_per_group('orders_v', '`o_orderpriority`', 'o_totalprice', 3)",
      "plain identifier")
    bad("SELECT * FROM topk_per_group('orders_v', 'o_orderpriority', 'my.col DESC', 3)",
      "plain identifier")
  }

  test("sql: topk_per_group's usage text reads back from the session's table-function registry") {
    val info = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(
        "topk_per_group"))
    assert(info.isDefined, "topk_per_group is not registered")
    assert(info.get.getName == "topk_per_group")
    assert(info.get.getUsage.startsWith(
      "topk_per_group(table, groupCols, orderSpec, k [, rankCol])"),
      info.get.getUsage)
    assert(info.get.getGroup == "table_funcs")
  }

  test("whole-stage codegen compiles when a projection fuses into the heap phase") {
    // Regression: without usedInputs = empty, consume() emitted the fused
    // Project's evaluation twice (pre-evaluated vars + the packed-row copy)
    // and Janino rejected the duplicate locals, so the whole stage — scan
    // included — fell back to interpreted execution. fallback=false turns
    // that silent degrade into a test failure.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try withRewrite(present = true) {
      // the q_quantile_sketch shape: derived columns (salt + hash) feed a
      // salted local pass, whose output feeds the global pass in the same
      // stage — both failing compositions from the round-14 audit
      def twoPhase: DataFrame = {
        val base = table("orders").select(
          col("o_orderpriority"),
          expr("conv(substring(md5(cast(cast(o_orderkey as string) as binary)), 1, 12), 16, 10)")
            .cast("long").as("hv"),
          col("o_orderkey"))
        val salt = pmod(xxhash64(col("o_orderkey")), lit(4))
        val wLocal = Window.partitionBy(col("o_orderpriority"), salt)
          .orderBy(col("hv").asc, col("o_orderkey").asc)
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("hv").asc, col("o_orderkey").asc)
        base
          .withColumn("rnl", row_number().over(wLocal)).filter(col("rnl") <= 5)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select("o_orderpriority", "rn", "o_orderkey")
          .orderBy("o_orderpriority", "rn")
      }
      val heapForm = twoPhase
      val got = heapForm.collect().map(_.toSeq).toSeq
      val plan = heapForm.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup "), s"heap exec not planned:\n$plan")
      withRewrite(present = false) {
        val windowForm = twoPhase // fresh plan: rewrite absent ⇒ native Window
        val expected = windowForm.collect().map(_.toSeq).toSeq
        assert(!windowForm.queryExecution.executedPlan.toString.contains("TopKPerGroup "))
        assert(got == expected)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("rewrite fires: two heap phases straddle one exchange, no sorts below") {
    withRewrite(present = true) {
      // executedPlan is AdaptiveSparkPlanExec (opaque to collect) — assert
      // on the rendered initial plan
      val plan = topkDf.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val topks = lines.filter(_.contains("TopKPerGroup "))
      assert(topks.length == 2, s"expected partial+final, got:\n$plan")
      // arg order: ..., partial flag, maxHeapGroups — flag is mid-line now
      assert(topks.exists(_.contains(" true, ")) &&
        topks.exists(_.contains(" false, ")), plan)
      assert(plan.contains("Exchange hashpartitioning(o_orderpriority"), plan)
      // the Window plan AND Spark's sort-based WindowGroupLimit pre-bound
      // are both gone; the heap phases read the bare scan with NO Sort
      assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"),
        plan)
      val belowTopK = lines.dropWhile(!_.contains("TopKPerGroup "))
      assert(!belowTopK.exists(l => l.contains("Sort ") &&
        !l.contains("Sort [o_orderpriority")), plan)
    }
  }

  test("heap phases fuse into whole-stage codegen spans") {
    withRewrite(present = true) {
      val df = topkDf
      df.collect() // force execution so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // fused operators render with a *(n) stage prefix — both heap
      // phases must sit INSIDE a codegen span (the partial fused with the
      // scan pipeline below, the final fused above the exchange), not
      // break the stages apart around an iterator boundary
      val fused = plan.linesIterator
        .filter(_.contains("TopKPerGroup "))
        .filter(_.contains("*(")).toSeq
      assert(fused.length == 2,
        s"expected both heap phases codegen-fused, got:\n$plan")
    }
  }

  test("operator output is row-identical to the Window form") {
    val baseline = withRewrite(present = false)(topkDf.collect().map(_.toSeq))
    withRewrite(present = true) {
      val got = topkDf.collect().map(_.toSeq)
      assert(got.sameElements(baseline))
    }
  }

  test("global top-k (no partition keys) works and ranks correctly") {
    withRewrite(present = true) {
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val rows = table("orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("rn", "o_orderkey", "o_totalprice")
        .orderBy("rn").collect()
      assert(rows.length == 5)
      assert(rows.map(_.getAs[Int]("rn")).toSeq == (1 to 5))
      val prices = rows.map(_.getAs[Double]("o_totalprice"))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
      val expTop = table("orders").agg(max("o_totalprice")).head().getDouble(0)
      assert(prices.head == expTop)
    }
  }

  test("rewrite does NOT fire on rank() or on non-literal bounds") {
    withRewrite(present = true) {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val ranked = table("orders")
        .withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
      val execs = ranked.queryExecution.executedPlan
        .collect { case e: TopKPerGroupExec => e }
      assert(execs.isEmpty, "rank() must keep the Window plan")
    }
  }

  test("rewrite strips only a WindowGroupLimit matching the window's own spec") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LWindow, WindowGroupLimit}
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // the plan Spark optimizes without the rule, which the rule is then
    // applied to by hand
    val optimized = withRewrite(present = false) {
      table("orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .queryExecution.optimizedPlan
    }
    // sanity: InferWindowGroupLimit put its pre-bound under the Window,
    // and the rewrite strips that matching bound
    assert(optimized.collect { case g: WindowGroupLimit => g }.nonEmpty)
    val rewritten = graft.plans.RewriteTopKWindow(optimized)
    assert(rewritten.collect { case g: WindowGroupLimit => g }.isEmpty,
      "a same-specced pre-bound must be stripped")
    // now forge a FOREIGN pre-bound: same rank/limit but different
    // partition keys — the rewrite must keep it (stripping would un-bound
    // rows some other rule already relied on limiting)
    val forged = optimized.transform {
      case g: WindowGroupLimit =>
        g.copy(partitionSpec = g.orderSpec.map(_.child))
    }
    val kept = graft.plans.RewriteTopKWindow(forged)
    assert(kept.collect { case g: WindowGroupLimit => g }.nonEmpty,
      "a foreign-specced pre-bound must survive the rewrite")
    // and the heap node still planned above it
    assert(kept.collect { case g: graft.plans.GroupedTopK => g }.nonEmpty)
  }

  test("heap exec matches Window form with NULL order keys and empty partitions") {
    val base = table("orders")
      .withColumn("price",
        when(col("o_orderkey") % 10 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")))
      .repartition(64) // most partitions tiny/empty at sf0.001
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("price").desc_nulls_last, col("o_orderkey"))
    def run = base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .select("o_orderpriority", "rn", "o_orderkey", "price")
      .orderBy("o_orderpriority", "rn").collect().map(_.toSeq)
    val baseline = withRewrite(present = false)(run)
    withRewrite(present = true)(assert(run.sameElements(baseline)))
  }

  test("sort fallback: near-unique key past the group budget stays row-identical") {
    // o_orderkey is unique at sf0.001 → |groups| = |rows|, the exact shape
    // the heap map must NOT be allowed to mirror input on. A 20-row budget
    // (k=2 → 10 groups) forces BOTH phases through the external-sort path.
    val w = Window.partitionBy("o_orderkey").orderBy(col("o_totalprice"))
    def q = table("orders").withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).select("o_orderkey", "rn", "o_totalprice")
      .orderBy("o_orderkey", "rn")
    val baseline = withRewrite(present = false)(q.collect().map(_.toSeq))
    spark.conf.set("spark.sql.adaptive.enabled", "false") // collectable plan
    spark.conf.set(graft.plans.TopKStrategy.MaxHeapRowsKey, "20")
    try withRewrite(present = true) {
      val df = q
      val got = df.collect().map(_.toSeq)
      assert(got.sameElements(baseline))
      val execs = df.queryExecution.executedPlan
        .collect { case e: TopKPerGroupExec => e }
      assert(execs.length == 2, df.queryExecution.executedPlan.toString)
      assert(execs.forall(_.maxHeapGroups == 10))
      val fallbacks = execs.map(_.metrics("sortFallbacks").value).sum
      assert(fallbacks > 0, "expected at least one heap→sort degrade")
    } finally {
      spark.conf.unset(graft.plans.TopKStrategy.MaxHeapRowsKey)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("sort fallback attaches exact ranks (k>1, grouped key, codegen off)") {
    // codegen-off exercises the doExecute buffer path through the sorter;
    // ranks must be the same 1..k the heap path and Window produce.
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    def q = table("orders").withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey")
      .orderBy("o_orderpriority", "rn")
    val baseline = withRewrite(present = false)(q.collect().map(_.toSeq))
    spark.conf.set(key, "false")
    spark.conf.set(graft.plans.TopKStrategy.MaxHeapRowsKey, "3") // 1 group
    try withRewrite(present = true)(
      assert(q.collect().map(_.toSeq).sameElements(baseline)))
    finally {
      spark.conf.unset(graft.plans.TopKStrategy.MaxHeapRowsKey)
      spark.conf.set(key, prev)
    }
  }

  test("heap exec output survives codegen-off paths (UnsafeRow contract)") {
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try withRewrite(present = true) {
      // no projection after the filter: downstream consumes our rows raw
      val rows = topkDf.collect()
      assert(rows.length > 0 && rows.length <= 15)
    } finally spark.conf.set(key, prev)
  }
}
