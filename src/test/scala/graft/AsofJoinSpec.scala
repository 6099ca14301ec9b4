package graft

import java.sql.Timestamp

import graft.plans.AsofJoinOp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom sort-merge as-of operator (plans/AsofJoin.scala) must be
  * result-identical to the declarative fan-out+rank form and must plan as
  * merge (two exchanges, no candidate materialization). */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private val H7D: Long = 7L * 24 * 3600 * 1000000L

  private def purchases: DataFrame =
    table("events").filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id"))

  private def clicks: DataFrame =
    table("events").filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"), col("value").as("c_value"))

  private def declarative: DataFrame = {
    val w = Window.partitionBy("p_id")
      .orderBy(col("c_ts").desc, col("c_id").desc)
    purchases.join(clicks,
        col("user_id") === col("c_user") && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"), "inner")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("user_id"), col("c_id"), col("c_ts"))
      .orderBy("p_id")
  }

  private def custom: DataFrame =
    AsofJoinOp.asof(purchases, clicks,
        leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
        leftTime = "p_ts", rightTime = "c_ts",
        rightTieBreak = Seq("c_id"), horizonMicros = H7D,
        strategy = "merge") // the fixture is broadcast-sized — pin merge
      .select(col("p_id"), col("user_id"), col("c_id"), col("c_ts"))
      .orderBy("p_id")

  test("custom as-of equals the declarative fan-out+rank form on the fixture") {
    val a = declarative.collect().map(_.toSeq)
    val b = custom.collect().map(_.toSeq)
    assert(a.length == b.length && a.length > 100,
      s"row counts differ or trivial: ${a.length} vs ${b.length}")
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("plan: AsofJoinExec with clustered exchanges, no window, no fan-out join") {
    val df = custom
    df.collect()
    // the AQE rendering repeats the tree under "== Initial Plan ==" —
    // count structure in the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"fan-out join leaked into:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"expected exactly two key exchanges:\n$plan")
  }

  test("auto strategy: broadcast under the threshold, merge when disabled") {
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    def auto: DataFrame = AsofJoinOp.asof(purchases, clicks,
      Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"), H7D)
    // fixture clicks sit well under the default 10 MB threshold → the
    // planner must pick the broadcast-index exec with no hint
    val bplan = planOf(auto)
    assert(bplan.contains("AsofJoinBroadcast"),
      s"auto did not broadcast a small right side:\n$bplan")
    // same signal Spark's own join strategy honors: threshold ≤ 0
    // disables broadcasting → sort-merge exec
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val mplan = planOf(auto)
      assert(mplan.contains("AsofJoin") && !mplan.contains("AsofJoinBroadcast"),
        s"auto did not fall back to merge with broadcasting disabled:\n$mplan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // and both auto plans return the merge exec's rows
    val a = custom.select("p_id", "c_id").collect().map(_.toSeq)
    val b = auto.select(col("p_id"), col("c_id")).orderBy("p_id")
      .collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
  }

  test("null keys and null times never match; ties resolve to max tie-break") {
    val ts0 = Timestamp.valueOf("2026-01-10 12:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    val l = Seq(
      (1L, Option(10L), Option(t(60))),   // matches click 103 (tie winner)
      (2L, Option(10L), Option(t(600))),  // beyond 2h horizon → no match
      (3L, None: Option[Long], Option(t(60))),  // null key → no match
      (4L, Option(10L), None: Option[Timestamp]), // null time → no match
      (5L, Option(77L), Option(t(60))))   // key with no clicks → no match
      .toDF("p_id", "user_id", "p_ts")
    val r = Seq(
      (101L, Option(10L), Option(t(0))),
      (103L, Option(10L), Option(t(30))), // same ts as 102, higher id wins
      (102L, Option(10L), Option(t(30))),
      (104L, Option(10L), Option(t(90))), // after every left time
      (105L, None: Option[Long], Option(t(30))),  // null key
      (106L, Option(10L), None: Option[Timestamp])) // null time
      .toDF("c_id", "c_user", "c_ts")
    val out = AsofJoinOp.asof(l, r,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        horizonMicros = 2L * 3600 * 1000000L)
      .select("p_id", "c_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(out.toSet == Set((1L, 103L)), s"got ${out.toSeq}")
  }

  test("broadcast as-of equals the merge exec and never shuffles the fact side") {
    val merge = custom.collect().map(_.toSeq)
    val bdf = AsofJoinOp.asof(purchases, clicks,
        leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
        leftTime = "p_ts", rightTime = "c_ts",
        rightTieBreak = Seq("c_id"), horizonMicros = H7D,
        broadcastRight = true)
      .select(col("p_id"), col("user_id"), col("c_id"), col("c_ts"))
      .orderBy("p_id")
    val bc = bdf.collect().map(_.toSeq)
    assert(merge.length == bc.length && merge.length > 100)
    assert(merge.zip(bc).forall { case (x, y) => x == y })
    val plan = bdf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoinBroadcast"), s"broadcast exec missing:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"no broadcast exchange:\n$plan")
    // the fact side must not hash-shuffle at all; the only exchange beyond
    // the broadcast is the final orderBy's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact side shuffled in broadcast mode:\n$plan")
  }

  test("broadcast mode handles null keys/times, ties, and horizon identically") {
    val ts0 = Timestamp.valueOf("2026-01-10 12:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    val l = Seq(
      (1L, Option(10L), Option(t(60))),
      (2L, Option(10L), Option(t(600))),
      (3L, None: Option[Long], Option(t(60))),
      (4L, Option(10L), None: Option[Timestamp]),
      (5L, Option(77L), Option(t(60))))
      .toDF("p_id", "user_id", "p_ts")
    val r = Seq(
      (101L, Option(10L), Option(t(0))),
      (103L, Option(10L), Option(t(30))),
      (102L, Option(10L), Option(t(30))),
      (104L, Option(10L), Option(t(90))),
      (105L, None: Option[Long], Option(t(30))),
      (106L, Option(10L), None: Option[Timestamp]))
      .toDF("c_id", "c_user", "c_ts")
    val out = AsofJoinOp.asof(l, r,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        horizonMicros = 2L * 3600 * 1000000L, broadcastRight = true)
      .select("p_id", "c_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(out.toSet == Set((1L, 103L)), s"got ${out.toSeq}")
    // outer broadcast: every left survives, unmatched with null right
    val outer = AsofJoinOp.asof(l, r,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        2L * 3600 * 1000000L, joinType = "left", broadcastRight = true)
      .select("p_id", "c_id").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
      .toMap
    assert(outer == Map(1L -> Some(103L), 2L -> None, 3L -> None,
      4L -> None, 5L -> None), s"got $outer")
  }

  test("forward as-of equals the declarative next-event form, both execs") {
    // earliest click AT or AFTER each purchase within 7 days
    val w = Window.partitionBy("p_id")
      .orderBy(col("c_ts").asc, col("c_id").asc)
    val decl = purchases.join(clicks,
        col("user_id") === col("c_user") && col("c_ts") >= col("p_ts")
          && col("c_ts") < col("p_ts") + expr("INTERVAL 7 DAYS"), "inner")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("c_id"), col("c_ts")).orderBy("p_id")
      .collect().map(_.toSeq)
    for (bcast <- Seq(false, true)) {
      val got = AsofJoinOp.asof(purchases, clicks,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          H7D, direction = "forward",
          strategy = if (bcast) "broadcast" else "merge")
        .select(col("p_id"), col("c_id"), col("c_ts")).orderBy("p_id")
        .collect().map(_.toSeq)
      assert(decl.length == got.length && decl.length > 100,
        s"bcast=$bcast: ${decl.length} vs ${got.length}")
      assert(decl.zip(got).forall { case (x, y) => x == y }, s"bcast=$bcast")
    }
  }

  test("forward edges: equal-time inclusive, min-id tie, horizon exclusive") {
    val ts0 = Timestamp.valueOf("2026-01-10 12:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    val l = Seq(
      (1L, 10L, t(30)),  // clicks AT 30 exist → equal-time inclusive,
                         // tie resolves to MIN id (102 over 103)
      (2L, 10L, t(100)), // next click at 180 is ≥ horizon (80 ≥ 120? no —
                         // 180-100=80 min < 120 min horizon → matches 104)
      (3L, 10L, t(178)), // click 104 at 180 within 2 min → matches
      (4L, 10L, t(181))) // nothing after → unmatched
      .toDF("p_id", "user_id", "p_ts")
    val r = Seq(
      (101L, 10L, t(0)),   // before every purchase — never a forward match
      (103L, 10L, t(30)),
      (102L, 10L, t(30)),
      (104L, 10L, t(180)))
      .toDF("c_id", "c_user", "c_ts")
    for (bcast <- Seq(false, true)) {
      val out = AsofJoinOp.asof(l, r,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          horizonMicros = 2L * 3600 * 1000000L, // 120 min
          direction = "forward",
          strategy = if (bcast) "broadcast" else "merge")
        .select("p_id", "c_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(out == Set((1L, 102L), (2L, 104L), (3L, 104L)),
        s"bcast=$bcast got $out")
    }
    // horizon EXCLUSIVE at the top: purchase at t(60), click at t(180),
    // horizon exactly 120 min → 180 = 60+120 is OUT
    val lx = Seq((9L, 10L, t(60))).toDF("p_id", "user_id", "p_ts")
    val outx = AsofJoinOp.asof(lx, r,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        2L * 3600 * 1000000L, direction = "forward")
      .select("p_id", "c_id").collect()
    assert(outx.isEmpty, s"boundary leak: ${outx.toSeq}")
  }

  test("extreme horizon saturates (unbounded window) instead of wrapping") {
    // pt - Long.MaxValue wraps a micros long; the bound must saturate to
    // "unbounded below/above", not silently invert the predicate
    val ts0 = Timestamp.valueOf("2026-01-10 12:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    val l = Seq((1L, 10L, t(60))).toDF("p_id", "user_id", "p_ts")
    val r = Seq((101L, 10L, t(0)), (102L, 10L, t(90)))
      .toDF("c_id", "c_user", "c_ts")
    for (strat <- Seq("merge", "broadcast"); fwd <- Seq(false, true)) {
      val out = AsofJoinOp.asof(l, r,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          horizonMicros = Long.MaxValue, strategy = strat,
          direction = if (fwd) "forward" else "backward")
        .select("p_id", "c_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val expect = Set((1L, if (fwd) 102L else 101L))
      assert(out == expect, s"strat=$strat fwd=$fwd got $out")
    }
  }

  test("left-outer: unmatched lefts survive with a null right side") {
    val ts0 = Timestamp.valueOf("2026-01-10 12:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    val l = Seq((1L, 10L, t(60)), (2L, 99L, t(60))).toDF("p_id", "user_id", "p_ts")
    val r = Seq((101L, 10L, t(30))).toDF("c_id", "c_user", "c_ts")
    val out = AsofJoinOp.asof(l, r,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        horizonMicros = 3600L * 1000000L, joinType = "left")
      .select("p_id", "c_id").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
    assert(out.toSet == Set((1L, Some(101L)), (2L, None)), s"got ${out.toSeq}")
    // the right-side attributes must be nullable in the outer output schema
    val schema = AsofJoinOp.asof(l, r,
      Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
      3600L * 1000000L, "left").schema
    assert(schema("c_id").nullable)
  }

  test("left-outer equals the declarative LEFT JOIN + rank form on the fixture") {
    val w = Window.partitionBy("p_id")
      .orderBy(col("c_ts").desc, col("c_id").desc)
    val decl = purchases.join(clicks,
        col("user_id") === col("c_user") && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("c_id")).orderBy("p_id")
      .collect().map(_.toSeq)
    val cust = AsofJoinOp.asof(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        H7D, joinType = "left")
      .select(col("p_id"), col("c_id")).orderBy("p_id")
      .collect().map(_.toSeq)
    assert(decl.length == cust.length && decl.length > 100)
    assert(decl.zip(cust).forall { case (x, y) => x == y })
  }

  test("fails fast on bad arguments instead of returning silently wrong rows") {
    // empty keys
    intercept[IllegalArgumentException] {
      AsofJoinOp.asof(purchases, clicks, Seq(), Seq(), "p_ts", "c_ts",
        Seq("c_id"), H7D)
    }
    // non-positive horizon
    intercept[IllegalArgumentException] {
      AsofJoinOp.asof(purchases, clicks, Seq("user_id"), Seq("c_user"),
        "p_ts", "c_ts", Seq("c_id"), -1L)
    }
    // unknown column
    intercept[IllegalArgumentException] {
      AsofJoinOp.asof(purchases, clicks, Seq("no_such_col"), Seq("c_user"),
        "p_ts", "c_ts", Seq("c_id"), H7D)
    }
    // missing tie-break → nondeterministic payload on equal times
    intercept[IllegalArgumentException] {
      AsofJoinOp.asof(purchases, clicks, Seq("user_id"), Seq("c_user"),
        "p_ts", "c_ts", Seq(), H7D)
    }
    // key dataType mismatch: Int 5 and Long 5 hash to different partitions
    val pInt = purchases.withColumn("user_id", col("user_id").cast("int"))
    val e1 = intercept[IllegalArgumentException] {
      AsofJoinOp.asof(pInt, clicks, Seq("user_id"), Seq("c_user"),
        "p_ts", "c_ts", Seq("c_id"), H7D)
    }
    assert(e1.getMessage.contains("type mismatch"))
    // non-timestamp time column
    val e2 = intercept[IllegalArgumentException] {
      AsofJoinOp.asof(purchases.withColumn("p_day", col("p_ts").cast("date")),
        clicks, Seq("user_id"), Seq("c_user"), "p_day", "c_ts",
        Seq("c_id"), H7D)
    }
    assert(e2.getMessage.contains("TIMESTAMP"))
    // overlapping attribute ids (self-derived right side, un-aliased):
    // the output projection would bind right columns to left positions
    val base = table("events").select(col("event_id"), col("ts"),
      col("user_id"))
    val e3 = intercept[IllegalArgumentException] {
      AsofJoinOp.asof(base.filter(col("event_id") % 2 === 0),
        base.filter(col("event_id") % 2 === 1),
        Seq("user_id"), Seq("user_id"), "ts", "ts", Seq("event_id"), H7D)
    }
    assert(e3.getMessage.contains("alias"))
    // column resolution honors case-insensitivity (Spark default)
    val ok = AsofJoinOp.asof(purchases, clicks,
      Seq("USER_ID"), Seq("C_USER"), "P_TS", "C_TS", Seq("C_ID"), H7D)
    assert(ok.count() > 0)
  }

  test("nearest edges: exact match and equidistant ties go backward, both execs") {
    val ts0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Int) = new Timestamp(ts0.getTime + min * 60000L)
    // u1: equidistant (±10 min) → backward 101; u2: exact match at pt →
    // 103 over the 1-min-away 104; u3: forward-only neighbor → 105;
    // u4: both outside the 15-min horizon → unmatched
    val l = Seq((1L, 1L, t(20)), (2L, 2L, t(20)), (3L, 3L, t(20)),
      (4L, 4L, t(20))).toDF("p_id", "user_id", "p_ts")
    val r = Seq(
      (101L, 1L, t(10)), (102L, 1L, t(30)),
      (103L, 2L, t(20)), (104L, 2L, t(21)),
      (105L, 3L, t(25)),
      (106L, 4L, t(1)), (107L, 4L, t(39))
    ).toDF("c_id", "c_user", "c_ts")
    for (strat <- Seq("merge", "broadcast")) {
      val got = AsofJoinOp.asof(l, r, Seq("user_id"), Seq("c_user"),
          "p_ts", "c_ts", Seq("c_id"), 15L * 60 * 1000000L,
          joinType = "left", direction = "nearest", strategy = strat)
        .select("p_id", "c_id").collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      assert(got == Map(1L -> Some(101L), 2L -> Some(103L),
        3L -> Some(105L), 4L -> None), s"strat=$strat got $got")
    }
  }

  test("codegen: broadcast as-of fuses into the fact-side pipeline") {
    val df = AsofJoinOp.asof(purchases, clicks, Seq("user_id"),
        Seq("c_user"), "p_ts", "c_ts", Seq("c_id"), H7D,
        strategy = "broadcast")
      .select(col("p_id"), col("c_id"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // fused operators render with a *(n) stage prefix — the probe must sit
    // INSIDE a codegen span (scan → filter → as-of → project, one loop),
    // not break the fact pipeline at an iterator boundary
    val fused = plan.linesIterator
      .filter(_.contains("AsofJoinBroadcast"))
      .filter(_.contains("*(")).toSeq
    assert(fused.length == 1,
      s"broadcast as-of not codegen-fused:\n$plan")
    // left-outer probes are fused too (guarded null-fill path)
    val outerDf = AsofJoinOp.asof(purchases, clicks, Seq("user_id"),
        Seq("c_user"), "p_ts", "c_ts", Seq("c_id"), H7D,
        joinType = "left", strategy = "broadcast")
      .select(col("p_id"), col("c_id"))
    outerDf.collect()
    val outerPlan = outerDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(outerPlan.linesIterator.exists(l =>
      l.contains("AsofJoinBroadcast") && l.contains("*(")),
      s"outer broadcast as-of not codegen-fused:\n$outerPlan")
  }

  // ---- SQL TVF surface (plans/AsofSql.scala) ----

  private def installSqlViews(): Unit = {
    purchases.createOrReplaceTempView("asof_spec_p")
    clicks.createOrReplaceTempView("asof_spec_c")
  }

  test("sql: asof_join TVF equals the DataFrame form and plans the custom exec") {
    installSqlViews()
    val sqlDf = spark.sql(
      """SELECT p_id, user_id, c_id, c_ts
        |FROM asof_join('asof_spec_p', 'asof_spec_c', 'user_id', 'c_user',
        |               'p_ts', 'c_ts', 'c_id', INTERVAL 7 DAYS)
        |ORDER BY p_id""".stripMargin)
    val a = custom.collect().map(_.toSeq)
    val b = sqlDf.collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    // parse → plan: the SQL form must land on the custom operator (auto
    // broadcasts the fixture-sized right side), never the fan-out join
    val plan = sqlDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"fan-out join/window leaked into:\n$plan")
  }

  test("sql: optional TVF args select joinType, direction, and strategy") {
    installSqlViews()
    // forward + forced merge through SQL equals forward through the API
    val sqlFwd = spark.sql(
      """SELECT p_id, c_id FROM asof_join('asof_spec_p', 'asof_spec_c',
        |  'user_id', 'c_user', 'p_ts', 'c_ts', 'c_id', INTERVAL 7 DAYS,
        |  'inner', 'forward', 'merge') ORDER BY p_id""".stripMargin)
    val apiFwd = AsofJoinOp.asof(purchases, clicks, Seq("user_id"),
        Seq("c_user"), "p_ts", "c_ts", Seq("c_id"), H7D,
        direction = "forward", strategy = "merge")
      .select("p_id", "c_id").orderBy("p_id")
    assert(sqlFwd.collect().map(_.toSeq).toSeq ==
      apiFwd.collect().map(_.toSeq).toSeq)
    // 'merge' must pin the sort-merge exec (renders as bare "AsofJoin"),
    // not the broadcast-index one
    val fwdPlan = sqlFwd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(fwdPlan.contains("AsofJoin") && !fwdPlan.contains("AsofJoinBroadcast"),
      s"forced merge not honored:\n$fwdPlan")
    // left-outer through SQL keeps unmatched purchases
    val inner = spark.sql(
      """SELECT count(*) AS n FROM asof_join('asof_spec_p', 'asof_spec_c',
        |  'user_id', 'c_user', 'p_ts', 'c_ts', 'c_id',
        |  INTERVAL 1 HOUR)""".stripMargin).head().getLong(0)
    val outer = spark.sql(
      """SELECT count(*) AS n FROM asof_join('asof_spec_p', 'asof_spec_c',
        |  'user_id', 'c_user', 'p_ts', 'c_ts', 'c_id',
        |  INTERVAL 1 HOUR, 'left')""".stripMargin).head().getLong(0)
    val nPurchases = purchases.count()
    assert(outer == nPurchases && inner < outer,
      s"outer=$outer inner=$inner purchases=$nPurchases")
  }

  test("sql: TVF rejects malformed calls at analysis time") {
    installSqlViews()
    // wrong arity
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('asof_spec_p', 'asof_spec_c')")
    }
    assert(e1.getMessage.contains("8-11"), e1.getMessage)
    // non-literal table name
    intercept[Exception] {
      spark.sql(
        """SELECT * FROM asof_join(p_id, 'asof_spec_c', 'user_id', 'c_user',
          |  'p_ts', 'c_ts', 'c_id', INTERVAL 7 DAYS)""".stripMargin)
    }
    // year-month interval horizon is ambiguous (variable-length months)
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT * FROM asof_join('asof_spec_p', 'asof_spec_c', 'user_id',
          |  'c_user', 'p_ts', 'c_ts', 'c_id', INTERVAL 1 MONTH)""".stripMargin)
    }
    assert(e2.getMessage.toLowerCase.contains("horizon"), e2.getMessage)
    // the underlying operator's validation rides through: bad column
    val e3 = intercept[Exception] {
      spark.sql(
        """SELECT * FROM asof_join('asof_spec_p', 'asof_spec_c', 'no_col',
          |  'c_user', 'p_ts', 'c_ts', 'c_id', INTERVAL 7 DAYS)""".stripMargin)
    }
    assert(e3.getMessage.contains("no_col"), e3.getMessage)
  }

  // ---- hot-key skew salt (asofSkewSalted / strategy = "skewsalt") ----

  /** 90%-one-key fact side: user 1 dominates; plus a sprinkle of normal
    * users, null keys and null times to pin the edge semantics through
    * the salted rewrite. */
  private def skewedFact: DataFrame = {
    val ts0 = java.sql.Timestamp.valueOf("2026-01-10 00:00:00").getTime
    val rows = (0 until 1800).map(i =>
      (i.toLong, Option(1L), Option(new java.sql.Timestamp(ts0 + i * 60000L)))) ++
      (0 until 190).map(i =>
        (5000L + i, Option(2L + (i % 19)),
          Option(new java.sql.Timestamp(ts0 + i * 90000L)))) ++
      Seq((9000L, None: Option[Long],
            Option(new java.sql.Timestamp(ts0 + 1000L))),
          (9001L, Option(1L), None: Option[java.sql.Timestamp]))
    import spark.implicits._
    rows.toDF("p_id", "user_id", "p_ts")
  }

  private def skewedDim: DataFrame = {
    val ts0 = java.sql.Timestamp.valueOf("2026-01-10 00:00:00").getTime
    val rows = (0 until 400).map(i =>
      (100000L + i, Option(1L + (i % 25)),
        Option(new java.sql.Timestamp(ts0 + i * 173000L))))
    import spark.implicits._
    rows.toDF("c_id", "c_user", "c_ts")
  }

  test("skew salt: 90%-one-key fact side is row-identical to the plain merge, all directions") {
    import spark.implicits._
    val hot = Seq(1L).toDF("user_id")
    for (dir <- Seq("backward", "forward", "nearest");
         jt <- Seq("inner", "left")) {
      val plain = AsofJoinOp.asof(skewedFact, skewedDim,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          H7D, joinType = jt, direction = dir, strategy = "merge")
        .select("p_id", "c_id").orderBy("p_id")
        .collect().map(_.toSeq).toSeq
      val salted = AsofJoinOp.asofSkewSalted(skewedFact, skewedDim,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          H7D, hotKeys = hot, joinType = jt, direction = dir,
          saltBuckets = 4)
        .select("p_id", "c_id").orderBy("p_id")
        .collect().map(_.toSeq).toSeq
      assert(plain.nonEmpty, s"$dir/$jt produced no rows")
      assert(salted == plain, s"$dir/$jt diverged under the salt")
    }
  }

  test("skew salt: plan keeps the merge exec, exchanges carry the salt, hot key spreads") {
    import spark.implicits._
    val hot = Seq(1L).toDF("user_id")
    val df = AsofJoinOp.asofSkewSalted(skewedFact, skewedDim,
      Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
      H7D, hotKeys = hot, saltBuckets = 4)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin") && !plan.contains("AsofJoinBroadcast"),
      s"salted rewrite left the merge exec:\n$plan")
    assert(plan.contains("__asof_salt_l") && plan.contains("__asof_salt_r"),
      s"salt columns missing from the exchanges:\n$plan")
    // the hot key's left rows really occupy every salt bucket
    val spread = skewedFact.filter(col("user_id") === 1L)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(col("p_ts")),
        org.apache.spark.sql.functions.lit(4L)).as("salt"))
      .distinct().count()
    assert(spread == 4L, s"hot key only landed in $spread of 4 salt buckets")
  }

  test("skew salt: strategy=skewsalt detects the dominant key end-to-end") {
    val viaStrategy = AsofJoinOp.asof(skewedFact, skewedDim,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        H7D, strategy = "skewsalt")
      .select("p_id", "c_id").orderBy("p_id")
      .collect().map(_.toSeq).toSeq
    val plain = AsofJoinOp.asof(skewedFact, skewedDim,
        Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
        H7D, strategy = "merge")
      .select("p_id", "c_id").orderBy("p_id")
      .collect().map(_.toSeq).toSeq
    assert(viaStrategy == plain)
    // and the detector itself flags exactly the planted key at full sample
    val hot = AsofJoinOp.detectHotKeys(skewedFact, Seq("user_id"),
      fraction = 1.0, minShare = 0.5)
      .collect().map(_.getLong(0)).toSeq
    assert(hot == Seq(1L), s"detector found $hot")
  }
}
