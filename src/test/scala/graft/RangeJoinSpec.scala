package graft

import scala.util.Random

import graft.plans.RangeJoinOp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The custom interval-stab operator (plans/RangeJoin.scala) must be
  * result-identical to the declarative nested-loop form while planning
  * WITHOUT the BroadcastNestedLoopJoin Spark gives the keyless range
  * predicate. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def facts: DataFrame =
    table("customer").select(col("c_custkey"),
      floor(col("c_acctbal") * 100 + 0.5).as("v"))

  private def bands: DataFrame =
    table("supplier").select(col("s_suppkey").as("band_id"),
      floor(col("s_acctbal") * 100 + 0.5).as("lo"))
      .withColumn("hi", col("lo") + 50000L)

  private def declarative(outer: Boolean): DataFrame =
    facts.join(bands,
        col("v") >= col("lo") && col("v") <= col("hi"),
        if (outer) "left" else "inner")
      .select(col("c_custkey"), col("band_id"))
      .orderBy(col("c_custkey"), col("band_id"))

  private def custom(outer: Boolean): DataFrame =
    RangeJoinOp.rangeLookup(facts, bands, "v", "lo", "hi",
        joinType = if (outer) "left" else "inner")
      .select(col("c_custkey"), col("band_id"))
      .orderBy(col("c_custkey"), col("band_id"))

  test("stab join equals the declarative nested-loop form, inner and left") {
    for (outer <- Seq(false, true)) {
      val a = declarative(outer).collect().map(_.toSeq)
      val b = custom(outer).collect().map(_.toSeq)
      assert(a.length == b.length && a.length > 50,
        s"outer=$outer: counts ${a.length} vs ${b.length}")
      assert(a.zip(b).forall { case (x, y) => x == y }, s"outer=$outer")
    }
  }

  test("plan: no nested-loop join; declarative form proves Spark would use one") {
    val d = declarative(false)
    d.collect()
    val dPlan = d.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(dPlan.contains("BroadcastNestedLoopJoin"),
      s"baseline no longer nested-loop — reassess the operator:\n$dPlan")
    val c = custom(false)
    c.collect()
    val cPlan = c.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(cPlan.contains("RangeLookupJoin"), s"custom exec missing:\n$cPlan")
    assert(!cPlan.contains("BroadcastNestedLoopJoin"),
      s"nested loop leaked into the custom plan:\n$cPlan")
    // fact side must not exchange: the only exchange is the broadcast
    assert(!cPlan.contains("Exchange hashpartitioning"),
      s"fact side shuffled:\n$cPlan")
    // and the probe fuses into the fact-side codegen span (a *(n) prefix)
    assert(cPlan.linesIterator.exists(l =>
      l.contains("RangeLookupJoin") && l.contains("*(")),
      s"stab probe not codegen-fused:\n$cPlan")
  }

  test("property: random intervals (overlap/nulls/inverted/dups) match a model") {
    val rnd = new Random(11)
    (1 to 5).foreach { round =>
      def v() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong)
      val fs = (1 to 30 + rnd.nextInt(20)).map(i => (i.toLong, v()))
      val is = (1 to 15 + rnd.nextInt(15)).map { i =>
        // mix of proper, inverted (empty), null-bounded, and giant
        // intervals (the prefix-max worst case)
        val a = v()
        val b = if (rnd.nextInt(6) == 0) Some(99L) else v()
        (100L + i, a, b)
      }
      val fDf = fs.toDF("fid", "v")
      val iDf = is.toDF("iid", "lo", "hi")
      for (loInc <- Seq(true, false); hiInc <- Seq(true, false);
           outer <- Seq(false, true)) {
        val got = RangeJoinOp.rangeLookup(fDf, iDf, "v", "lo", "hi",
            joinType = if (outer) "left" else "inner",
            loInclusive = loInc, hiInclusive = hiInc)
          .select("fid", "iid").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val model: Map[Long, Set[Option[Long]]] = fs.flatMap {
          case (fid, Some(x)) =>
            val hits = is.collect {
              case (iid, Some(a), Some(b))
                  if (if (loInc) a <= x else a < x) &&
                     (if (hiInc) x <= b else x < b) => iid
            }
            if (hits.nonEmpty) Some(fid -> hits.map(Option(_)).toSet)
            else if (outer) Some(fid -> Set(Option.empty[Long]))
            else None
          case (fid, None) =>
            if (outer) Some(fid -> Set(Option.empty[Long])) else None
        }.toMap
        assert(got == model,
          s"round=$round loInc=$loInc hiInc=$hiInc outer=$outer\n" +
            s"got    ${got.toSeq.sortBy(_._1)}\nexpect " +
            s"${model.toSeq.sortBy(_._1)}")
      }
    }
  }

  test("edges: empty interval side, all-null values") {
    val fDf = Seq((1L, Option(5L)), (2L, Option.empty[Long]))
      .toDF("fid", "v")
    val empty = Seq.empty[(Long, Long, Long)].toDF("iid", "lo", "hi")
    assert(RangeJoinOp.rangeLookup(fDf, empty, "v", "lo", "hi").count() == 0)
    val leftAll = RangeJoinOp.rangeLookup(fDf, empty, "v", "lo", "hi",
      joinType = "left")
    assert(leftAll.count() == 2 &&
      leftAll.filter(col("iid").isNull).count() == 2)
  }

  test("sql: range_lookup TVF equals the DataFrame form") {
    facts.createOrReplaceTempView("range_spec_facts")
    bands.createOrReplaceTempView("range_spec_bands")
    val sqlDf = spark.sql(
      """SELECT c_custkey, band_id
        |FROM range_lookup('range_spec_facts', 'range_spec_bands',
        |                  'v', 'lo', 'hi')
        |ORDER BY c_custkey, band_id""".stripMargin)
    val a = custom(false).collect().map(_.toSeq)
    val b = sqlDf.collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    assert(sqlDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).contains("RangeLookupJoin"))
    // optional args: exclusive bounds through SQL = exclusive through API
    val sqlExcl = spark.sql(
      """SELECT count(*) AS n
        |FROM range_lookup('range_spec_facts', 'range_spec_bands',
        |                  'v', 'lo', 'hi', 'inner', false, false)""".stripMargin)
      .head().getLong(0)
    val apiExcl = RangeJoinOp.rangeLookup(facts, bands, "v", "lo", "hi",
      loInclusive = false, hiInclusive = false).count()
    assert(sqlExcl == apiExcl)
    // malformed: bad arity
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM range_lookup('range_spec_facts')")
    }
    assert(e.getMessage.contains("5-8"), e.getMessage)
  }

  test("partitioned grid path equals the stab exec, and plans a hash join") {
    for (outer <- Seq(false, true)) {
      val part = RangeJoinOp.rangeLookupPartitioned(facts, bands,
          "v", "lo", "hi", bucketWidth = 50000L,
          joinType = if (outer) "left" else "inner")
        .select(col("c_custkey"), col("band_id"))
        .orderBy(col("c_custkey"), col("band_id"))
      val a = custom(outer).collect().map(_.toSeq)
      val b = part.collect().map(_.toSeq)
      assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
        s"outer=$outer: ${a.length} vs ${b.length}")
    }
    // the point of the grid path: an EQUI join (hash/broadcast-able by
    // Catalyst, AQE-tunable), never a nested loop — at any interval scale
    val p = RangeJoinOp.rangeLookupPartitioned(facts, bands,
      "v", "lo", "hi", bucketWidth = 50000L)
    p.collect()
    val plan = p.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"grid path fell back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
    // odd grid width (buckets misaligned with band edges) — same rows
    val odd = RangeJoinOp.rangeLookupPartitioned(facts, bands,
        "v", "lo", "hi", bucketWidth = 7777L)
      .select(col("c_custkey"), col("band_id"))
      .orderBy(col("c_custkey"), col("band_id")).collect().map(_.toSeq)
    assert(odd.toSeq == custom(false).collect().map(_.toSeq).toSeq)
  }

  test("spanning-interval shape: tree prunes non-matches, rows still exact") {
    // The pre-tree walk's worst case: one interval covering everything
    // keeps a running prefix-max high, forcing a linear scan over every
    // narrow non-matching interval to its left. Correctness here pins the
    // segment-max descent on exactly that shape (matches are the spanning
    // row plus at most one narrow row per fact).
    val fDf = (0L until 2000L).map(i => (i, i * 10L)).toDF("fid", "v")
    val narrow = (0L until 2000L).map(i => (i, i * 10L + 1, i * 10L + 3))
    val iDf = (narrow :+ ((9999L, -1000000L, 1000000L)))
      .toDF("iid", "lo", "hi")
    val got = RangeJoinOp.rangeLookup(fDf, iDf, "v", "lo", "hi")
      .select("fid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // narrow bands [10i+1, 10i+3] never contain v = 10i → only the
    // spanning interval matches, once per fact
    assert(got == (0L until 2000L).map(i => (i, 9999L)).toSet)
    // and a shape where narrow bands DO match: v = 10i+2
    val fDf2 = (0L until 2000L).map(i => (i, i * 10L + 2)).toDF("fid", "v")
    val got2 = RangeJoinOp.rangeLookup(fDf2, iDf, "v", "lo", "hi")
      .select("fid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == (0L until 2000L).flatMap(i =>
      Seq((i, i), (i, 9999L))).toSet)
  }

  test("auto strategy: broadcast stab under the threshold, grid when disabled") {
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    def auto(): DataFrame = RangeJoinOp.rangeLookupAuto(facts, bands,
        "v", "lo", "hi", bucketWidth = 50000L)
      .select(col("c_custkey"), col("band_id"))
      .orderBy(col("c_custkey"), col("band_id"))
    val expected = custom(false).collect().map(_.toSeq).toSeq
    // default threshold (10 MB): the supplier-sized interval side fits —
    // auto must pick the broadcast stab exec (zero fact-side shuffle)
    val bPlan = planOf(auto())
    assert(bPlan.contains("RangeLookupJoin"),
      s"auto under threshold should broadcast-stab:\n$bPlan")
    assert(auto().collect().map(_.toSeq).toSeq == expected)
    // broadcast disabled: auto must degrade to the partitioned grid —
    // an equi hash join, never the stab exec's driver-side build
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gPlan = planOf(auto())
      assert(!gPlan.contains("RangeLookupJoin"),
        s"auto with broadcast disabled still chose the stab exec:\n$gPlan")
      assert(!gPlan.contains("BroadcastNestedLoopJoin"),
        s"auto degraded to a nested loop:\n$gPlan")
      assert(gPlan.contains("HashJoin") || gPlan.contains("SortMergeJoin"),
        s"expected an equi join in the grid plan:\n$gPlan")
      assert(auto().collect().map(_.toSeq).toSeq == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // explicit forcing bypasses the stats signal in both directions
    val forcedGrid = planOf(RangeJoinOp.rangeLookupAuto(facts, bands,
      "v", "lo", "hi", bucketWidth = 50000L, strategy = "partitioned"))
    assert(!forcedGrid.contains("RangeLookupJoin"))
    val forcedBcast = planOf(RangeJoinOp.rangeLookupAuto(facts, bands,
      "v", "lo", "hi", bucketWidth = 50000L, strategy = "broadcast"))
    assert(forcedBcast.contains("RangeLookupJoin"))
  }

  test("partitioned grid path: negative values bucket correctly (floor div)") {
    // negative domain straddling zero — a truncating division would put
    // -1 and 1 in the same bucket and lose the [-10,-2] match
    val fDf = Seq((1L, -5L), (2L, 3L), (3L, -100L)).toDF("fid", "v")
    val iDf = Seq((10L, -10L, -2L), (20L, 0L, 9L), (30L, -200L, -50L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoinOp.rangeLookupPartitioned(fDf, iDf,
        "v", "lo", "hi", bucketWidth = 8L)
      .select("fid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L)), s"got $got")
  }

  test("partitioned grid path: catch-all interval fails fast, named") {
    val fDf = Seq((1L, 5L)).toDF("fid", "v")
    // a sentinel "everything" row would otherwise replicate to ~2e14
    // buckets (or overflow sequence's array limit) — the guard must name
    // the offending interval instead
    val iDf = Seq((10L, 0L, Long.MaxValue / 2)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoinOp.rangeLookupPartitioned(fDf, iDf, "v", "lo", "hi",
        bucketWidth = 8L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("spans more than")),
      s"guard message missing: ${msgs(e)}")
    // shared column names rejected (ambiguous unqualified references)
    val shared = Seq((1L, 2L, 3L)).toDF("v", "lo", "hi")
    val e2 = intercept[IllegalArgumentException] {
      RangeJoinOp.rangeLookupPartitioned(fDf.withColumnRenamed("fid", "lo"),
        shared, "v", "lo", "hi", bucketWidth = 8L)
    }
    assert(e2.getMessage.contains("alias"))
  }

  test("stream-static: streaming facts stab a static interval table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val iDf = Seq((100L, 0L, 10L), (200L, 5L, 15L), (300L, 50L, 60L))
      .toDF("iid", "lo", "hi")
    val q = RangeJoinOp.rangeLookup(
        in.toDF.toDF("fid", "v"), iDf, "v", "lo", "hi")
      .writeStream.format("memory").queryName("range_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L), (2L, 55L), (3L, 99L))
      q.processAllAvailable()
      val got = spark.table("range_stream").select("fid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // 7 ∈ [0,10] and [5,15]; 55 ∈ [50,60]; 99 matches nothing
      assert(got == Set((1L, 100L), (1L, 200L), (2L, 300L)), s"got $got")
      // a second batch re-plans incrementally and still stabs correctly
      in.addData((4L, 12L))
      q.processAllAvailable()
      val got2 = spark.table("range_stream").select("fid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == got + ((4L, 200L)), s"got $got2")
    } finally q.stop()
  }

  test("stream-static: the partitioned grid path also streams (scale twin)") {
    // same contract as the stab stream test but through the
    // no-broadcast-ceiling path: the static interval side pre-explodes to
    // grid buckets and each micro-batch equi-joins on bucket + residual —
    // the shape a too-big-to-broadcast interval table needs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val iDf = Seq((100L, 0L, 10L), (200L, 5L, 15L), (300L, 50L, 60L))
      .toDF("iid", "lo", "hi")
    val q = RangeJoinOp.rangeLookupPartitioned(
        in.toDF.toDF("fid", "v"), iDf, "v", "lo", "hi", bucketWidth = 8L)
      .writeStream.format("memory").queryName("range_grid_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 7L), (2L, 55L), (3L, 99L), (4L, 12L))
      q.processAllAvailable()
      val got = spark.table("range_grid_stream").select("fid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (1L, 200L), (2L, 300L), (4L, 200L)),
        s"got $got")
    } finally q.stop()
  }

  test("fails fast on bad arguments") {
    val fDf = Seq((1L, 5L)).toDF("fid", "v")
    val iDf = Seq((9L, 1L, 8L)).toDF("iid", "lo", "hi")
    val e1 = intercept[IllegalArgumentException] {
      RangeJoinOp.rangeLookup(fDf,
        iDf.withColumn("lo", col("lo").cast("int")), "v", "lo", "hi")
    }
    assert(e1.getMessage.contains("type mismatch"))
    intercept[IllegalArgumentException] {
      RangeJoinOp.rangeLookup(fDf, iDf, "no_col", "lo", "hi")
    }
    val base = Seq((1L, 2L, 3L)).toDF("a", "b", "c")
    val e2 = intercept[IllegalArgumentException] {
      RangeJoinOp.rangeLookup(base, base, "a", "b", "c")
    }
    assert(e2.getMessage.contains("alias"))
  }

  test("auto strategy validates the BIGINT contract up front, on every path") {
    // a timestamp/int-bound caller must fail at PLAN time even while the
    // interval side would broadcast — not months later when its stats
    // grow past the threshold and the grid fallback meets types its
    // integer math can't handle
    val fDf = Seq((1L, 5)).toDF("fid", "v") // v: INT, not BIGINT
    val iDf = Seq((9L, 1L, 8L)).toDF("iid", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeJoinOp.rangeLookupAuto(fDf, iDf, "v", "lo", "hi",
        bucketWidth = 10L)
    }
    assert(e.getMessage.contains("BIGINT"), e.getMessage)
    // the broadcast-only front door still takes orderable non-BIGINT types
    val ok = RangeJoinOp.rangeLookup(
      fDf.withColumn("v", col("v").cast("double")),
      iDf.select(col("iid"), col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi")),
      "v", "lo", "hi")
    assert(ok.count() == 1)
  }
}
