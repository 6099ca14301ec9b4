package graft.operators

import graft.QueryModule
import graft.functions.{Artifacts, BucketedTable, FsUtil}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 C — the join family.
  *
  * Scale notes (100 TB posture):
  *  - Fact⋈fact equi-joins (orders⋈customer) shuffle both sides on the key →
  *    sort-merge join; AQE re-plans to broadcast when the build side is small.
  *  - Dimension joins (lineitem⋈part) use an explicit broadcast() hint: the
  *    dim table ships once per executor, no shuffle of the 100 TB fact side.
  *  - Theta joins are BroadcastNestedLoopJoin — only valid when one side is
  *    tiny (here: supplier, 100 rows×SF). A fact×fact theta join would be a
  *    deliberate design error at scale.
  *  - Interval/as-of joins anchor on an EQUI key (user_id) so Spark plans a
  *    hash-partitioned join with the time predicate as a residual filter —
  *    this is the formulation that survives 100×: state per key is bounded,
  *    no cross product across keys.
  */
object JoinQueries extends QueryModule {

  /** Write-once bucketed copy of a fixture projection (the
    * BucketedTable convention): the bucketed table IS the stored layout
    * (the point of bucketing), so files built for this fixture are
    * reused — a fresh JVM re-registers them metadata-only instead of
    * rewriting. External at `Artifacts.path("bucketed", "graft_bkt_<name>",
    * dir)`; the catalog name is the data dir's name. */
  private def bucketize(s: SparkSession, dir: String, name: String,
      key: String, ddlSchema: String, df: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val path = Artifacts.path("bucketed", s"graft_bkt_$name", dir)
    BucketedTable.readOrBuild(s, new java.io.File(path).getName, path,
      Seq(key), ddlSchema)(df)
  }

  private def bucketedLineitem(s: SparkSession, dir: String) =
    bucketize(s, dir, "li", "l_orderkey",
      "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))

  /** Write-once MONTH-PARTITIONED copy of orders — the layout that
    * makes dynamic partition pruning (q_dpp_join) possible: at 100 TB the
    * fact table IS stored partitioned on its time key, and a dim-filtered
    * join then scans only the surviving partitions. ~80 calendar months
    * at any SF — bounded partition count by construction. */
  private def partitionedOrders(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(Artifacts.ensure(Artifacts.path("partitioned", "ord", dir),
        "_SUCCESS") { path =>
      // the data dir IS the artifact root: clear a crashed build's files
      // and APPEND, so the held `_writer.lock` is never deleted (an
      // overwrite would drop the whole dir; readers skip `_` files)
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName == "_writer.lock")
        .foreach(FsUtil.deleteRecursively)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
        .write.mode("append").partitionBy("o_month").parquet(path)
    })

  /** AUTO-SIZED interval-join cell width (round-9 verdict task #6, the
    * SimHash.blocksForCorpus discipline: derive the constant from the
    * data). Cost model for a banded interval join with window W and cell
    * w on a stream of per-key event rate d: candidate pairs admitted by
    * the cell-equality join span offsets ≈ (−w, W + w) vs the qualifying
    * (0, W] — excess ∝ d²·(W + 2w) — while the right side replicates to
    * ⌈W/w⌉ + 1 cells — overhead ∝ d·(W/w). Balancing the two gives
    * w* = √(W / 2d), clamped to [W/16, W]: sparse streams (the fixtures:
    * d ≈ 5e-5 events/s/user ⇒ w* ≫ W) keep the minimal 2-replica cover
    * at w = W, and only a stream dense enough that per-cell pair volume
    * dominates (d ≳ 2/W, several events per key per window) shrinks the
    * cell — CoverageSpec plants exactly that and pins result equality.
    * Stats come from ONE bounded aggregate (count, approx-distinct keys,
    * ts span — no extra shuffle beyond the 1-row agg); at warehouse
    * scale read them from table statistics instead of a scan. */
  /** Width memo keyed by (canonicalized source plan, window): the stats
    * are per-relation constants, so the measuring scan runs once per JVM
    * per source — the table-statistics behavior a warehouse gets for
    * free. A (vanishingly unlikely) 32-bit semanticHash collision can
    * only mis-SIZE the cell, never change results — the exact range
    * re-check makes every width result-identical. */
  private val cellWidthMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Long]()

  private[graft] def intervalCellWidth(
      ev: org.apache.spark.sql.DataFrame, windowSec: Long): Long =
    cellWidthMemo.computeIfAbsent(
      (ev.queryExecution.analyzed.semanticHash(), windowSec), _ => {
        val st = ev.agg(count(lit(1)), approx_count_distinct(col("user_id")),
          min(col("ts").cast("double")), max(col("ts").cast("double"))).head()
        if (st.isNullAt(2)) windowSec // empty relation: any cover works
        else {
          val d = st.getLong(0).toDouble / math.max(st.getLong(1), 1L) /
            math.max(st.getDouble(3) - st.getDouble(2), 1.0)
          val w = math.sqrt(windowSec / (2.0 * math.max(d, 1e-12))).toLong
          math.max(math.max(windowSec / 16, 1L), math.min(windowSec, w))
        }
      })

  /** The q_join_interval body over any events-shaped relation (user_id,
    * event_id, ts, event_type) — factored so CoverageSpec can drive it
    * with a PLANTED dense stream where the auto-sized cell actually
    * shrinks. Cell width from [[intervalCellWidth]]; replica count for
    * the k-cell cover: ts ∈ [ts2 − W, ts2) ⟹ cell(ts) ∈
    * {cell(ts2) − ⌈W/w⌉ .. cell(ts2)} (floor is monotone and
    * floor((x−W)/w) ≥ floor(x/w) − ⌈W/w⌉), so the right side replicates
    * to exactly ⌈W/w⌉ + 1 cells and every qualifying pair meets in
    * EXACTLY one (b2 is fixed per replica); at w = W this is the
    * original two-cell cover. The exact range re-check keeps the result
    * identical to the naive join for ANY w. */
  private[graft] def intervalFollowJoin(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = 300L // the query's 5-minute window, in seconds
    val wSec = intervalCellWidth(ev, W)
    val reps = (W + wSec - 1) / wSec + 1
    // seconds-precision cell id; double cast keeps microseconds exact
    // (2^53 > 1.7e15) and floor(/w) is monotone
    def cell(ts: org.apache.spark.sql.Column) =
      floor(ts.cast("double") / wSec).cast("long")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"),
        cell(col("ts")).as("b"))
    val follows = ev
      .select(col("user_id").as("u2"), col("ts").as("ts2"),
        cell(col("ts")).as("b2"))
      .select(col("u2"), col("ts2"),
        explode(sequence(col("b2") - lit(reps - 1), col("b2"))).as("b"))
    clicks.join(follows,
        col("user_id") === col("u2") && clicks("b") === follows("b")
          && col("ts2") > col("ts")
          && col("ts2") <= col("ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("user_id"), col("event_id"))
      .agg(count(lit(1)).as("n_follow"))
      .orderBy("user_id", "event_id")
  }

  override def queries: Map[String, Q] = Map(
    "q_join_inner" -> ((s, dir) =>
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy("o_orderkey")),

    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "lineitem").join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        // exact DECIMAL accumulation (order-independent across partitions),
        // DOUBLE on the wire — a raw double SUM is partition-order-dependent
        // and can cross a ROUND boundary at scale.
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")),

    "q_join_left" -> ((s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_acctbal") > 9500)
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    "q_join_right" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .join(t(s, dir, "customer").filter(col("c_acctbal") > 9500),
          col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    "q_join_full" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .join(t(s, dir, "customer").filter(col("c_acctbal") > 9000),
          col("o_custkey") === col("c_custkey"), "full")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy(col("o_orderkey").asc_nulls_first,
          col("c_custkey").asc_nulls_first)),

    "q_join_semi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_join_cross" -> ((s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    "q_join_theta" -> ((s, dir) => {
      val s1 = t(s, dir, "supplier").select(col("s_suppkey").as("a_key"),
        col("s_acctbal").as("a_bal"))
      val s2 = t(s, dir, "supplier").select(col("s_suppkey").as("b_key"),
        col("s_acctbal").as("b_bal"))
      s1.join(s2, col("a_bal") < col("b_bal"))
        .select(col("a_key"), col("b_key"),
          round(col("b_bal") - col("a_bal"), 4).as("gap"))
        .orderBy("a_key", "b_key")
    }),

    // Follows-within-5-minutes self-join. The naive plan joins on user_id
    // alone and evaluates the time band as a join-condition filter — per
    // user that is |events|² compares (133M row pairs at sf1, and the
    // per-user product grows quadratically with history length). BAND
    // BUCKETING makes the equi-key carry the time dimension: left rows
    // key on their time cell, right rows replicate to the ⌈W/w⌉ + 1
    // cells that can hold a qualifying partner — every qualifying pair
    // meets in EXACTLY one cell (b2 is fixed per replica), so after the
    // exact range re-check the result is identical to the naive join.
    // Join volume drops from Σ_user n² to Σ_(user, cell) n·m over
    // adjacent cells — linear in events for bounded event rates, the
    // standard interval-join binning a streaming engine does internally.
    // The cell width is MEASURED from the data (intervalCellWidth), not
    // hard-coded: sparse streams keep the minimal 2-replica w = W cover,
    // dense streams shrink the cell to cut per-cell pair volume.
    "q_join_interval" -> ((s, dir) =>
      intervalFollowJoin(t(s, dir, "events"))),

    // Keyless interval-stab join on the THIRD custom operator
    // (plans/RangeJoin.scala): which supplier credit bands contain each
    // customer's balance — `v BETWEEN lo AND hi` with NO equi-key, the
    // shape Spark plans as BroadcastNestedLoopJoin (O(facts × intervals)
    // compares). The stab exec binary-searches sorted interval starts and
    // walks the bounded overlap region: O(log m + depth) per fact row.
    // Bounds are integer cents via the portable round FLOOR(x*100 + 0.5)
    // — acctbal is DOUBLE in the fixture, so x*100 is often not an exact
    // integer and a bare cast diverges cross-engine (Spark truncates,
    // DuckDB rounds half-even); floor(+0.5) is the identical IEEE op
    // sequence on both sides.
    "q_range_lookup" -> ((s, dir) => {
      val facts = t(s, dir, "customer").select(col("c_custkey"),
        floor(col("c_acctbal") * 100 + 0.5).as("v"))
      val bands = t(s, dir, "supplier")
        .select(col("s_suppkey").as("band_id"),
          floor(col("s_acctbal") * 100 + 0.5).as("lo"))
        .withColumn("hi", col("lo") + 50000L)
      graft.plans.RangeJoinOp.rangeLookup(facts, bands, "v", "lo", "hi")
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_bands"), min("band_id").as("first_band"))
        .orderBy("c_custkey")
    }),

    // The SAME relation on the PARTITIONED scale path: grid-bucket the
    // cents domain (width = the band width, so each interval replicates
    // to ≤ 2 buckets), then EQUI-join on the bucket + range residual — a
    // plain shuffled hash join with no broadcast ceiling and no nested
    // loop. The plan for an interval side too large to broadcast;
    // oracle-gated against the identical DuckDB relation.
    "q_range_bucket" -> ((s, dir) => {
      val facts = t(s, dir, "customer").select(col("c_custkey"),
        floor(col("c_acctbal") * 100 + 0.5).as("v"))
      val bands = t(s, dir, "supplier")
        .select(col("s_suppkey").as("band_id"),
          floor(col("s_acctbal") * 100 + 0.5).as("lo"))
        .withColumn("hi", col("lo") + 50000L)
      graft.plans.RangeJoinOp.rangeLookupPartitioned(facts, bands,
          "v", "lo", "hi", bucketWidth = 50000L)
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_bands"), min("band_id").as("first_band"))
        .orderBy("c_custkey")
    }),

    "q_join_asof" -> ((s, dir) => {
      // For each purchase, the latest click by the same user at ts <= purchase
      // ts AND within a 7-day horizon. Equi-anchor on user_id; window rank
      // picks the as-of row. The horizon is the scale contract: without it,
      // candidates = every prior click per user — unbounded history at 100×.
      // With it, per-purchase candidates are capped by the key's 7-day click
      // volume (same bounded-state idea as q_join_interval / a stream-stream
      // interval join), and the range shows up as a residual join condition.
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      val w = Window.partitionBy("p_id")
        .orderBy(col("c_ts").desc, col("c_id").desc)
      p.join(c, col("user_id") === col("c_user") && col("c_ts") <= col("p_ts")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"),
          "inner")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("user_id"), col("c_id").as("asof_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // The SAME as-of relation computed by the custom operator
    // (plans/AsofJoin.scala): no candidate fan-out, no rank window. The
    // strategy is AUTO — the planner broadcasts the click side when its
    // stats fall under autoBroadcastJoinThreshold (as on the fixtures)
    // and falls back to the co-partitioned sort-merge exec when both
    // sides are large, mirroring Spark's own join-strategy choice.
    // Driver-gated against the identical DuckDB oracle as q_join_asof, so
    // the custom exec's output is hash-checked at all three SFs.
    "q_asof_custom" -> ((s, dir) => {
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      graft.plans.AsofJoinOp.asof(p, c,
          leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
          leftTime = "p_ts", rightTime = "c_ts",
          rightTieBreak = Seq("c_id"),
          horizonMicros = 7L * 24 * 3600 * 1000000L)
        .select(col("p_id"), col("user_id"), col("c_id").as("asof_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // The SAME relation again on the BROADCAST as-of exec: the reference
    // side (clicks) broadcasts whole and the fact side never shuffles —
    // the plan for enriching a huge fact stream against a small reference
    // table at 100 TB. Oracle-gated like its siblings.
    "q_asof_bcast" -> ((s, dir) => {
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      graft.plans.AsofJoinOp.asof(p, c,
          leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
          leftTime = "p_ts", rightTime = "c_ts",
          rightTieBreak = Seq("c_id"),
          horizonMicros = 7L * 24 * 3600 * 1000000L,
          strategy = "broadcast")
        .select(col("p_id"), col("user_id"), col("c_id").as("asof_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // FORWARD as-of on the custom operator: the earliest click AT or AFTER
    // each purchase within 7 days — "what did the user do next". Equal-time
    // ties resolve to the MIN click id (the mirror of backward's max).
    "q_asof_forward" -> ((s, dir) => {
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      graft.plans.AsofJoinOp.asof(p, c,
          leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
          leftTime = "p_ts", rightTime = "c_ts",
          rightTieBreak = Seq("c_id"),
          horizonMicros = 7L * 24 * 3600 * 1000000L,
          direction = "forward")
        .select(col("p_id"), col("user_id"), col("c_id").as("next_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // LEFT-OUTER as-of on the custom operator: purchases with no click in
    // the horizon survive with a null right side — the usual enrichment
    // contract (every fact row kept, latest dimension state attached).
    "q_asof_outer" -> ((s, dir) => {
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      graft.plans.AsofJoinOp.asof(p, c,
          leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
          leftTime = "p_ts", rightTime = "c_ts",
          rightTieBreak = Seq("c_id"),
          horizonMicros = 7L * 24 * 3600 * 1000000L,
          joinType = "left")
        .select(col("p_id"), col("user_id"), col("c_id").as("asof_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // NEAREST as-of on the custom operator: the temporally closest click
    // within ±7 days — either side. Exact matches and equidistant ties
    // resolve to the backward side (then its max-id tie-break); the merge
    // pass already holds both neighbors (backward candidate + head), so
    // nearest costs the same single pass as backward. pandas merge_asof
    // parity: backward/forward/nearest are all first-class directions.
    "q_asof_nearest" -> ((s, dir) => {
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
      graft.plans.AsofJoinOp.asof(p, c,
          leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
          leftTime = "p_ts", rightTime = "c_ts",
          rightTieBreak = Seq("c_id"),
          horizonMicros = 7L * 24 * 3600 * 1000000L,
          direction = "nearest")
        .select(col("p_id"), col("user_id"), col("c_id").as("near_click"),
          round(col("c_value"), 4).as("click_value"))
        .orderBy("p_id")
    }),

    // The SAME relation through the SQL surface: asof_join is a
    // table-valued function (plans/AsofSql.scala), so the custom operator
    // is reachable from plain spark.sql — the TVF builder delegates to the
    // one AsofJoinOp.asof path, so validation, tie-break contract, and the
    // auto broadcast/merge choice are identical to the DataFrame form.
    // Oracle-gated against the same DuckDB relation as q_asof_custom.
    "q_asof_sql" -> ((s, dir) => {
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
        .createOrReplaceTempView("asof_sql_purchases")
      t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"), col("value").as("c_value"))
        .createOrReplaceTempView("asof_sql_clicks")
      s.sql("""
        SELECT p_id, user_id, c_id AS asof_click,
               ROUND(c_value, 4) AS click_value
        FROM asof_join('asof_sql_purchases', 'asof_sql_clicks',
                       'user_id', 'c_user', 'p_ts', 'c_ts', 'c_id',
                       INTERVAL 7 DAYS)
        ORDER BY p_id""")
    }),

    "q_null_safe_join" -> ((s, dir) => {
      // Null-safe equi-join: `<=>` (IS NOT DISTINCT FROM) treats NULL as a
      // joinable key value. Spark plans EqualNullSafe as a first-class hash
      // join key (no cartesian fallback), so the NULL rows land in one hash
      // bucket like any other key. The dim side is the distinct synthesized
      // segments (≤5 incl. NULL) — broadcast, so the fact side never
      // shuffles; each fact row matches exactly one dim row.
      val c = t(s, dir, "customer")
        .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
      val dim = c.groupBy(col("seg").as("d_seg"))
        .agg(count(lit(1)).as("seg_n"))
      c.join(broadcast(dim), col("seg") <=> col("d_seg"))
        .select(col("c_custkey"),
          coalesce(col("seg"), lit("NULLSEG")).as("seg_filled"),
          col("seg_n"))
        .orderBy("c_custkey")
    }),

    // Bucketed co-located join — the 100 TB join posture made concrete:
    // both fact tables are written bucketed (8 buckets) on the join key,
    // then the merge join reads bucket-aligned scans with NO shuffle
    // exchange on either side (PlanSpec asserts the plan shape). This is
    // the "pay the shuffle once at write time" discipline: at cluster
    // scale the bucketed copies are the stored layout and every
    // subsequent orderkey join — this one, point lookups, incremental
    // MERGEs — skips its Exchange. Tables are external write-once
    // artifacts keyed by the fixture's content tag (Artifacts), so scale
    // factors can't cross-contaminate and a fresh JVM re-registers the
    // files instead of rewriting them. The MERGE hint keeps
    // the demonstration honest — without it AQE would broadcast the
    // orders side at fixture scale and the bucketing would be unused.
    "q_join_bucketed" -> ((s, dir) => {
      val li = bucketedLineitem(s, dir)
      val ord = bucketize(s, dir, "ord", "o_orderkey",
        "o_orderkey BIGINT, o_orderpriority STRING",
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")))
      li.hint("merge")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Bucket-pruned point lookup — the other half of the bucketed-table
    // story: an equality filter on the bucket key scans ONE bucket of
    // eight (the plan shows SelectedBucketsCount 1/8 —
    // TemporalQualitySpec asserts it), which is how a 100 TB keyed fact
    // serves point queries without an index. The probe key is the max
    // order id, resolved by a bounded 1-row aggregate up front (the
    // ZOrderWrite boundary-sample discipline) because bucket pruning
    // needs a LITERAL at plan time.
    "q_bucket_lookup" -> ((s, dir) => {
      val k = t(s, dir, "lineitem").agg(max(col("l_orderkey")))
        .head().getLong(0)
      bucketedLineitem(s, dir)
        .filter(col("l_orderkey") === lit(k))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("l_orderkey")
    }),

    // Dynamic partition pruning under the oracle gate — the last standard
    // 100 TB scan lever (static pushdown = q_scan_prune, bucket pruning =
    // q_bucket_lookup; this is the RUNTIME one): the fact is stored
    // partitioned by order month, the dim side (a month calendar derived
    // from the original parquet) carries a selective quarter filter, and
    // the join key is the partition column — so Spark broadcasts the
    // filtered dim, REUSES that broadcast as a DynamicPruningExpression
    // in the fact scan's partition filters, and reads ~21 of ~80 month
    // partitions instead of all of them. PlanSpec asserts the executed
    // plan shape (dynamicpruning subquery in PartitionFilters + pruned
    // partition count); the oracle executes the same relation on the
    // UNPARTITIONED source, so a hash match proves the partitioned copy
    // + pruning is semantics-preserving.
    "q_dpp_join" -> ((s, dir) => {
      val fact = partitionedOrders(s, dir)
      val dim = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          quarter(col("o_orderdate")).as("qtr"))
        .distinct()
        .filter(col("qtr") === 2)
      fact.join(broadcast(dim), col("o_month") === col("month"))
        .groupBy("o_month")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("rev"))
        .orderBy("o_month")
    }),

    // Unique-key join elimination under the oracle gate: the query left-
    // joins the customer dimension but reads only order columns, so with
    // c_custkey DECLARED unique the optimizer rule (plans/JoinElimination)
    // drops the join — while the ORACLE executes the join literally. A
    // hash match proves the elimination is semantics-preserving, the
    // q_rollup_rewrite discipline; JoinElimSpec proves the join actually
    // left the plan (eliminatedCount + plan walk).
    "q_join_elim" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      // scoped registration: unregisterKey removes only THIS declaration,
      // never a library user's other keys (clear() would wipe them); the
      // finally keeps the global registry clean even when Materialize
      // throws, so a failed run can't leak the key into unrelated queries
      graft.plans.JoinElimination.registerUniqueKey(customer, Seq("c_custkey"))
      try graft.functions.Materialize(
        orders
          .join(customer,
            orders("o_custkey") === customer("c_custkey"), "left")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("rev"))
          .orderBy("o_orderpriority"))
      finally graft.plans.JoinElimination.unregisterKey(customer)
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // same relation over the UNPARTITIONED source — the oracle doesn't
    // care that Spark answered it from a month-partitioned copy with a
    // runtime-pruned scan
    "q_dpp_join" ->
      """WITH f AS (SELECT STRFTIME(o_orderdate, '%Y-%m') AS o_month,
        |                  o_totalprice
        |           FROM orders),
        |dim AS (SELECT DISTINCT STRFTIME(o_orderdate, '%Y-%m') AS month,
        |               QUARTER(o_orderdate) AS qtr
        |        FROM orders)
        |SELECT o_month, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM f JOIN dim ON f.o_month = dim.month
        |WHERE dim.qtr = 2
        |GROUP BY o_month ORDER BY o_month""".stripMargin,

    "q_join_elim" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_null_safe_join" ->
      """WITH c AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
        |           FROM customer),
        |     dim AS (SELECT seg AS d_seg, COUNT(*) AS seg_n FROM c GROUP BY seg)
        |SELECT c_custkey, COALESCE(seg, 'NULLSEG') AS seg_filled, seg_n
        |FROM c JOIN dim ON seg IS NOT DISTINCT FROM d_seg
        |ORDER BY c_custkey""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, ROUND(o_totalprice, 4) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 4) AS price
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9500) c
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 4) AS price
        |FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |RIGHT JOIN (SELECT * FROM customer WHERE c_acctbal > 9500) c
        |  ON o.o_custkey = c.c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_full" ->
      """SELECT o_orderkey, c_custkey, c_name, ROUND(o_totalprice, 4) AS price
        |FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |FULL JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |  ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_theta" ->
      """SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
        |       ROUND(b.s_acctbal - a.s_acctbal, 4) AS gap
        |FROM supplier a JOIN supplier b ON a.s_acctbal < b.s_acctbal
        |ORDER BY a_key, b_key""".stripMargin,

    "q_join_interval" ->
      """SELECT e1.user_id, e1.event_id, COUNT(*) AS n_follow
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        |WHERE e1.event_type = 'click'
        |GROUP BY e1.user_id, e1.event_id
        |ORDER BY e1.user_id, e1.event_id""".stripMargin,

    // integer-cents bounds via the portable round FLOOR(x*100 + 0.5):
    // identical IEEE ops both engines (a bare BIGINT cast truncates in
    // Spark but rounds in DuckDB — off-by-a-cent boundary drift)
    "q_range_lookup" ->
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_bands,
        |       MIN(s_suppkey) AS first_band
        |FROM customer c JOIN supplier s
        |  ON CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) >=
        |     CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT)
        | AND CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) <=
        |     CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT) + 50000
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    // identical relation to q_range_lookup — the oracle doesn't care
    // which physical plan produced it
    "q_range_bucket" ->
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_bands,
        |       MIN(s_suppkey) AS first_band
        |FROM customer c JOIN supplier s
        |  ON CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) >=
        |     CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT)
        | AND CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) <=
        |     CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT) + 50000
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_asof" ->
      """SELECT p_id, user_id, asof_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS asof_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    // identical relation to q_join_asof — the oracle doesn't care which
    // physical operator produced it
    "q_asof_forward" ->
      """SELECT p_id, user_id, next_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS next_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts ASC, c.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts >= p.ts
        |   AND c.ts < p.ts + INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    "q_asof_bcast" ->
      """SELECT p_id, user_id, asof_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS asof_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    // nearest = min |time delta| in the ±7-day window; distance ties and
    // exact matches prefer the backward side, then that side's own
    // tie-break (backward max id / forward min id) — the rank order spells
    // out exactly that
    "q_asof_nearest" ->
      """SELECT p_id, user_id, near_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS near_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY ABS(EPOCH_US(c.ts) - EPOCH_US(p.ts)) ASC,
        |                      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
        |                      CASE WHEN c.ts <= p.ts THEN -c.event_id
        |                           ELSE c.event_id END ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id
        |   AND c.ts > p.ts - INTERVAL 7 DAY
        |   AND c.ts < p.ts + INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    // identical relation through the SQL TVF surface
    "q_asof_sql" ->
      """SELECT p_id, user_id, asof_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS asof_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    "q_asof_custom" ->
      """SELECT p_id, user_id, asof_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS asof_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    // LEFT JOIN variant: unmatched purchases keep one all-null row (rn=1)
    "q_asof_outer" ->
      """SELECT p_id, user_id, asof_click, click_value FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         c.event_id AS asof_click, ROUND(c.value, 4) AS click_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,

    // Oracle reads the ORIGINAL parquet — the bucketed copies must be
    // value-identical to the source, so the same join+agg answers match.
    "q_join_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_bucket_lookup" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}
