package graft.operators

import graft.QueryModule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 E — window (analytic) functions.
  *
  * Determinism rules applied here:
  *   - every window ORDER BY ends in a unique key (o_orderkey / event_id /
  *     c_custkey) so frame contents are identical across engines and runs;
  *   - ntile is only used over a tie-free ordering (it splits peers
  *     arbitrarily otherwise); rank/dense_rank/percent_rank tolerate ties
  *     deterministically, so they get a coarsened key to actually exercise
  *     tie handling;
  *   - windowed running sums / moving averages use the same exact-decimal
  *     trick as AggregateQueries (per-value DECIMAL(18,4) cast, exact SUM,
  *     single double division) — window accumulation order differs between
  *     Spark's buffer walk and DuckDB's segment tree, exact decimal makes
  *     that irrelevant;
  *   - events.ts is ns in parquet, µs in Spark — windows over events order
  *     by event_id (unique, time-correlated) so ns-vs-µs tie-breaking can
  *     never diverge.
  *
  * Scale notes: a window spec = one Exchange hashpartitioning(partition
  * keys) + per-partition sort. Frames are ROWS/RANGE-bounded running
  * accumulations (O(n) per partition, no materialized frame copies).
  * The 100 TB hazard is a skewed partition key (one giant user_id) — the
  * partition keys here (priority, segment, user_id) are bounded-cardinality
  * with balanced fixtures; for skew, pre-aggregate or split keys upstream.
  */
object WindowQueries extends QueryModule {

  override def queries: Map[String, Q] = Map(
    "q_win_rownum" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .select(col("o_orderkey"), col("o_orderpriority"), col("rn"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy("o_orderpriority", "rn")
    }),

    "q_win_rank" -> ((s, dir) => {
      // rank keys coarsened to whole dollars to force ties (rank/dense_rank
      // are tie-deterministic); ntile gets its own tie-free ordering.
      val wTies = Window.partitionBy("c_mktsegment")
        .orderBy(round(col("c_acctbal"), 0))
      val wUniq = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          pround4(percent_rank().over(wTies)).as("prnk"),
          ntile(4).over(wUniq).as("quartile"))
        .orderBy("c_custkey")
    }),

    "q_win_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(lag(col("value"), 1).over(w), 4).as("prev_v"),
          round(lead(col("value"), 1).over(w), 4).as("next_v"),
          lag(col("event_type"), 2, "none").over(w).as("prev2_type"))
        .orderBy("event_id")
    }),

    "q_win_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(first(col("value")).over(w), 4).as("first_v"),
          round(last(col("value")).over(w), 4).as("last_v"))
        .orderBy("event_id")
    }),

    "q_win_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          // final cast to DOUBLE: the driver's pandas bridge lowers DuckDB
          // DECIMAL results to float64 — emit float64 on both sides.
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("run_sum"),
          count(lit(1)).over(w).as("run_cnt"))
        .orderBy("o_orderkey")
    }),

    "q_win_moving" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          pround4(sum(col("value").cast("decimal(18,4)")).over(w)
            .cast("double") / count(lit(1)).over(w)).as("mavg_v"))
        .orderBy("event_id")
    }),

    "q_win_range" -> ((s, dir) => {
      // Value-based frame: all orders within $10k below this one, same
      // priority. Order key floored to BIGINT on BOTH sides (Spark casts
      // double→long by truncation, DuckDB by rounding — FLOOR first makes
      // them agree).
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(floor(col("o_totalprice")).cast("long"))
        .rangeBetween(-10000L, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          count(lit(1)).over(w).as("cnt_in_range"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("sum_in_range"))
        .orderBy("o_orderkey")
    }),

    // Event-time RANGE frame: trailing 1-hour activity per user — the
    // rate-limit / burst-detection window. The frame bound is a calendar
    // INTERVAL on the timestamp order key (SQL-only surface; the DataFrame
    // rangeBetween takes longs). RANGE includes ts-peers by definition, so
    // the result is tie-deterministic; the decimal sum keeps accumulation
    // order-independent. Same per-user partitioning story at 100 TB as any
    // other window: one Exchange on user_id, skewed single user is the
    // hazard, frame state is bounded by the hour's volume.
    "q_win_time_range" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """SELECT event_id, user_id,
          |  COUNT(*) OVER w AS cnt_1h,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)
    }),

    // cume_dist over a deliberately tie-ful key (coarsened balance — the
    // function is tie-deterministic: peers share one value) and nth_value
    // over the FULL partition frame (the default running frame would make
    // early rows NULL; both engines get the explicit unbounded frame).
    "q_win_dist" -> ((s, dir) => {
      val wTies = Window.partitionBy("s_nationkey")
        .orderBy(round(col("s_acctbal"), -2))
      val wFull = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("int").as("nat"),
          pround4(cume_dist().over(wTies)).as("cdist"),
          nth_value(col("s_name"), 3).over(wFull).as("third_poorest"))
        .orderBy("s_suppkey")
    }),

    // The declarative window+filter top-k, executed by the CUSTOM
    // bounded-heap operator (graft.plans.TopKPerGroup): the session's
    // RewriteTopKWindow (attached by graft.GraftSession) turns this exact
    // pattern into the partial→exchange→final heap plan, so the DuckDB
    // oracle hash-gates the custom exec's output — not just its ScalaTest
    // twin. Every registry query with the same pattern (e.g.
    // q_sample_stratified) gains the same plan, and the 3-SF gate
    // re-validates them all under it.
    "q_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price"))
        .orderBy("o_orderpriority", "rn")
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_win_time_range" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS cnt_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_win_rownum" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        |  ROUND(o_totalprice, 4) AS price
        |FROM orders ORDER BY o_orderpriority, rn""".stripMargin,

    "q_win_rank" ->
      """SELECT c_custkey, c_mktsegment,
        |  RANK() OVER w_ties AS rnk,
        |  DENSE_RANK() OVER w_ties AS drnk,
        |  FLOOR((PERCENT_RANK() OVER w_ties) * 10000 + 0.5) / 10000 AS prnk,
        |  NTILE(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
        |FROM customer
        |WINDOW w_ties AS (PARTITION BY c_mktsegment ORDER BY ROUND(c_acctbal, 0))
        |ORDER BY c_custkey""".stripMargin,

    "q_win_lag" ->
      """SELECT event_id, user_id,
        |  ROUND(LAG(value, 1) OVER w, 4) AS prev_v,
        |  ROUND(LEAD(value, 1) OVER w, 4) AS next_v,
        |  LAG(event_type, 2, 'none') OVER w AS prev2_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    "q_win_firstlast" ->
      """SELECT event_id, user_id,
        |  ROUND(FIRST_VALUE(value) OVER w, 4) AS first_v,
        |  ROUND(LAST_VALUE(value) OVER w, 4) AS last_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "q_win_running" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS run_sum,
        |  COUNT(*) OVER w AS run_cnt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_win_moving" ->
      """SELECT event_id, user_id,
        |  FLOOR((CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |        / (COUNT(*) OVER w)) * 10000 + 0.5) / 10000 AS mavg_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_win_range" ->
      """SELECT o_orderkey, o_orderpriority,
        |  COUNT(*) OVER w AS cnt_in_range,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_in_range
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(FLOOR(o_totalprice) AS BIGINT)
        |  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_win_dist" ->
      """SELECT s_suppkey, CAST(s_nationkey AS INTEGER) AS nat,
        |  FLOOR((CUME_DIST() OVER (PARTITION BY s_nationkey
        |    ORDER BY ROUND(s_acctbal, -2))) * 10000 + 0.5) / 10000 AS cdist,
        |  NTH_VALUE(s_name, 3) OVER (PARTITION BY s_nationkey
        |    ORDER BY s_acctbal ASC, s_suppkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_poorest
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_topk_window" ->
      """SELECT o_orderpriority, rn, o_orderkey,
        |  ROUND(o_totalprice, 4) AS price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin
  )
}
