package graft.operators

import graft.QueryModule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.3 L — data profiling: per-column null counts, exact
  * distinct counts, and type-appropriate min/max in ONE pass over the
  * table (the standard ingestion-validation step before any pipeline).
  *
  * [[Profiler.profile]] is the generic engine API (works on any
  * DataFrame); q_profile_orders is its oracle-gated instance.
  *
  * Determinism: numeric min/max are rounded doubles; timestamps are
  * floored epoch seconds; strings compare bytewise identically in both
  * engines. Distinct counts are exact here so the oracle can replicate
  * them — at 100 TB swap in approx_count_distinct (HLL sketch, tested in
  * CoverageSpec) since the exact form costs an Expand ×|columns|.
  *
  * Scale notes: all metrics for all columns aggregate in a single scan
  * (one wide partial→final aggregate; the multi-distinct adds one Expand,
  * ×|columns| rows in the map stage only). The per-column stack-up
  * happens AFTER aggregation on a 1-row relation — no second scan, no
  * driver loop over data (only over the schema, which is metadata).
  */
object Profiler {

  /** One row per column: (col_name, null_cnt, n_distinct, min_num,
    * max_num, min_str, max_str) — numeric/timestamp extremes in the
    * `_num` pair (timestamps as floored epoch seconds), string extremes
    * in the `_str` pair. */
  def profile(df: DataFrame): DataFrame = {
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      val (minN: Column, maxN: Column, minS: Column, maxS: Column) =
        f.dataType match {
          case _: NumericType =>
            (round(min(c).cast("double"), 4), round(max(c).cast("double"), 4),
              nullS, nullS)
          // parquet isAdjustedToUTC=false arrives as TimestampNTZType in
          // Spark 4 — a sibling of TimestampType, not a subtype; the cast
          // to session-tz timestamp (UTC here) preserves the value.
          case _: TimestampType | _: TimestampNTZType =>
            (min(unix_timestamp(c.cast("timestamp"))).cast("double"),
              max(unix_timestamp(c.cast("timestamp"))).cast("double"),
              nullS, nullS)
          case _: StringType => (nullD, nullD, min(c), max(c))
          case _ => (nullD, nullD, nullS, nullS)
        }
      struct(lit(f.name).as("col_name"),
        (count(lit(1)) - count(c)).as("null_cnt"),
        countDistinct(c).as("n_distinct"),
        minN.as("min_num"), maxN.as("max_num"),
        minS.as("min_str"), maxS.as("max_str"))
    }
    df.agg(cols.head.as("c0"), cols.tail.toIndexedSeq.zipWithIndex
        .map { case (c, i) => c.as(s"c${i + 1}") }: _*)
      .select(explode(array((0 until cols.length).map(i => col(s"c$i")): _*))
        .as("p"))
      .select(col("p.*"))
      .orderBy("col_name")
  }
}

object ProfileQueries extends QueryModule {

  override def queries: Map[String, Q] = Map(
    "q_profile_orders" -> ((s, dir) => Profiler.profile(t(s, dir, "orders"))),

    // RFM segmentation — the classic customer-analytics feature build:
    // recency (days since last order vs the global max date), frequency
    // (order count), monetary (exact DECIMAL spend — double partial sums
    // would be summation-order-sensitive), each quartiled by NTILE(4)
    // with a custkey tiebreak so ranks are total, then fused into the
    // 'RFM' segment code. One fact aggregate to the customer grain;
    // the three rank passes run over the AGGREGATED relation. The
    // R/F/M quartiles via DISTRIBUTED two-phase range ranks
    // (functions/RangeRank) + the integer NTILE formula — round 13
    // retired the three global ntile(4) windows that single-partitioned
    // the whole customer grain (the round-12 verdict's last
    // corpus-proportional single-task plans). Each score is one
    // range-shuffle + per-partition window + broadcast offset join;
    // NTILE(4) = ntileFromRank(rank, |customers|), hash-identical to
    // the window NTILE because the (key, custkey) orders are total.
    "q_rfm" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val maxd = o.agg(max(col("o_orderdate").cast("date")).as("maxd"))
      // pin the customer-grain aggregate ONCE: the global count and all
      // three rank passes read it, and without the cut each would
      // re-aggregate orders from scratch
      val cust = graft.functions.Materialize(o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("lastd"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"),
          datediff(col("maxd"), col("lastd")).cast("bigint").as("r_days"),
          col("freq"), col("mon")))
      import graft.functions.RangeRank
      val specs = Seq(
        (Seq(col("r_days").desc, col("o_custkey")), "r_score"),
        (Seq(col("freq").asc, col("o_custkey")), "f_score"),
        (Seq(col("mon").asc, col("o_custkey")), "m_score"))
      // the three scores are INDEPENDENT functions of the pinned customer
      // aggregate — rank each over `cust` directly (no inter-pass pins;
      // every boundary collect reads the checkpoint, not a stack of
      // earlier passes) and join the three quartile columns back on the
      // unique custkey. Each pass emits its own group count (same value —
      // the NTILE denominator |customers|).
      val scored = specs.foldLeft(cust) { case (acc, (order, score)) =>
        val ranked = RangeRank.withGroupedRank(cust, Nil, order,
            s"__rk_$score", countName = s"__nc_$score")
          .select(col("o_custkey").as(s"__ck_$score"),
            RangeRank.ntileFromRank(col(s"__rk_$score"),
              col(s"__nc_$score"), 4).cast("bigint").as(score))
        acc.join(ranked, col("o_custkey") === col(s"__ck_$score"))
          .drop(s"__ck_$score")
      }
      scored
        .select(col("o_custkey"), col("r_days"), col("freq"),
          col("mon").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score"))
            .as("segment"))
        .orderBy("o_custkey")
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // The oracle spells each column's metrics out; N scans is fine for
    // DuckDB at oracle scale (Spark does it in one).
    "q_profile_orders" ->
      """SELECT * FROM (
        |SELECT 'o_orderkey' AS col_name,
        |  COUNT(*) - COUNT(o_orderkey) AS null_cnt,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  ROUND(CAST(MIN(o_orderkey) AS DOUBLE), 4) AS min_num,
        |  ROUND(CAST(MAX(o_orderkey) AS DOUBLE), 4) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
        |  COUNT(DISTINCT o_custkey),
        |  ROUND(CAST(MIN(o_custkey) AS DOUBLE), 4),
        |  ROUND(CAST(MAX(o_custkey) AS DOUBLE), 4), NULL, NULL FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |  COUNT(DISTINCT o_orderstatus), NULL, NULL,
        |  MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
        |  COUNT(DISTINCT o_totalprice),
        |  ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 4),
        |  ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 4), NULL, NULL FROM orders
        |UNION ALL SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
        |  COUNT(DISTINCT o_orderdate),
        |  CAST(FLOOR(EPOCH(MIN(o_orderdate))) AS DOUBLE),
        |  CAST(FLOOR(EPOCH(MAX(o_orderdate))) AS DOUBLE), NULL, NULL
        |FROM orders
        |UNION ALL SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority), NULL, NULL,
        |  MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
        |) ORDER BY col_name""".stripMargin,

    "q_rfm" ->
      """WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd
        |  FROM orders),
        |cust AS (SELECT o_custkey,
        |    CAST(DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)),
        |      (SELECT maxd FROM maxd)) AS BIGINT) AS r_days,
        |    COUNT(*) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders GROUP BY o_custkey),
        |sc AS (SELECT o_custkey, r_days, freq, mon,
        |    NTILE(4) OVER (ORDER BY r_days DESC, o_custkey) AS r_score,
        |    NTILE(4) OVER (ORDER BY freq ASC, o_custkey) AS f_score,
        |    NTILE(4) OVER (ORDER BY mon ASC, o_custkey) AS m_score
        |  FROM cust)
        |SELECT o_custkey, r_days, freq, CAST(mon AS DOUBLE) AS monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin
  )
}
