package graft

import java.sql.Timestamp
import java.nio.file.Files

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming suites (SURVEY.md §2.3 I) — MemoryStream in,
  * memory sink out, `processAllAvailable` as the bounded read-until-done
  * (the analog of the reference's readMessagesUntilCount,
  * go/integration/integration_test.go:122-140). Assertions follow the
  * reference's at-least-once style where order is not guaranteed:
  * received ⊇ sent, order-insensitive. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var sinkId = 0
  /** Run a streaming df to a fresh memory sink until quiescent. */
  private def runToTable(df: DataFrame, mode: String,
                         addBatches: (() => Unit)*): DataFrame = {
    sinkId += 1
    val name = s"sink_$sinkId"
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", cp).start()
    try addBatches.foreach { add => add(); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("s_tumbling: windowed counts match, windows are 1 minute") {
    val in = MemoryStream[(Timestamp, String)]
    val out = runToTable(
      StreamOps.tumblingCounts(in.toDF.toDF("ts", "k"), "ts", "k",
        "1 minute", "10 seconds"),
      "complete",
      () => in.addData(
        (ts("2024-01-01 10:00:10"), "a"), (ts("2024-01-01 10:00:50"), "a"),
        (ts("2024-01-01 10:01:10"), "a"), (ts("2024-01-01 10:00:20"), "b")))
    val rows = out.select(col("window.start").cast("string"), col("k"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00", "a", 2L),
      ("2024-01-01 10:01:00", "a", 1L),
      ("2024-01-01 10:00:00", "b", 1L)))
  }

  test("s_sliding: one event lands in dur/slide overlapping windows") {
    val in = MemoryStream[(Timestamp, String)]
    val out = runToTable(
      StreamOps.slidingCounts(in.toDF.toDF("ts", "k"), "ts", "k",
        "2 minutes", "1 minute", "10 seconds"),
      "complete",
      () => in.addData((ts("2024-01-01 10:00:30"), "a")))
    val starts = out.select(col("window.start").cast("string"))
      .as[String].collect().toSet
    assert(starts == Set("2024-01-01 09:59:00", "2024-01-01 10:00:00"))
  }

  test("s_session: gap merges near events, splits far ones") {
    val in = MemoryStream[(Timestamp, String)]
    val out = runToTable(
      StreamOps.sessionCounts(in.toDF.toDF("ts", "k"), "ts", "k",
        "5 minutes", "10 seconds"),
      "complete",
      () => in.addData(
        (ts("2024-01-01 10:00:00"), "u1"), (ts("2024-01-01 10:01:00"), "u1"),
        (ts("2024-01-01 10:20:00"), "u1")))
    val cnts = out.select("cnt").as[Long].collect().sorted.toSeq
    assert(cnts == Seq(1L, 2L), s"expected sessions [1,2], got $cnts")
  }

  test("s_watermark: late data beyond the watermark is dropped (append)") {
    val in = MemoryStream[(Timestamp, String)]
    val out = runToTable(
      StreamOps.tumblingCounts(in.toDF.toDF("ts", "k"), "ts", "k",
        "1 minute", "10 seconds"),
      "append",
      () => in.addData(
        (ts("2024-01-01 10:00:10"), "a"), (ts("2024-01-01 10:00:20"), "a")),
      // advances watermark to 10:02:20 → closes + emits window 10:00
      () => in.addData((ts("2024-01-01 10:02:30"), "a")),
      // LATE: watermark already past 10:01 → must be dropped
      () => in.addData((ts("2024-01-01 10:00:40"), "a")),
      // closes window 10:02
      () => in.addData((ts("2024-01-01 10:06:00"), "a")))
    val rows = out.select(col("window.start").cast("string"), col("cnt"))
      .as[(String, Long)].collect().toMap
    assert(rows("2024-01-01 10:00:00") == 2L,
      s"late event leaked into closed window: $rows")
    assert(rows("2024-01-01 10:02:00") == 1L)
  }

  test("s_dedup_stream: duplicate ids within watermark emitted once") {
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = runToTable(
      StreamOps.dedupWithinWatermark(in.toDF.toDF("ts", "id", "v"),
        "id", "ts", "10 minutes"),
      "append",
      () => in.addData(
        (ts("2024-01-01 10:00:00"), 1L, "x"),
        (ts("2024-01-01 10:00:01"), 1L, "dup"),
        (ts("2024-01-01 10:00:02"), 2L, "y")),
      () => in.addData((ts("2024-01-01 10:00:03"), 2L, "dup2")))
    val ids = out.select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"dedup failed: $ids")
  }

  test("s_stateful: flatMapGroupsWithState running counts across batches") {
    val in = MemoryStream[String]
    val out = runToTable(
      StatefulOps.runningCounts(spark, in.toDS).toDF,
      "update",
      () => in.addData("a", "b", "a"),
      () => in.addData("a"))
    // update-mode memory sink appends each update; latest per key wins
    val latest = out.groupBy("key").agg(max("count").as("c"))
      .as[(String, Long)].collect().toMap
    assert(latest == Map("a" -> 3L, "b" -> 1L), s"got $latest")
  }

  test("s_lsh: near-dup candidates pair ACROSS micro-batches") {
    val in = MemoryStream[(Long, String)]
    val out = runToTable(
      streaming.StreamingLsh.candidates(spark,
        in.toDF.toDF("doc_id", "text")).toDF,
      "append",
      () => in.addData((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six")),
      // doc 3 is identical to doc 1 but arrives one batch later — a
      // per-batch self-join would never see this pair
      () => in.addData((3L, "alpha beta gamma delta epsilon zeta")))
    val pairs = out.select("idA", "idB").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), s"cross-batch pair missed: $pairs")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 3L)),
      s"unrelated docs became candidates: $pairs")
  }

  test("s_stateful gapFill: forward-fills hour gaps across batches") {
    import StatefulOps.{FilledPoint, HourPoint}
    val in = MemoryStream[HourPoint]
    val out = runToTable(
      StatefulOps.gapFill(spark, in.toDS).toDF,
      "append",
      () => in.addData(HourPoint("a", 1, 1.5), HourPoint("a", 2, 2.5),
        HourPoint("b", 3, 3.0)),
      () => in.addData(HourPoint("a", 5, 5.5), HourPoint("b", 6, 6.0)))
    val got = out.as[FilledPoint].collect()
      .map(p => (p.user, p.hour) -> (p.value, p.observed)).toMap
    val expect = Map(
      ("a", 1L) -> (1.5, true), ("a", 2L) -> (2.5, true),
      ("a", 3L) -> (2.5, false), ("a", 4L) -> (2.5, false),
      ("a", 5L) -> (5.5, true),
      ("b", 3L) -> (3.0, true), ("b", 4L) -> (3.0, false),
      ("b", 5L) -> (3.0, false), ("b", 6L) -> (6.0, true))
    assert(got == expect, s"got $got")
  }

  test("s_stateful gapFill: duplicate hours collapse to ONE row per (user, hour)") {
    import StatefulOps.{FilledPoint, HourPoint}
    val in = MemoryStream[HourPoint]
    val out = runToTable(
      StatefulOps.gapFill(spark, in.toDS).toDF,
      "append",
      // hour 1 observed twice in one batch → last value wins, one row
      () => in.addData(HourPoint("a", 1, 1.0), HourPoint("a", 1, 1.9)),
      // hour 1 re-sent in a later batch → already emitted and final in
      // append mode, dropped; hour 3 continues the fill from 1.9
      () => in.addData(HourPoint("a", 1, 9.9), HourPoint("a", 3, 3.0)))
    val rows = out.as[FilledPoint].collect()
    assert(rows.count(p => p.user == "a" && p.hour == 1L) == 1,
      s"duplicate (a,1): ${rows.toSeq}")
    val got = rows.map(p => (p.user, p.hour) -> (p.value, p.observed)).toMap
    val expect = Map(
      ("a", 1L) -> (1.9, true), ("a", 2L) -> (1.9, false),
      ("a", 3L) -> (3.0, true))
    assert(got == expect, s"got $got")
  }

  test("s_stateful: transformWithState running counts (RocksDB store)") {
    // transformWithState requires the RocksDB state store provider —
    // scope the conf to this test and restore the session default after.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val out = runToTable(
        StatefulOps.runningCountsTws(spark, in.toDS).toDF,
        "update",
        () => in.addData("a", "b", "a"),
        () => in.addData("a"))
      val latest = out.groupBy("key").agg(max("count").as("c"))
        .as[(String, Long)].collect().toMap
      assert(latest == Map("a" -> 3L, "b" -> 1L), s"got $latest")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: streaming EWMA equals one continuous fold across batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulOps.Point]
      val out = runToTable(
        StatefulOps.streamingEwma(spark, in.toDS, 0.25).toDF,
        "update",
        () => in.addData(StatefulOps.Point("a", 1, 4.0),
          StatefulOps.Point("a", 2, 8.0), StatefulOps.Point("b", 1, 1.0)),
        () => in.addData(StatefulOps.Point("a", 3, 0.0),
          StatefulOps.Point("b", 2, 3.0)))
      val got = out.as[(String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      // one continuous fold per key over the CONCATENATED batches: a late
      // batch continues from carried state, not from a fresh seed
      def fold(xs: Seq[Double]): Seq[Double] =
        xs.tail.scanLeft(xs.head)((e, x) => 0.25 * x + 0.75 * e)
      val ea = fold(Seq(4.0, 8.0, 0.0))
      val eb = fold(Seq(1.0, 3.0))
      val expect = Map(
        ("a", 1L) -> ea(0), ("a", 2L) -> ea(1), ("a", 3L) -> ea(2),
        ("b", 1L) -> eb(0), ("b", 2L) -> eb(1))
      assert(got == expect, s"got $got expect $expect")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: streaming as-of equals the batch as-of operator across batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val H = 3600L * 1000000L // 1-hour horizon, micros
      def ev(user: Long, tsMin: Int, click: Boolean, id: Long, v: Double) =
        StatefulOps.AsofEvent(user, tsMin * 60L * 1000000L, click, id, v)
      val batch1 = Seq(
        ev(1, 0, click = true, 101, 1.5),
        ev(1, 10, click = false, 201, 0), // matches click 101
        ev(2, 5, click = true, 102, 2.5))
      val batch2 = Seq(
        ev(2, 20, click = false, 202, 0), // matches 102 — state carried from batch 1
        ev(1, 200, click = false, 203, 0), // click 101 beyond horizon → None
        ev(3, 30, click = false, 204, 0)) // user with no clicks → None
      val in = MemoryStream[StatefulOps.AsofEvent]
      val out = runToTable(
        StatefulOps.streamingAsof(spark, in.toDS, H).toDF, "append",
        () => in.addData(batch1: _*), () => in.addData(batch2: _*))
      val got = out.as[StatefulOps.AsofMatch].collect()
        .map(m => m.pId -> m.cId).toMap
      assert(got == Map(201L -> Some(101L), 202L -> Some(102L),
        203L -> None, 204L -> None), s"got $got")
      // the streaming result must equal the BATCH custom operator run over
      // the concatenated input (left-outer form)
      val all = batch1 ++ batch2
      val l = all.filter(!_.isClick)
        .map(e => (e.id, e.user, new Timestamp(e.ts / 1000)))
        .toDF("p_id", "user_id", "p_ts")
      val r = all.filter(_.isClick)
        .map(e => (e.id, e.user, new Timestamp(e.ts / 1000), e.value))
        .toDF("c_id", "c_user", "c_ts", "c_value")
      val batchOut = graft.plans.AsofJoinOp.asof(l, r,
          Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
          H, joinType = "left")
        .select("p_id", "c_id").collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      assert(batchOut == got, s"batch $batchOut vs streaming $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: streaming as-of tie and contract-breach edges") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val H = 3600L * 1000000L
      def ev(user: Long, tsMin: Int, click: Boolean, id: Long) =
        StatefulOps.AsofEvent(user, tsMin * 60L * 1000000L, click, id, 0.0)
      val in = MemoryStream[StatefulOps.AsofEvent]
      val out = runToTable(
        StatefulOps.streamingAsof(spark, in.toDS, H).toDF, "append",
        // batch 1: the max-id winner of an equal-ts click tie
        () => in.addData(ev(1, 10, click = true, 7)),
        // batch 2: the same-ts SMALLER-id click straddles the boundary —
        // it must NOT overwrite the carried winner (batch rule: max id);
        // then a purchase at that ts matches id 7
        () => in.addData(ev(1, 10, click = true, 3),
          ev(1, 10, click = false, 201)),
        // batch 3: a LATE purchase behind the carried click (contract
        // breach) degrades to unmatched, never matching a future click
        () => in.addData(ev(1, 5, click = false, 202)))
      val got = out.as[StatefulOps.AsofMatch].collect()
        .map(m => m.pId -> m.cId).toMap
      assert(got == Map(201L -> Some(7L), 202L -> None), s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: streaming top-k leaderboard carries ranks across batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulOps.Scored]
      val out = runToTable(
        StatefulOps.streamingTopK(spark, in.toDS, 2).toDF,
        "update",
        () => in.addData(StatefulOps.Scored("a", 1, 5.0),
          StatefulOps.Scored("a", 2, 9.0), StatefulOps.Scored("a", 3, 1.0)),
        // batch 2: one better row arrives — it must displace id=1, and the
        // carried id=2 must stay rank 1 even though batch 2 never saw it
        () => in.addData(StatefulOps.Scored("a", 4, 7.0)))
      val latest = out.as[(String, Long, Double, Int)].collect()
        .groupBy(_._2).map { case (id, rs) => id -> rs.maxBy(_._4) }
      // final leaderboard: id 2 (9.0) rank 1, id 4 (7.0) rank 2
      val finalBoard = out.as[(String, Long, Double, Int)].collect()
        .filter(r => r._2 == 2L || r._2 == 4L)
      assert(finalBoard.exists(r => r._2 == 2L && r._4 == 1))
      assert(finalBoard.exists(r => r._2 == 4L && r._4 == 2))
      // id 3 (1.0) never made the k=2 board's final state; id 1 was rank 2
      // only in batch 1
      assert(!out.as[(String, Long, Double, Int)].collect()
        .exists(r => r._2 == 3L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: a re-scored id replaces its buffered entry, never two ranks") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulOps.Scored]
      val out = runToTable(
        StatefulOps.streamingTopK(spark, in.toDS, 2).toDF,
        "update",
        () => in.addData(StatefulOps.Scored("a", 1, 10.0),
          StatefulOps.Scored("a", 2, 8.0)),
        // id 1 is RE-scored: it must occupy exactly one rank with the new
        // score, and id 2 must hold the other — not be pushed off by a
        // stale duplicate of id 1
        () => in.addData(StatefulOps.Scored("a", 1, 12.0)))
      val batch2 = out.as[(String, Long, Double, Int)].collect()
        .filter(_._3 == 12.0) // rows emitted after the re-score
      assert(batch2.count(_._2 == 1L) == 1, s"id 1 duplicated: ${batch2.toSeq}")
      val lastRanks = out.as[(String, Long, Double, Int)].collect()
        .groupBy(_._2).map { case (id, rs) => id -> rs.last }
      assert(lastRanks(1L)._3 == 12.0 && lastRanks(1L)._4 == 1)
      assert(lastRanks(2L)._4 == 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_output_modes: complete-mode global word count converges") {
    val in = MemoryStream[String]
    val out = runToTable(
      StreamOps.globalWordCount(in.toDF.toDF("text"), "text"),
      "complete",
      () => in.addData("hello world", "hello kafka"),
      () => in.addData("hello"))
    val m = out.as[(String, Long)].collect().toMap
    assert(m == Map("hello" -> 3L, "world" -> 1L, "kafka" -> 1L))
  }

  test("s_lsh againstIndex: arrivals verify against the standing corpus") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val raw = graft.functions.MinHashDedup.buildIndex(corpus, "doc_id", "text")
    val index = graft.functions.MinHashDedup.Index(
      raw.keys.localCheckpoint(true), raw.shingles.localCheckpoint(true))
    val in = MemoryStream[(Long, String)]
    val out = runToTable(
      StreamingLsh.againstIndex(spark, in.toDF.toDF("doc_id", "text"),
        index, threshold = 0.5),
      "append",
      () => in.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta"), // near dup of 1
        (11L, "totally different content words here now")), // novel
      // a later batch still sees the same static index
      () => in.addData((12L, "one two three four five six"), // exact dup of 2
        // doc 1 REPLAYED (already in the index): at-least-once delivery
        // must not self-match it into a "duplicate of the corpus"
        (1L, "alpha beta gamma delta epsilon zeta")))
    val hits = out.select("doc_id", "matched_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L), (12L, 2L)), s"hits $hits")
    assert(!hits.exists(p => p._1 == p._2), s"self-match leaked: $hits")
    val j12 = out.filter(col("doc_id") === 12L).select("jaccard")
      .as[Double].head()
    assert(j12 == 1.0, s"exact dup jaccard $j12")
  }

  test("s_bm25: stream-maintained index ranks identically to q_bm25") {
    // the retrieval-family increment twin (round-11): the standing 80%
    // of the corpus is indexed once; the remaining 20% ARRIVES over two
    // micro-batches through the store's maintain. BM25 over
    // the maintained artifact must equal the from-scratch q_bm25 rows
    // (same integer-scaled scorer — the oracle-gated math), and the
    // composition must hold zero streaming state.
    val docs = table("documents").select("doc_id", "text")
    val isDelta = col("doc_id") % 5 === 4
    val dir = Files.createTempDirectory("graft-sbm25").toString
    graft.functions.RetrievalIndex.store.write(docs.filter(!isDelta), dir)
    val delta = docs.filter(isDelta)
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = delta.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(Long, String)]
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = graft.functions.RetrievalIndex.store.maintain(
      in.toDF.toDF("doc_id", "text"), dir, cp)
    try {
      in.addData(b1.map(_._1)); q.processAllAvailable()
      in.addData(b2.map(_._1)); q.processAllAvailable()
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
        "index maintenance must not register a stateful operator")
    } finally q.stop()
    val maintained = graft.functions.RetrievalIndex.bm25TopDf(
      graft.functions.RetrievalIndex.read(spark, dir))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val scratch = this.q("q_bm25")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(maintained.nonEmpty && maintained == scratch,
      s"maintained $maintained vs from-scratch $scratch")
  }

  test("AppendLedger: a replayed batchId appends exactly once") {
    // the maintenance sinks' exactly-once contract: the same batchId
    // delivered twice (at-least-once replay) must land rows ONCE —
    // a bare parquet append would silently double the (doc, w) grain
    val docs = table("documents")
      .select("doc_id", "lang", "source", "text").limit(50)
    val dir = Files.createTempDirectory("graft-ledger").toString + "/tf"
    graft.functions.TokenStore.buildTf(docs.filter(col("doc_id") % 2 === 0))
      .write.parquet(dir)
    val before = spark.read.parquet(dir).count()
    val delta = graft.functions.TokenStore
      .buildTf(docs.filter(col("doc_id") % 2 =!= 0))
    val deltaN = delta.count()
    assert(deltaN > 0)
    assert(AppendLedger.appendOnce(dir, 7L, delta))
    assert(spark.read.parquet(dir).count() == before + deltaN)
    assert(!AppendLedger.appendOnce(dir, 7L, delta), "replay must no-op")
    assert(spark.read.parquet(dir).count() == before + deltaN,
      "a replayed batch must not double-append")
  }

  test("s_tokens: stream-maintained token store ranks TF-IDF like q_tfidf") {
    // the TokenStore increment twin (round-11): the standing 80% of the
    // corpus stores its word-grain rows once; the remaining 20% ARRIVES
    // over two micro-batches through the store's maintain.
    // TF-IDF over the maintained artifact must equal the from-scratch
    // q_tfidf rows (the oracle-gated math), and the composition must
    // hold zero streaming state.
    val docs = table("documents").select("doc_id", "lang", "source", "text")
    val isDelta = col("doc_id") % 5 === 4
    val dir = Files.createTempDirectory("graft-stok").toString
    graft.functions.TokenStore.buildTf(docs.filter(!isDelta))
      .write.parquet(s"$dir/tf")
    val delta = docs.filter(isDelta)
      .as[(Long, String, String, String)].collect().toSeq
    val (b1, b2) = delta.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(Long, String, String, String)]
    val cp = Files.createTempDirectory("graft-cp").toString
    val sq = graft.functions.TokenStore.store.maintain(
      in.toDF.toDF("doc_id", "lang", "source", "text"), dir, cp)
    try {
      in.addData(b1.map(_._1)); sq.processAllAvailable()
      in.addData(b2.map(_._1)); sq.processAllAvailable()
      assert(Option(sq.lastProgress).forall(_.stateOperators.isEmpty),
        "store maintenance must not register a stateful operator")
    } finally sq.stop()
    val maintained = graft.operators.TextStatsQueries.tfidfOf(
        spark.read.parquet(s"$dir/tf"),
        docs.agg(count(lit(1)).as("n")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val scratch = this.q("q_tfidf")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(maintained.nonEmpty && maintained == scratch,
      s"maintained $maintained vs from-scratch $scratch")
  }

  test("s_takedown: streamed removals compact the store to rebuilt-without") {
    // the DELETE twin of s_tokens (round-12): a removal feed arrives
    // over two micro-batches; the maintained store must equal a build
    // that never saw the removed docs, with zero streaming state. No
    // ledger: removal is idempotent under replay by its own algebra.
    val docs = table("documents").select("doc_id", "lang", "source", "text")
    val dir = Files.createTempDirectory("graft-stakedown").toString
    graft.functions.TokenStore.buildTf(docs).write.parquet(s"$dir/tf")
    val rmPred = IncrementContract.isRemoved(col("doc_id"))
    val rmIds = docs.filter(rmPred).select("doc_id")
      .as[Long].collect().toSeq
    assert(rmIds.nonEmpty)
    val (b1, b2) = rmIds.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[Long]
    val cp = Files.createTempDirectory("graft-cp").toString
    val sq = graft.streaming.StreamingTakedown.maintainTokenStore(
      in.toDF.toDF("doc_id"), dir, cp)
    try {
      in.addData(b1.map(_._1)); sq.processAllAvailable()
      in.addData(b2.map(_._1)); sq.processAllAvailable()
      assert(Option(sq.lastProgress).forall(_.stateOperators.isEmpty),
        "takedown maintenance must not register a stateful operator")
    } finally sq.stop()
    val maintained = spark.read.parquet(s"$dir/tf")
    val rebuilt = graft.functions.TokenStore.buildTf(docs.filter(!rmPred))
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "stream-maintained takedown must equal a rebuild without the docs")
  }

  /** Drive a removal feed through `start` in two micro-batches and
    * assert zero streaming state — the shared harness of the round-13
    * family legs (verdict task #2: takedown streaming for ALL six
    * persisted-artifact families, not just TokenStore/RetrievalIndex). */
  private def feedRemovals(ids: Seq[Long])(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    assert(ids.nonEmpty)
    val (b1, b2) = ids.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[Long]
    val sq = start(in.toDF.toDF("doc_id"))
    try {
      in.addData(b1.map(_._1)); sq.processAllAvailable()
      in.addData(b2.map(_._1)); sq.processAllAvailable()
      assert(Option(sq.lastProgress).forall(_.stateOperators.isEmpty),
        "takedown maintenance must not register a stateful operator")
    } finally sq.stop()
  }

  test("s_takedown_grams: streamed removals compact all five grains") {
    val docs = table("documents").select("doc_id", "source", "text")
    val dir = Files.createTempDirectory("graft-stk-grams").toString
    graft.functions.GramStore.buildSh3(docs).write.parquet(s"$dir/sh3")
    graft.functions.GramStore.buildSh3h(docs).write.parquet(s"$dir/sh3h")
    graft.functions.GramStore.buildSpan8(docs).write.parquet(s"$dir/span8")
    graft.functions.GramStore.buildGram5(docs).write.parquet(s"$dir/gram5")
    graft.functions.GramStore.buildGram2(docs).write.parquet(s"$dir/gram2")
    val rmPred = IncrementContract.isRemoved(col("doc_id"))
    val rmIds = docs.filter(rmPred).select("doc_id").as[Long].collect().toSeq
    val cp = Files.createTempDirectory("graft-cp").toString
    feedRemovals(rmIds)(
      graft.streaming.StreamingTakedown.maintainGramStore(_, dir, cp))
    val survivors = docs.filter(!rmPred)
    Seq(
      "sh3" -> graft.functions.GramStore.buildSh3(survivors),
      "sh3h" -> graft.functions.GramStore.buildSh3h(survivors),
      "span8" -> graft.functions.GramStore.buildSpan8(survivors),
      "gram5" -> graft.functions.GramStore.buildGram5(survivors),
      "gram2" -> graft.functions.GramStore.buildGram2(survivors)
    ).foreach { case (name, rebuilt) =>
      val maintained = spark.read.parquet(s"$dir/$name")
      assert(maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty,
        s"$name: stream-maintained takedown must equal rebuild-without")
    }
  }

  test("s_takedown_clusters: streamed removals split/relabel/drop clusters") {
    // the CompactStoreSpec fixture, delivered as a stream: removing 2
    // drops chain 1-2-3 entirely (1 and 3 lose all pairs); removing 10
    // relabels {11,12}; pair 20-21 is untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val dir = Files.createTempDirectory("graft-stk-cc").toString
    graft.functions.DedupClusters.writePersisted(pairs, dir, "id_a", "id_b")
    val cp = Files.createTempDirectory("graft-cp").toString
    feedRemovals(Seq(2L, 10L))(
      graft.streaming.StreamingTakedown.maintainDedupClusters(_, dir, cp))
    val out = graft.functions.DedupClusters.readPersistedClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((11L, 11L), (12L, 11L), (20L, 20L), (21L, 20L)),
      s"got $out")
  }

  test("s_takedown_simhash: streamed removals compact the sig index") {
    val docs = table("documents").select("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dir = Files.createTempDirectory("graft-stk-sim").toString
    graft.functions.SimHash.writeIndex(
      graft.functions.SimHash.buildIndex(docs, "doc_id", "toks",
        d = 3, nBlocks = 4), dir)
    val rmPred = IncrementContract.isRemoved(col("doc_id"))
    val rmIds = docs.filter(rmPred).select("doc_id").as[Long].collect().toSeq
    val cp = Files.createTempDirectory("graft-cp").toString
    feedRemovals(rmIds)(
      graft.streaming.StreamingTakedown.maintainSimHashIndex(_, dir, cp))
    val maintained = graft.functions.SimHash.readIndex(spark, dir).keys
    val rebuilt = graft.functions.SimHash.buildIndex(
      docs.filter(!rmPred), "doc_id", "toks", d = 3, nBlocks = 4).keys
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "stream-maintained sig index must equal rebuild-without")
  }

  test("s_takedown_lsh: streamed removals compact the vector index") {
    val vecs = table("embeddings")
    val dir = Files.createTempDirectory("graft-stk-lsh").toString
    graft.functions.CosineLsh.writeIndex(
      graft.functions.CosineLsh.buildIndex(vecs, "vec_id", "embedding"),
      dir)
    val rmPred = col("vec_id") % 5 === 4
    val rmIds = vecs.filter(rmPred).select(col("vec_id").cast("long"))
      .as[Long].collect().toSeq
    val cp = Files.createTempDirectory("graft-cp").toString
    feedRemovals(rmIds)(
      graft.streaming.StreamingTakedown.maintainCosineLshIndex(_, dir, cp))
    val maintained = graft.functions.CosineLsh.readIndex(spark, dir).keys
    val rebuilt = graft.functions.CosineLsh.buildIndex(
      vecs.filter(!rmPred), "vec_id", "embedding").keys
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "stream-maintained LSH index must equal rebuild-without")
  }

  test("s_takedown_retrieval: streamed removals compact the BM25 index") {
    val docs = table("documents").select("doc_id", "text")
    def build(d: DataFrame) = graft.functions.RetrievalIndex.build(d)
    // two identical indexes: the feed names the first, the second must
    // come through untouched
    val (dir, other) = (Files.createTempDirectory("graft-stk-retr").toString,
      Files.createTempDirectory("graft-stk-retr-other").toString)
    Seq(dir, other).foreach(graft.functions.RetrievalIndex.store.write(docs, _))
    val rmPred = IncrementContract.isRemoved(col("doc_id"))
    val rmIds = docs.filter(rmPred).select("doc_id").as[Long].collect().toSeq
    val cp = Files.createTempDirectory("graft-cp").toString
    feedRemovals(rmIds)(
      graft.streaming.StreamingTakedown.maintainRetrievalIndex(_, dir, cp))
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    Seq(dir -> build(docs.filter(!rmPred)), other -> build(docs)).foreach {
      case (path, want) =>
        val got = graft.functions.RetrievalIndex.read(spark, path)
        assert(same(got.postings, want.postings) && same(got.doclens, want.doclens),
          s"$path: the stream must compact exactly the index it was given")
    }
  }

  test("s_simhash pairsAgainstIndex: arrivals probe the stored sig index") {
    // the SimHash twin of s_lsh (round-11: the family's persisted index)
    // — planted exact copies are Hamming-0 by construction, so recall is
    // deterministic; the replayed corpus id must not self-match
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dir = Files.createTempDirectory("graft_ssim_").toString
    graft.functions.SimHash.writeIndex(
      graft.functions.SimHash.buildIndex(corpus, "doc_id", "toks",
        d = 3, nBlocks = 4), dir)
    val idx = graft.functions.SimHash.readIndex(spark, dir)
    val in = MemoryStream[(Long, String)]
    val out = runToTable(
      graft.functions.SimHash.pairsAgainstIndex(idx,
        in.toDF.toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("toks")),
        "doc_id", "toks"),
      "append",
      () => in.addData(
        (10L, "alpha beta gamma delta epsilon zeta"), // copy of 1
        (11L, "totally different content words here now")), // novel
      () => in.addData(
        (12L, "one two three four five six"), // copy of 2, later batch
        (1L, "alpha beta gamma delta epsilon zeta"))) // replayed id
    val hits = out.select("p_id", "idx_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L), (12L, 2L)), s"hits $hits")
    val d10 = out.filter(col("p_id") === 10L).select("dist")
      .as[Int].head()
    assert(d10 == 0, s"exact copy distance $d10")
  }

  test("s_cosine probeIndex: arrivals probe the stored sign-LSH index") {
    // the CosineLsh twin (round-11): near-orthogonal planted geometry,
    // an arrival near vec 1, an exact dup of vec 2 in a later batch, a
    // novel orthogonal vector, and a replayed corpus id
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) 1f else 0f)
    val corpus = Seq((1L, axis(0)), (2L, axis(1)), (3L, axis(2)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_scos_").toString
    graft.functions.CosineLsh.writeIndex(
      graft.functions.CosineLsh.buildIndex(corpus, "vec_id", "embedding",
        dim = 8), dir)
    val idx = graft.functions.CosineLsh.readIndex(spark, dir)
    val nearOne = Seq(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val novel = Seq.tabulate(8)(j => if (j == 7) 1f else 0f)
    val in = MemoryStream[(Long, Seq[Float])]
    val out = runToTable(
      graft.functions.CosineLsh.probeIndex(idx,
        in.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, probeDepth = 2),
      "append",
      () => in.addData((10L, nearOne), (11L, novel)),
      () => in.addData((12L, axis(1)), (1L, axis(0))))
    val hits = out.select("probe_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L), (12L, 2L)), s"hits $hits")
    val c12 = out.filter(col("probe_id") === 12L).select("cos")
      .as[Double].collect().max
    assert(c12 == 1.0, s"exact dup cosine $c12")
  }

  test("s_ann pqAgainstIndex: arrivals probe the standing PQ codes index") {
    // planted geometry: near-orthogonal corpus vectors, an arrival near
    // vec 1, an exact dup of vec 2 in a LATER batch, a novel orthogonal
    // vector, and a replayed corpus id (self-match guard) — round-8
    // verdict task #8
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) 1f else 0f)
    val corpus = Seq((1L, axis(0)), (2L, axis(1)), (3L, axis(2)))
      .toDF("vec_id", "embedding")
    val pq = graft.functions.ProductQuantizer
      .train(corpus, "embedding", m = 4, k = 4, sampleN = 10)
    val ivf = graft.functions.IvfIndex.train(corpus, "embedding", k = 2,
      sampleN = 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_sann_").toString
    graft.functions.ProductQuantizer
      .writeIndex(corpus, "vec_id", "embedding", pq, ivf, dir)
    val nearOne = Seq(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val novel = Seq.tabulate(8)(j => if (j == 7) 1f else 0f)
    val in = MemoryStream[(Long, Seq[Float])]
    val out = runToTable(
      StreamingAnn.pqAgainstIndex(spark,
        in.toDF.toDF("vec_id", "embedding"), dir, corpus, "vec_id",
        "embedding", threshold = 0.9, nProbe = 2),
      "append",
      () => in.addData((10L, nearOne), (11L, novel)),
      // a later batch still probes the same static index; the replayed
      // corpus id must not self-match
      () => in.addData((12L, axis(1)), (1L, axis(0))))
    val hits = out.select("doc_id", "matched_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L), (12L, 2L)), s"hits $hits")
    val c12 = out.filter(col("doc_id") === 12L).select("cos")
      .as[Double].head()
    assert(c12 == 1.0, s"exact dup cosine $c12")
    val c10 = out.filter(col("doc_id") === 10L).select("cos")
      .as[Double].head()
    assert(c10 >= 0.99 && c10 < 1.0, s"near-dup cosine $c10")
  }

  test("s_wordcount_e2e: windowed word count equals its batch twin") {
    val sentences = Seq(
      (ts("2024-01-01 10:00:10"), "hello world"),
      (ts("2024-01-01 10:00:20"), "flink kafka streaming"),
      (ts("2024-01-01 10:01:40"), "data processing pipeline"),
      (ts("2024-01-01 10:01:50"), "hello world"))
    val in = MemoryStream[(Timestamp, String)]
    val streamed = runToTable(
      StreamOps.windowedWordCount(in.toDF.toDF("ts", "text"), "text", "ts",
        "1 minute", "10 seconds"),
      "complete", () => in.addData(sentences: _*))
      .select(col("window.start").cast("string"), col("word"), col("count"))
      .as[(String, String, Long)].collect().toSet
    // batch twin: same transform applied to a static DataFrame
    val batch = StreamOps.windowedWordCount(
      sentences.toDF("ts", "text"), "text", "ts", "1 minute", "10 seconds")
      .select(col("window.start").cast("string"), col("word"), col("count"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.contains(("2024-01-01 10:00:00", "hello", 1L)))
    assert(streamed.contains(("2024-01-01 10:01:00", "hello", 1L)))
  }

  test("rate_source generator: deterministic 1-5 word sentences (R1/R2)") {
    val q = StreamOps.generatorStream(spark, rowsPerBatch = 8)
    val cp = Files.createTempDirectory("graft-cp").toString
    val query = q.writeStream.format("memory").queryName("gen_sink")
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination(60000)
    val rows = spark.table("gen_sink").select("sentence").as[String].collect()
    assert(rows.length >= 8)
    rows.foreach { s =>
      val words = s.split(" ")
      assert(words.length >= 1 && words.length <= 5, s"bad sentence '$s'")
      words.foreach(w => assert(StreamOps.vocabulary.contains(w), s"oov '$w'"))
    }
    // determinism: same value seed → same sentence
    val again = spark.range(8)
      .select(StreamOps.sentenceColumn(col("id")).as("s")).as[String].collect()
    val again2 = spark.range(8)
      .select(StreamOps.sentenceColumn(col("id")).as("s")).as[String].collect()
    assert(again.toSeq == again2.toSeq)
  }

  test("kafka decode/encode transforms work batch-side (R3/R4)") {
    val raw = Seq(("key-1".getBytes, "hello world".getBytes))
      .toDF("key", "value")
      .withColumn("timestamp", lit(ts("2024-01-01 10:00:00")))
    val dec = KafkaPipelines.decode(raw).collect()(0)
    assert(dec.getAs[String]("key") == "key-1")
    assert(dec.getAs[String]("value") == "hello world")
    val enc = KafkaPipelines.encode(
      Seq("payload").toDF("v"), "v").collect()(0)
    assert(new String(enc.getAs[Array[Byte]]("value")) == "payload")
    assert(new String(enc.getAs[Array[Byte]]("key")).startsWith("key-"))
  }

  /** Kafka-shaped frames on a MemoryStream through `chain`, one micro-batch
    * per step: step `b` adds three sentences at event time `t0 + b * 20 s`,
    * so the watermark moves on every batch. `sink` sees each micro-batch;
    * `onStep` runs after each step's batch has finished. */
  private def wordCountSteps(chain: DataFrame => DataFrame, t0: Long, steps: Int)(
      sink: (DataFrame, Long) => Unit)(onStep: Int => Unit = _ => ()): Unit = {
    val in = MemoryStream[(Array[Byte], Array[Byte], Timestamp)]
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = StreamOps.foreachBatchSink(chain(in.toDF().toDF("key", "value", "timestamp")), cp)(sink)
      .outputMode("update").start()
    try (0 until steps).foreach { b =>
      in.addData((0 until 3).map { i =>
        val words = StreamOps.vocabulary.drop((b + i) % 12).take(1 + i)
        ("key-0".getBytes, words.mkString(" ").getBytes, new Timestamp(t0 + b * 20000L + i))
      })
      q.processAllAvailable()
      onStep(b)
    } finally q.stop()
  }

  private val wordCountT0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime

  test("s_wordcount codegen: encode adds no compile per steady micro-batch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // Janino compiles (codegen cache misses) per micro-batch from the third
    // on; with no-data batches off, each step is exactly one micro-batch
    def compiles(chain: DataFrame => DataFrame, t0: Long): Seq[Long] =
      withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
        val perStep = scala.collection.mutable.ArrayBuffer.empty[Long]
        var before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        wordCountSteps(chain, t0, 8)((batch, _) => batch.collect()) { _ =>
          val now = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          perStep += now - before
          before = now
        }
        perStep.drop(2).toSeq
      }
    val counts = (raw: DataFrame) => StreamOps.toKafkaJson(StreamOps.windowedWordCount(
      KafkaPipelines.decode(raw), "value", "ts", "1 minute", "10 seconds"))
    // a day apart, the two runs step their watermarks alike, and each
    // compiles Spark's eviction predicate (the watermark as a literal) afresh
    val without = compiles(counts, wordCountT0)
    val withKey = compiles(KafkaPipelines.wordCountFrames(_, "1 minute", "10 seconds"),
      wordCountT0 + 86400000L)
    assert(without.size == 6)
    assert(withKey == without, s"compiles per batch with encode $withKey, without $without")
  }

  /** encode's key beside `unix_timestamp()`'s in one stream: both read the
    * batch clock, so they are byte-equal on every row, and every row of a
    * micro-batch carries one key, a second within the run. */
  private def keyReadsTheBatchClock(): Unit = {
    val keys = scala.collection.mutable.Map.empty[Long, Seq[(String, String)]]
    val startS = System.currentTimeMillis() / 1000
    wordCountSteps(raw => KafkaPipelines.wordCountFrames(raw, "1 minute", "10 seconds")
        .withColumn("reference", concat(lit("key-"), unix_timestamp()).cast("binary")),
      wordCountT0, 3) { (batch, batchId) =>
      val rows = batch.select("key", "reference").as[(Array[Byte], Array[Byte])].collect()
      keys.synchronized { keys(batchId) = rows.map { case (k, r) => (new String(k), new String(r)) }.toSeq }
    }()
    val endS = System.currentTimeMillis() / 1000
    val data = keys.toMap.filter(_._2.nonEmpty)
    assert(data.size == 3, s"micro-batches with rows: ${data.keys}")
    data.foreach { case (batchId, rows) =>
      rows.foreach { case (k, r) => assert(k == r, s"batch $batchId: key $k, unix_timestamp() $r") }
      val batchKeys = rows.map(_._1).distinct
      assert(batchKeys.size == 1, s"batch $batchId carries keys $batchKeys")
      val secs = batchKeys.head.stripPrefix("key-").toLong
      assert(secs >= startS && secs <= endS, s"batch $batchId: ${batchKeys.head} outside [$startS, $endS]")
    }
  }

  test("s_wordcount key: encode's key is unix_timestamp()'s, compiled") {
    withConf("spark.sql.codegen.wholeStage" -> "true")(keyReadsTheBatchClock())
  }

  test("s_wordcount key: encode's key is unix_timestamp()'s, interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(keyReadsTheBatchClock())
  }

  test("checkpoint recovery: file sink resumes exactly-once after restart") {
    // The Spark analog of the reference's consumer-group offset tracking
    // (go/consumer/consumer.go:98-106): offsets live in the checkpoint
    // WAL, so a stopped query restarted on the same checkpoint neither
    // drops nor duplicates rows.
    val in = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-cp").toString
    val out = Files.createTempDirectory("graft-out").toString
    def start() = in.toDF.toDF("w").writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    try { in.addData("a", "b"); q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // restart on the same checkpoint
    try { in.addData("c"); q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(out).as[String].collect().sorted.toSeq
    assert(rows == Seq("a", "b", "c"), s"exactly-once violated: $rows")
  }

  test("s_wordcount restart: killed mid-batch, resumed on the checkpoint, counted exactly once") {
    // the reference pipeline's transform (decode → windowed word count →
    // foreachBatch sink) on Kafka-shaped frames; the sink keeps the last
    // count per (window, word), as a keyed upsert into word-count-output
    val in = MemoryStream[(Array[Byte], Array[Byte], Timestamp)]
    val cp = Files.createTempDirectory("graft-cp").toString
    val latest = scala.collection.mutable.Map.empty[(String, String), Long]
    @volatile var kill = false
    def start() = StreamOps.foreachBatchSink(
      StreamOps.windowedWordCount(
        KafkaPipelines.decode(in.toDF().toDF("key", "value", "timestamp")),
        "value", "ts", "1 minute", "10 seconds"), cp) { (batch, batchId) =>
      val rows = batch.select(col("window.start").cast("string"), col("word"), col("count"))
        .as[(String, String, Long)].collect()
      latest.synchronized { rows.foreach { case (w, word, n) => latest((w, word)) = n } }
      if (kill && rows.nonEmpty) {
        kill = false
        throw new IllegalStateException(s"killed during batch $batchId")
      }
    }.outputMode("update").start()

    // event time only moves forward, so no event falls behind the watermark
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    var n = 0
    def events(sentences: String*) = sentences.map { s =>
      n += 1
      ("key-1704103200".getBytes, s.getBytes, new Timestamp(t0 + n * 17000L))
    }
    val b0 = events("hello world", "flink kafka streaming", "hello")
    val b1 = events("data pipeline", "hello world state", "window")
    val b2 = events("kafka kafka", "checkpoint recovery", "hello")
    val b3 = events("state window", "world", "fault-tolerant data")

    val q1 = start()
    in.addData(b0); q1.processAllAvailable()
    in.addData(b1); q1.processAllAvailable()
    kill = true // b2's batch dies after its offsets are logged, before its commit
    in.addData(b2)
    intercept[Exception](q1.awaitTermination(60000))
    assert(!q1.isActive)
    in.addData(b3) // arrives while the job is down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val recount = StreamOps.windowedWordCount(
      KafkaPipelines.decode((b0 ++ b1 ++ b2 ++ b3).toDF("key", "value", "timestamp")),
      "value", "ts", "1 minute", "10 seconds")
      .select(col("window.start").cast("string"), col("word"), col("count"))
      .as[(String, String, Long)].collect()
      .map { case (w, word, c) => (w, word) -> c }.toMap
    assert(latest.toMap == recount, "restart lost or double-counted events")

    // no integrity check was dropped by the checkpoint file manager:
    // Hadoop's .crc sidecars on the offset and commit logs, Spark's own
    // checksum files beside the state store's delta files
    assert(spark.conf.get(CheckpointFiles.confKey) == classOf[CheckpointFiles].getName)
    val root = new java.io.File(cp)
    def names(dir: String) = Option(new java.io.File(root, dir).list()).toSeq.flatten.toSet
    for (log <- Seq("offsets", "commits")) {
      val batches = names(log).filter(_.forall(_.isDigit))
      assert(batches.size >= 3, s"$log: ${names(log)}")
      batches.foreach(b => assert(names(log).contains(s".$b.crc"), s"$log/$b has no .crc"))
    }
    val deltas = new java.io.File(root, "state/0").listFiles().toSeq.filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.matches("\\d+\\.delta"))
    assert(deltas.nonEmpty, "no state delta files")
    deltas.foreach { d =>
      val dir = d.getParentFile.list().toSet
      assert(dir.contains(d.getName + ".crc"), s"no Spark state checksum for $d")
      assert(dir.contains(s".${d.getName}.crc"), s"no Hadoop .crc for $d")
    }
  }

  test("s_stateful sessionize: emits summary after processing-time timeout") {
    // NOTE: with ProcessingTimeTimeout the engine self-triggers timeout
    // batches, so processAllAvailable never quiesces — poll the sink with
    // a deadline instead (the reference's readMessagesUntilCount pattern,
    // go/integration/integration_test.go:122-140).
    val in = MemoryStream[StatefulOps.SessionEvent]
    sinkId += 1
    val name = s"sink_$sinkId"
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = StatefulOps.sessionize(spark, in.toDS, timeoutMs = 500)
      .toDF.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      in.addData(
        StatefulOps.SessionEvent("u1", ts("2024-01-01 10:00:00")),
        StatefulOps.SessionEvent("u1", ts("2024-01-01 10:00:30")))
      val deadline = System.currentTimeMillis() + 60000
      var u1: Option[StatefulOps.SessionSummary] = None
      while (u1.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        u1 = spark.table(name).as[StatefulOps.SessionSummary]
          .collect().find(_.user == "u1")
      }
      assert(u1.isDefined, "no session summary for u1 within deadline")
      assert(u1.get.nEvents == 2)
      assert(u1.get.durationMs == 30000L)
    } finally q.stop()
  }

  /** Bounded poll — the wait primitive for TTL'd queries, where
    * processAllAvailable never quiesces (TtlReproSpec documents the
    * behavior; sessionize above hit the same with ProcessingTimeTimeout). */
  private def pollUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(200); ok = cond
    }
    ok
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("s_stateful TTL: as-of semantics unchanged within the TTL window") {
    withRocksDb {
      val H = 3600L * 1000000L
      def ev(user: Long, tsMin: Int, click: Boolean, id: Long, v: Double) =
        StatefulOps.AsofEvent(user, tsMin * 60L * 1000000L, click, id, v)
      val in = MemoryStream[StatefulOps.AsofEvent]
      sinkId += 1
      val name = s"sink_$sinkId"
      val cp = Files.createTempDirectory("graft-cp").toString
      // TTL far beyond the test's runtime: every result must equal the
      // unttl'd operator's (the cross-batch carry included)
      val q = StatefulOps.streamingAsof(spark, in.toDS, H,
          stateTtlMs = 120000L)
        .toDF.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", cp).start()
      try {
        in.addData(ev(1, 0, click = true, 101, 1.5),
          ev(1, 10, click = false, 201, 0))
        assert(pollUntil(60000)(spark.table(name).count() >= 1),
          "batch 1 output never arrived")
        // state carried into a later batch, still inside the TTL window
        in.addData(ev(1, 30, click = false, 202, 0))
        assert(pollUntil(60000)(spark.table(name).count() >= 2),
          "batch 2 output never arrived")
        val got = spark.table(name).as[StatefulOps.AsofMatch].collect()
          .map(m => m.pId -> m.cId).toMap
        assert(got == Map(201L -> Some(101L), 202L -> Some(101L)),
          s"got $got")
      } finally q.stop()
    }
  }

  test("s_stateful TTL: idle as-of state expires; purchase degrades to unmatched") {
    withRocksDb {
      val H = 3600L * 1000000L
      val TTL = 2000L
      def ev(user: Long, tsMin: Int, click: Boolean, id: Long, v: Double) =
        StatefulOps.AsofEvent(user, tsMin * 60L * 1000000L, click, id, v)
      val in = MemoryStream[StatefulOps.AsofEvent]
      sinkId += 1
      val name = s"sink_$sinkId"
      val cp = Files.createTempDirectory("graft-cp").toString
      val q = StatefulOps.streamingAsof(spark, in.toDS, H, stateTtlMs = TTL)
        .toDF.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", cp).start()
      try {
        in.addData(ev(1, 0, click = true, 101, 1.5),
          ev(1, 10, click = false, 201, 0))
        assert(pollUntil(60000)(spark.table(name).count() >= 1),
          "batch 1 output never arrived")
        // the poll above proves the click's state write is in the past;
        // idle past the TTL, then probe with an EVENT-time-valid purchase
        Thread.sleep(TTL + 2000)
        in.addData(ev(1, 20, click = false, 202, 0))
        assert(pollUntil(60000)(spark.table(name).count() >= 2),
          "batch 2 output never arrived")
        val got = spark.table(name).as[StatefulOps.AsofMatch].collect()
          .map(m => m.pId -> m.cId).toMap
        // 201 matched inside the window; 202 finds the state evicted even
        // though the 1-hour event-time horizon would have matched it
        assert(got == Map(201L -> Some(101L), 202L -> None), s"got $got")
      } finally q.stop()
    }
  }

  test("s_stateful TTL: idle ewma state expires; the fold reseeds at x") {
    withRocksDb {
      val TTL = 1500L
      val in = MemoryStream[StatefulOps.Point]
      sinkId += 1
      val name = s"sink_$sinkId"
      val cp = Files.createTempDirectory("graft-cp").toString
      val q = StatefulOps.streamingEwma(spark, in.toDS, alpha = 0.5,
          stateTtlMs = TTL)
        .toDF.writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", cp).start()
      try {
        in.addData(StatefulOps.Point("a", 1, 10.0),
          StatefulOps.Point("a", 2, 20.0))
        assert(pollUntil(60000)(spark.table(name).count() >= 2),
          "batch 1 output never arrived")
        Thread.sleep(TTL + 2000)
        // state expired: the next point RESEEDS (ewma = x), instead of
        // folding 0.5*40 + 0.5*15 = 27.5 against the stale smoothed value
        in.addData(StatefulOps.Point("a", 3, 40.0))
        assert(pollUntil(60000)(spark.table(name).count() >= 3),
          "batch 2 output never arrived")
        val bySeq = spark.table(name).as[StatefulOps.EwmaPoint].collect()
          .map(p => p.seq -> p.ewma).toMap
        assert(bySeq(1L) == 10.0 && bySeq(2L) == 15.0 && bySeq(3L) == 40.0,
          s"got $bySeq")
      } finally q.stop()
    }
  }

  test("s_stateful TTL: idle fMGWS count evicts; the count restarts at 1") {
    val TTL = 1500L
    val in = MemoryStream[String]
    sinkId += 1
    val name = s"sink_$sinkId"
    val cp = Files.createTempDirectory("graft-cp").toString
    // continuous trigger so the key's timer fires during the idle gap
    val q = StatefulOps.runningCounts(spark, in.toDS, stateTtlMs = TTL)
      .toDF.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      in.addData("a", "a")
      assert(pollUntil(60000)(spark.table(name).count() >= 1),
        "batch 1 output never arrived")
      Thread.sleep(TTL + 2000)
      in.addData("a")
      assert(pollUntil(60000)(spark.table(name)
          .as[StatefulOps.KeyCount].collect().exists(_.count == 1L)),
        "count did not restart after eviction: " +
          spark.table(name).collect().mkString(","))
    } finally q.stop()
  }

  test("s_lsh TTL: idle band buckets are evicted; fresh docs still pair") {
    val TTL = 1500L
    val textA = "alpha beta gamma delta epsilon zeta"
    val in = MemoryStream[(Long, String)]
    sinkId += 1
    val name = s"sink_$sinkId"
    val cp = Files.createTempDirectory("graft-cp").toString
    // self-triggering so bucket timers fire during the idle gap even with
    // no new data (same as the sessionize test above)
    val q = streaming.StreamingLsh.candidates(spark,
        in.toDF.toDF("doc_id", "text"), stateTtlMs = TTL)
      .toDF.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      in.addData((1L, textA))
      assert(pollUntil(60000)(
        q.recentProgress.map(_.numInputRows).sum >= 1),
        "doc 1 was never consumed")
      // idle past the TTL — fMGWS eviction happens when a TIMER-FIRING
      // batch runs, so don't just sleep: wait until an EMPTY batch has
      // completed after the TTL deadline (the continuous trigger runs
      // them because a timeout is registered). Injecting doc 3 before
      // that batch would race the eviction and pair 3 with stale 1.
      Thread.sleep(TTL + 500)
      val batchesBefore = q.recentProgress.map(_.batchId).maxOption.getOrElse(-1L)
      assert(pollUntil(60000)(q.recentProgress.exists(p =>
          p.batchId > batchesBefore && p.numInputRows == 0)),
        "no timer-firing empty batch ran after the TTL deadline")
      // identical docs 3 and 4: 3 must NOT pair with the evicted 1;
      // 3↔4 pairs immediately, proving the bucket works post-eviction
      in.addData((3L, textA))
      in.addData((4L, textA))
      assert(pollUntil(60000)(spark.table(name)
          .select("idA", "idB").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).contains((3L, 4L))),
        "post-eviction pair (3,4) never arrived")
      val pairs = spark.table(name).select("idA", "idB").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((1L, 3L)) && !pairs.contains((1L, 4L)),
        s"evicted bucket member still paired: $pairs")
    } finally q.stop()
  }

  test("s_heavy_hitters event-time: watermark-final windows, late data dropped") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulOps.WordEvent]
      def ev(w: String, t: String) = StatefulOps.WordEvent(w, ts(t))
      val windowMs = 10000L
      val w0 = Math.floorDiv(ts("2025-01-01 00:00:01").getTime, windowMs) * windowMs
      val out = runToTable(
        StatefulOps.streamingHeavyHittersEventTime(
          spark, in.toDS, k = 3, windowMs = windowMs, delay = "5 seconds",
          shards = 2).toDF,
        "append",
        // batch 1: out-of-order WITHIN the watermark — all must fold in
        () => in.addData(
          ev("apple", "2025-01-01 00:00:03"), ev("apple", "2025-01-01 00:00:03"),
          ev("apple", "2025-01-01 00:00:03"), ev("apple", "2025-01-01 00:00:01"),
          ev("apple", "2025-01-01 00:00:01"), ev("banana", "2025-01-01 00:00:05"),
          ev("banana", "2025-01-01 00:00:05"), ev("pear", "2025-01-01 00:00:12"),
          ev("pear", "2025-01-01 00:00:12"), ev("pear", "2025-01-01 00:00:12"),
          ev("pear", "2025-01-01 00:00:12")),
        // batch 2: advances the watermark to 00:00:21 — past both windows
        () => in.addData(ev("kiwi", "2025-01-01 00:00:26")),
        // batch 3: a TOO-LATE apple (event time far behind the watermark)
        // must be dropped, not folded or re-emitted
        () => in.addData(ev("apple", "2025-01-01 00:00:02"),
          ev("kiwi", "2025-01-01 00:00:27")),
        // batch 4: flush any timers registered in batch 3
        () => in.addData(ev("kiwi", "2025-01-01 00:00:28")))
      val rows = out.as[(Long, Int, String, Long, Long)].collect()
      val byWord = rows.groupBy(_._3)
      // window summaries are FINAL: exact counts despite out-of-order
      // arrival, one emission per (window, shard, word)
      assert(byWord("apple").map(r => (r._1, r._4)).toSeq == Seq((w0, 5L)),
        s"apple: ${byWord.get("apple")}")
      assert(byWord("banana").map(r => (r._1, r._4)).toSeq == Seq((w0, 2L)),
        s"banana: ${byWord.get("banana")}")
      assert(byWord("pear").map(r => (r._1, r._4)).toSeq == Seq((w0 + windowMs, 4L)),
        s"pear: ${byWord.get("pear")}")
      // kiwi's window never passes the watermark -> never emitted
      assert(!byWord.contains("kiwi"), s"unclosed window emitted: $rows")
      // the late apple neither re-opened window 0 nor duplicated it
      assert(rows.count(_._3 == "apple") == 1, s"late row re-emitted: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_stateful: sharded streaming Misra-Gries heavy hitters across batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val tail1 = (1 to 10).map(i => s"tail$i")
      val tail2 = (11 to 20).map(i => s"tail$i")
      val out = runToTable(
        StatefulOps.streamingHeavyHitters(spark, in.toDS, k = 3, shards = 2).toDF,
        "update",
        () => in.addData(Seq.fill(15)("apple") ++ tail1: _*),
        () => in.addData(Seq.fill(15)("apple") ++ tail2: _*))
      val rows = out.as[(Int, String, Long, Long)].collect()
      // apple's LATEST estimate (max shard_n emission) must reflect BOTH
      // batches: lower bound within shardN/(k+1) of the true 30, and in
      // particular above any single batch's 15 — cross-batch state, not a
      // per-batch recount
      val apple = rows.filter(_._2 == "apple").maxBy(_._4)
      val shardN = apple._4
      assert(apple._3 <= 30, s"MG must lower-bound: $apple")
      assert(apple._3 >= 30 - shardN / 4.0, s"estimate too low: $apple (shardN=$shardN)")
      assert(apple._3 > 15, s"estimate lost cross-batch state: $apple")
      // a word is always summarized by ONE shard (shards partition words)
      rows.groupBy(_._2).foreach { case (w, rs) =>
        assert(rs.map(_._1).distinct.length == 1, s"$w spans shards: ${rs.toSeq}")
      }
      // per-shard state is bounded: no emission carries more than k words
      rows.groupBy(r => (r._1, r._4)).foreach { case (sn, rs) =>
        assert(rs.length <= 3, s"shard emission exceeds k: $sn -> ${rs.length}")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("s_kmv: streaming sketch equals the batch estimate across batches") {
    // the mergeable-sketch contract: stream the corpus tokens in two
    // micro-batches; the final per-source estimate must be BIT-identical
    // to q_kmv_distinct's batch answer over the same multiset
    val pairs = table("documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .as[(String, String)].collect().toSeq
    val (b1, b2) = pairs.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(String, String)]
    val out = runToTable(
      StreamingSketch.kmvDistinct(spark,
        in.toDS.map(t => StreamingSketch.GroupedToken(t._1, t._2))).toDF,
      "update",
      () => in.addData(b1.map(_._1)),
      () => in.addData(b2.map(_._1)))
    // update-mode semantics = upsert by group: the LAST emission is the
    // final state. Both outputs are monotone over time (n_min grows to k
    // then pins; est equals n_min below k, then (k-1)·2⁴⁸/kth with the
    // kth minimum only shrinking), so the latest row is the (n_min, est)
    // lexicographic max — n_min alone ties once both batches reach k.
    val fin = out.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.maxBy(t => (t._2, t._3)) }
    val batch = q("q_kmv_distinct").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch.nonEmpty && fin.keySet == batch.keySet)
    batch.foreach { case (src, (nExact, est)) =>
      val (_, nMin, sEst) = fin(src)
      assert(nMin == math.min(nExact, 16L).toInt, s"$src n_min $nMin")
      assert(sEst == est, s"$src: streaming $sEst vs batch $est")
    }
  }

  test("s_psi: streaming drift vs the corpus reference equals batch PSI") {
    // reference = the corpus's own bucket histogram, so the stream's
    // final per-source PSI must be BIT-identical to q_psi_drift's
    // batch answer (mergeable-histogram contract, the s_kmv pattern)
    val docs = table("documents")
      .select(col("source"), col("n_chars").cast("int"))
      .as[(String, Int)].collect().toSeq
    val ref = Array.fill(StreamingDrift.Buckets)(0L)
    docs.foreach { case (_, n) =>
      ref(math.min(n / StreamingDrift.Width, StreamingDrift.Buckets - 1)) += 1
    }
    val (b1, b2) = docs.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(String, Int)]
    val out = runToTable(
      StreamingDrift.psiDrift(spark,
        in.toDS.map(t => StreamingDrift.DocLen(t._1, t._2)), ref).toDF,
      "update",
      () => in.addData(b1.map(_._1)), () => in.addData(b2.map(_._1)))
    // update-mode upsert by source: the emission with the largest
    // n_docs is the final state
    val fin = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (s, rs) => s -> rs.maxBy(_._2) }
    val batch = q("q_psi_drift").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch.nonEmpty && fin.keySet == batch.keySet)
    batch.foreach { case (src, (n, p)) =>
      assert(fin(src)._2 == n, s"$src n_docs")
      assert(fin(src)._3 == p, s"$src: streaming ${fin(src)._3} vs batch $p")
    }
  }

  test("s_decontaminate: stateless arrival gate equals batch q_decontaminate") {
    // stream = the fixture's train docs (doc_id >= 10), eval set = the
    // batch query's own (doc_id < 10) — final per-doc hit counts must
    // equal q_decontaminate row-for-row. Append mode: the gate holds NO
    // streaming state (the broadcast eval-gram set decides per row), so
    // the parity needs no upsert folding — every emitted row is final.
    val docsDf = table("documents")
    val train = docsDf.filter(col("doc_id") >= 10)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = train.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(Long, String)]
    val out = runToTable(
      StreamingDecontaminate.contaminationCounts(spark,
        in.toDS.map(t => StreamingDecontaminate.Doc(t._1, t._2)),
        docsDf.filter(col("doc_id") < 10)).toDF,
      "append",
      () => in.addData(b1.map(_._1)), () => in.addData(b2.map(_._1)))
    val fin = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = q("q_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty && fin == batch,
      s"stream ${fin.size} rows vs batch ${batch.size}")
  }

  test("s_curation: foreachBatch gates equal the batch composition, zero state") {
    // planted corpus/arrivals so every gate fires deterministically:
    // an exact copy of a corpus doc is a GUARANTEED LSH candidate (all
    // 16 minhash slots equal → every band matches) — no probabilistic
    // recall in the assertion.
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"tok${seed}x$i").mkString(" ")
    val textA = words(1, 16)
    val corpus = Seq((1L, textA), (2L, words(2, 16)), (3L, words(3, 16)))
      .toDF("doc_id", "text")
    val index = graft.functions.MinHashDedup
      .buildIndex(corpus, "doc_id", "text")
    val evalDocs = Seq((9000L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val ev = StreamingCuration.evalGrams(evalDocs)
    val textD = words(16, 16)
    val b1 = Seq(
      101L -> textA,                                             // near-dup of corpus → drop
      103L -> ("alpha beta gamma delta epsilon " + words(13, 11)), // eval 5-gram → drop
      105L -> words(15, 16))                                     // clean → keep
    val b2 = Seq(
      102L -> words(12, 16),                                     // clean → keep
      104L -> "too short to pass",                               // quality → drop
      // SAME-BATCH near-dup pair (ADVICE r10 #1): both miss the standing
      // index — the intra-batch LSH self-join must drop the higher id
      // and keep the min-id survivor
      106L -> textD,                                             // keep (survivor)
      107L -> textD)                                             // intra-batch dup → drop
    val arrivals = b1 ++ b2
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[Long]
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = StreamingCuration.curateStream(
      in.toDF.toDF("doc_id", "text"), index, ev, cp) { (curated, _) =>
      got.synchronized {
        got ++= curated.select("doc_id").collect().map(_.getLong(0))
      }
    }
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      // the composition holds NO streaming state (foreachBatch over
      // stateless per-batch joins) — the StreamingDecontaminate contract
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
        "curation must not register a stateful operator")
    } finally q.stop()
    assert(got.toSet == Set(102L, 105L, 106L), s"curated = $got")
    // parity: the single shared batch composition over the same rows
    val batchIds = StreamingCuration.curateBatch(
      arrivals.toDF("doc_id", "text"), index, ev)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchIds == got.toSet)
  }

  test("s_curation living corpus: accepted arrivals gate LATER duplicates") {
    // the full loop a deployment runs in its foreachBatch: read the
    // on-disk index fresh per batch, curate, sink the survivors AND
    // append them to the index (MinHashDedup.appendIndex) — so a later
    // arrival that near-duplicates a PREVIOUSLY-ACCEPTED doc (not just
    // the original corpus) is dropped too.
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"lc${seed}w$i").mkString(" ")
    val corpus = Seq((1L, words(1, 16))).toDF("doc_id", "text")
    val idxDir = Files.createTempDirectory("graft-lc-idx").toString
    graft.functions.MinHashDedup.writeIndex(
      graft.functions.MinHashDedup.buildIndex(corpus, "doc_id", "text"),
      idxDir)
    val ev = StreamingCuration.evalGrams(
      Seq((9000L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"))
    val textB = words(22, 16)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .outputMode("append").option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val idx = graft.functions.MinHashDedup.readIndex(spark, idxDir)
        val curated = StreamingCuration.curateBatch(batch, idx, ev)
          .select("doc_id", "text")
        val rows = curated.collect()
        got.synchronized { got ++= rows.map(_.getLong(0)) }
        // accept survivors into the standing index — one text scan of
        // the batch, the corpus is never re-read
        if (rows.nonEmpty)
          graft.functions.MinHashDedup.appendIndex(idxDir,
            spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), curated.schema),
            "doc_id", "text")
      }
      .start()
    try {
      in.addData(Seq(201L -> textB)); q.processAllAvailable() // kept
      in.addData(Seq(202L -> textB, 203L -> words(33, 16)))
      q.processAllAvailable() // 202 dups the ACCEPTED 201 → dropped
    } finally q.stop()
    assert(got.toSet == Set(201L, 203L),
      s"accepted-arrival gating failed: $got")
  }

  test("s_sample: streaming bottom-k membership equals the batch eval sample") {
    val docs = table("documents").select(col("lang"), col("doc_id"))
      .as[(String, Long)].collect().toSeq
    val (b1, b2) = docs.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[(String, Long)]
    val out = runToTable(
      StreamingSample.bottomK(spark,
        in.toDS.map(t => StreamingSample.KeyedDoc(t._1, t._2))).toDF,
      "update",
      () => in.addData(b1.map(_._1)), () => in.addData(b2.map(_._1)))
    // memory-sink rows arrive in batch order; per (group, rank) the last
    // emission is the final membership (displaced docs never re-emit)
    val fin = out.collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
      .foldLeft(Map.empty[(String, Int), Long])(_ + _)
    val batch = q("q_eval_sample").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(batch.nonEmpty && fin == batch,
      s"streaming sample diverged: ${fin.toSeq.sorted.take(5)}…")
  }

  test("s_scd2: streaming history fixpoint equals the batch q_scd2 relation") {
    // stream the q_scd2 population (user_id < 25) in two micro-batches
    // split on the global (ts, event_id) order — which preserves every
    // user's per-key order, the ordering contract — and upsert by
    // (user_id, version): the fixpoint must equal the batch relation
    val evs = table("events").filter(col("user_id") < 25)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[StreamingScd2.Scd2Event].collect().toSeq
      .sortBy(e => (e.ts_us, e.event_id))
    assert(evs.nonEmpty)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamingScd2.Scd2Event]
    val out = runToTable(StreamingScd2.scd2(spark, in.toDS).toDF, "update",
      () => in.addData(b1), () => in.addData(b2))
    val rows = out.as[StreamingScd2.Scd2Row].collect().toSeq
    // a run closes EXACTLY once (state leaves the store on close)
    rows.filter(_.is_current == 0).groupBy(r => (r.user_id, r.version))
      .foreach { case (k, rs) => assert(rs.length == 1, s"$k closed twice") }
    // upsert: a closed emission supersedes the open ones; otherwise the
    // open row with the largest count is the latest
    val fin = rows.groupBy(r => (r.user_id, r.version)).map { case (k, rs) =>
      k -> rs.find(_.is_current == 0).getOrElse(rs.maxBy(_.n_events))
    }
    val batch = q("q_scd2")
      .select(col("user_id"), col("version"), col("state"),
        unix_micros(col("valid_from")), unix_micros(col("valid_to")),
        col("is_current"), col("n_events"))
      .as[(Long, Long, String, Long, Option[Long], Int, Long)]
      .collect().toSeq
    assert(fin.size == batch.size)
    batch.foreach { case (u, v, st, vf, vt, cur, n) =>
      val r = fin((u, v))
      assert((r.state, r.valid_from_us, r.valid_to_us, r.is_current,
        r.n_events) == ((st, vf, vt, cur, n)), s"user $u v$v: $r")
    }
  }

  test("s_ohlc: streaming candlesticks equal the batch bars") {
    // mergeable first/last/min/max state: stream the events in two
    // micro-batches (deliberately NOT time-ordered — the second batch
    // replays earlier timestamps) and pin the final bars to q_ohlc
    val ticks = table("events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
        unix_micros(col("ts")), col("event_id"), col("value"))
      .as[(String, String, Long, Long, Double)].collect().toSeq
      .map(t => StreamingOhlc.TickArrival(t._1, t._2, t._3, t._4, t._5))
    val (b1, b2) = ticks.zipWithIndex.partition(_._2 % 2 == 0)
    val in = MemoryStream[StreamingOhlc.TickArrival]
    val out = runToTable(
      StreamingOhlc.ohlc(spark, in.toDS).toDF, "update",
      () => in.addData(b1.map(_._1)), () => in.addData(b2.map(_._1)))
    // upsert by (type, day): the emission with the largest n is final
    val fin = out.as[StreamingOhlc.OhlcBar].collect().toSeq
      .groupBy(b => (b.event_type, b.day)).map { case (k, bs) =>
        k -> bs.maxBy(_.n)
      }
    val batch = q("q_ohlc")
      .as[(String, String, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(batch.nonEmpty && fin.size == batch.size)
    batch.foreach { case (tpe, day, n, o, h, l, c) =>
      val b = fin((tpe, day))
      assert((b.n, b.open, b.high, b.low, b.close) == ((n, o, h, l, c)),
        s"($tpe, $day): streaming $b vs batch ($n, $o, $h, $l, $c)")
    }
  }

  test("s_bootstrap: streaming Poisson-bootstrap CI equals the batch query") {
    // mergeable-state contract (the s_kmv/s_psi pattern): the per-(lang,
    // replicate) weighted sums are vector-additive, so streaming the
    // corpus in two micro-batches must land on the batch query's CI
    val docs = table("documents")
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)].collect().toSeq
      .map(t => StreamingBootstrap.DocArrival(t._1, t._2, t._3))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[StreamingBootstrap.DocArrival]
    val out = runToTable(
      StreamingBootstrap.bootstrapCi(spark, in.toDS).toDF, "update",
      () => in.addData(b1), () => in.addData(b2))
    // upsert by lang: the emission with the largest n is the final state
    val fin = out.as[StreamingBootstrap.BootCi].collect().toSeq
      .groupBy(_.lang).map { case (l, rs) => l -> rs.maxBy(_.n) }
    val batch = q("q_bootstrap_ci")
      .select(col("lang"), col("n"), col("mean_chars"), col("boot_se"),
        col("ci_lo"), col("ci_hi"))
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(batch.nonEmpty && fin.keySet == batch.map(_._1).toSet)
    batch.foreach { case (lang, n, m, se, lo, hi) =>
      val r = fin(lang)
      assert((r.n, r.mean_chars, r.boot_se, r.ci_lo, r.ci_hi)
        == ((n, m, se, lo, hi)), s"$lang: streaming $r vs batch " +
        s"($n, $m, $se, $lo, $hi)")
    }
  }
}
