package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Exact-semantics checks for the temporal-state (q_scd2, q_merge_upsert,
  * q_changepoint, q_seasonality), quality-audit (q_psi_drift, q_benford,
  * q_winsorize), link-prediction (q_adamic_adar), and bucketed-join
  * operators on PLANTED fixtures (the PlantedOpsSpec pattern). The DuckDB
  * oracle proves both engines agree at the fixture SFs; these legs pin
  * WHAT they agree on — run collapse + validity chaining, every MERGE
  * action incl. both delete legs, a hand-derived CUSUM argmax and mean
  * shift, the portable (days+4)%7 weekday convention, PSI symmetry vs a
  * disjoint distribution, digit extraction from exact cents, the IQR
  * clamp arithmetic, and the 1/ln(deg) common-neighbor score — branches
  * the sf fixtures don't isolate.
  */
class TemporalQualitySpec extends SparkSpec {

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  /** Planted events shared by the SCD2 and MERGE legs: max id 12 → cut 6. */
  private lazy val evDir: String = {
    val d = Files.createTempDirectory("graft-temporal").toString
    import spark.implicits._
    import java.sql.Timestamp
    def h(n: Int) = Timestamp.valueOf(f"2024-01-01 $n%02d:00:00")
    // user 1: a,a,b,a (ids 1,2,5,7)  → runs a(×2), b, a — re-entry gets a
    //         NEW version (type-2, not a dedup)
    // user 2: base a@2.0 only (id 3)               → MERGE kept
    // user 3: base a@4.0 (id 4), delta error (id 9) → MERGE deleted
    // user 4: delta-only c@3.0 (id 8)               → MERGE inserted
    // user 5: delta-only error (id 10)              → never existed
    // user 6: base a@1.0 (id 6), delta a@9.0 (ids 11,12) → MERGE updated
    Seq[(Long, Timestamp, Long, String, Option[Double], String)](
      (1L, h(1), 1L, "a", Some(1.0), "{}"),
      (2L, h(2), 1L, "a", Some(1.5), "{}"),
      (5L, h(3), 1L, "b", Some(2.0), "{}"),
      (7L, h(4), 1L, "a", Some(2.5), "{}"),
      (3L, h(1), 2L, "a", Some(2.0), "{}"),
      (4L, h(1), 3L, "a", Some(4.0), "{}"),
      (9L, h(5), 3L, "error", Some(0.0), "{}"),
      (8L, h(5), 4L, "c", Some(3.0), "{}"),
      (10L, h(5), 5L, "error", Some(0.0), "{}"),
      (6L, h(2), 6L, "a", Some(1.0), "{}"),
      (11L, h(5), 6L, "a", Some(8.0), "{}"),
      (12L, h(6), 6L, "a", Some(9.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("scd2: runs collapse, re-entry re-versions, validity chains") {
    val got = run("q_scd2", evDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(5), r.getLong(6)))
    // user 1: three versions a(2 events), b(1), a(1) — only v3 current
    assert(got.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1L, "a", 0, 2L), (1L, 2L, "b", 0, 1L), (1L, 3L, "a", 1, 1L)))
    // single-state users: exactly one current version
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 1L, "a", 1, 1L)))
    // validity chains: valid_to(v) == valid_from(v+1), NULL only on last
    val u1 = run("q_scd2", evDir).filter(col("user_id") === 1)
      .orderBy("version").collect()
    assert(u1(0).getTimestamp(4) == u1(1).getTimestamp(3))
    assert(u1(1).getTimestamp(4) == u1(2).getTimestamp(3))
    assert(u1(2).isNullAt(4))
  }

  test("merge upsert: kept/updated/inserted present, both delete legs absent") {
    val got = run("q_merge_upsert", evDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> (("updated", "a", 2.5)), // base b@h3, delta a@h4 (ids 5,7)
      2L -> (("kept", "a", 2.0)),
      4L -> (("inserted", "c", 3.0)),
      6L -> (("updated", "a", 9.0))))
    // deleted user 3 and never-upserted error user 5 must be absent
    assert(!got.contains(3L) && !got.contains(5L))
  }

  test("changepoint: CUSUM argmax locates the level shift, exact means") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-cusum").toString
    // type t: days 1-6 with counts 10,10,10,20,20,20 → tot 90, nd 6;
    // cusum×1 (scaled /nd): -5,-10,-15,-10,-5,0 → argmax |·| at day 3
    Seq(10, 10, 10, 20, 20, 20).zipWithIndex.flatMap { case (n, day) =>
      (0 until n).map { i =>
        (day.toLong * 1000 + i,
          Timestamp.valueOf(f"2024-03-${day + 1}%02d 12:00:00"),
          1L, "t", Some(1.0): Option[Double], "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = run("q_changepoint", d).collect()
    assert(r.length == 1)
    assert(r(0).getString(1) == "2024-03-03") // cp_date
    assert(r(0).getLong(2) == 6L)             // n_days
    assert(r(0).getDouble(3) == -15.0)        // cusum = -90/6
    assert(r(0).getDouble(4) == 10.0)         // shift = 20 - 10
  }

  test("seasonality: (days+4)%7 weekday convention, index vs overall mean") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-dow").toString
    // 2024-01-01 is a Monday (dow 1), 2024-01-07 a Sunday (dow 0);
    // 1 event Monday, 2 events Sunday → overall mean 1.5/day
    (Seq((1L, "2024-01-01")) ++ Seq((2L, "2024-01-07"), (3L, "2024-01-07")))
      .map { case (id, day) =>
        (id, Timestamp.valueOf(s"$day 12:00:00"), 1L, "t",
          Some(1.0): Option[Double], "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = run("q_seasonality", d).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    assert(got(1) == ((1L, 1.0, 0.6667))) // Monday: 1/1.5
    assert(got(0) == ((1L, 2.0, 1.3333))) // Sunday: 2/1.5
  }

  test("time to convert: first-view→first-purchase pairs only, exact quartiles") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-ttc").toString
    val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
    val t100 = Timestamp.valueOf("2024-06-01 00:01:40")
    val t200 = Timestamp.valueOf("2024-06-01 00:03:20")
    // u1 converts in 100 s, u4 in 200 s; u2 never purchases; u3's
    // purchase PRECEDES its first view — excluded by the tp > tv guard
    Seq(
      (1L, t0, 1L, "view"), (2L, t100, 1L, "purchase"),
      (3L, t0, 2L, "view"),
      (4L, t0, 3L, "purchase"), (5L, t100, 3L, "view"),
      (6L, t0, 4L, "view"), (7L, t200, 4L, "purchase"))
      .map { case (id, ts, u, tp) =>
        (id, ts, u, tp, Some(1.0): Option[Double], "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = run("q_time_to_convert", d).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 2L)
    assert((r(0).getDouble(1), r(0).getDouble(2), r(0).getDouble(3),
      r(0).getDouble(4)) == ((125.0, 150.0, 175.0, 150.0)))
  }

  test("psi drift: identical distributions score alike, disjoint score high") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-psi").toString
    // sources A and B: identical n_chars histograms (buckets 0 and 1)
    // carrying ~95% of the corpus; source C: 2 docs, all mass in bucket
    // 8 — disjoint from the corpus bulk
    val docs =
      (0 until 20).map(i => (i.toLong, "x", "en", "A", if (i < 10) 50 else 100)) ++
      (0 until 20).map(i => (100L + i, "x", "en", "B", if (i < 10) 50 else 100)) ++
      (0 until 2).map(i => (200L + i, "x", "en", "C", 550))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_psi_drift", d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("A") == got("B"))            // same histogram → same PSI
    assert(got("A") < 0.2 && got("C") > 1.0) // conforming vs disjoint
  }

  test("benford: digit from exact cents, expected share log10(1+1/d)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-benford").toString
    // totals 1.0 ×3, 2.0 ×1 → cents 100/200 → digits 1 (75%), 2 (25%)
    Seq((1L, 1L, "O", 1.0, "1996-01-01", "x"), (2L, 1L, "O", 1.0, "1996-01-01", "x"),
      (3L, 1L, "O", 1.0, "1996-01-01", "x"), (4L, 1L, "O", 2.0, "1996-01-01", "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val got = run("q_benford", d).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got(1) == ((3L, 0.75, 0.301)))  // log10(2) → 0.3010 → 0.301
    assert(got(2) == ((1L, 0.25, 0.1761))) // log10(1.5)
  }

  test("benford: non-positive totals have no leading digit and drop out") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-benford0").toString
    // 0.001 rounds to 0 cents, -5.0 is negative — both excluded; shares
    // renormalize over the surviving rows
    Seq((1L, 1.0), (2L, 3.0), (3L, 0.001), (4L, -5.0))
      .map { case (k, p) => (k, 1L, "O", p, "1996-01-01", "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val got = run("q_benford", d).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got == Map(1 -> 0.5, 3 -> 0.5))
  }

  test("gini: an all-zero-length source reports NULL, not NaN") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-gini0").toString
    (Seq((1L, "Z", 0), (2L, "Z", 0)) ++ Seq((3L, "U", 10), (4L, "U", 10)))
      .map { case (id, src, n) => (id, "x", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = run("q_gini_length", d).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) None
        else Some(r.getDouble(2)))).toMap
    assert(rows("Z").isEmpty && rows("U").contains(0.0))
  }

  test("winsorize: IQR clamp on exact quarter-index percentiles") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-wins").toString
    // one segment, acctbal 1,2,3,4,100 → cents 100..10000; n=5 puts
    // p25/p75 exactly ON ranks 2 and 4 (no interpolation): 200/400;
    // clamped mean = (200+200+300+400+400)/5 = 300
    Seq((1L, "c1", 1, 1.0, "S"), (2L, "c2", 1, 2.0, "S"),
      (3L, "c3", 1, 3.0, "S"), (4L, "c4", 1, 4.0, "S"),
      (5L, "c5", 1, 100.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    val r = run("q_winsorize", d).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 5L)
    assert(r(0).getDouble(2) == 2200.0) // raw mean cents
    assert(r(0).getDouble(3) == 300.0)  // winsorized mean cents
    assert(r(0).getDouble(4) == 200.0 && r(0).getDouble(5) == 400.0)
  }

  test("adamic-adar: path graph scores the open pair 1/ln(deg(center))") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-aa").toString
    // urgent orders 10 {1,2} and 20 {2,3} → path 1-2-3: the only
    // candidate is (1,3) through center 2 (deg 2) → score 1/ln 2
    Seq((10L, 1.0, "1996-01-01", "1-URGENT"), (20L, 1.0, "1996-01-01", "1-URGENT"))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    val r = run("q_adamic_adar", d).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2)) == ((1L, 3L, 1L)))
    assert(r(0).getDouble(3) == 1.4427) // 1/ln 2 = 1.44269…
  }

  test("rolling corr: anti-phase series hit -1 once the window fills") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-rollcorr").toString
    // 10 days: views alternate 1/2 per day, purchases 2/1 (anti-phase) —
    // within ANY window of ≥2 days the two series are exact negatives
    // of each other around their means → r = -1; the day-1 window has
    // zero variance → NULL (the NULLIF guard)
    (0 until 10).flatMap { day =>
      val nx = if (day % 2 == 0) 1 else 2
      val ny = if (day % 2 == 0) 2 else 1
      val ts = Timestamp.valueOf(f"2024-04-${day + 1}%02d 12:00:00")
      (0 until nx).map(i => (day.toLong * 100 + i, ts, 1L, "view",
        Some(1.0): Option[Double], "{}")) ++
        (0 until ny).map(i => (day.toLong * 100 + 50 + i, ts, 1L,
          "purchase", Some(1.0): Option[Double], "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = run("q_rolling_corr", d).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.head._2 == 1L && got.head._3.isEmpty) // 1-day window: NULL
    assert(got.drop(1).forall(_._3.contains(-1.0)))  // every fuller window
    assert(got.last._2 == 7L)                        // frame caps at 7
  }

  test("xcorr: a one-day-lagged copy correlates perfectly at lag +1") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-xcorr").toString
    // views count pattern on day t; purchases replay it on day t+1 →
    // corr(view_t, purchase_{t+1}) = 1 exactly at lag +1, and the
    // pattern (1,5,2,8,3,9,4,7,6,2) is chosen aperiodic so no other
    // lag reaches 1
    val pat = Seq(1, 5, 2, 8, 3, 9, 4, 7, 6, 2)
    pat.zipWithIndex.flatMap { case (n, day) =>
      val tsV = Timestamp.valueOf(f"2024-04-${day + 1}%02d 12:00:00")
      val tsP = Timestamp.valueOf(f"2024-04-${day + 2}%02d 12:00:00")
      (0 until n).map(i => (day.toLong * 1000 + i, tsV, 1L, "view",
        Some(1.0): Option[Double], "{}")) ++
        (0 until n).map(i => (day.toLong * 1000 + 500 + i, tsP, 1L,
          "purchase", Some(1.0): Option[Double], "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = run("q_xcorr", d).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got(1)._2.contains(1.0), s"lag +1 must be perfect: $got")
    assert(got.keySet == (-3 to 3).toSet)
    (-3 to 3).filter(_ != 1).foreach { l =>
      assert(got(l)._2.forall(_ < 1.0), s"lag $l must not be perfect")
    }
  }

  test("gini: uniform source scores 0, concentrated source the rank formula") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-gini").toString
    // U: four equal lengths → gini 0; C: (1,1,1,97) →
    // (2·(1+2+3+4·97) − 5·100) / (4·100) = 288/400 = 0.72
    (Seq((1L, "U", 25), (2L, "U", 25), (3L, "U", 25), (4L, "U", 25)) ++
      Seq((11L, "C", 1), (12L, "C", 1), (13L, "C", 1), (14L, "C", 97)))
      .map { case (id, src, n) => (id, "x", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_gini_length", d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("U") == 0.0 && got("C") == 0.72)
  }

  test("completeness: missing interior day found, full type clean") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Files.createTempDirectory("graft-complete").toString
    // type a: days 1,2,4,5 (day 3 missing); type b: all of 1..5
    val rows =
      Seq(1, 2, 4, 5).map(day => (day.toLong, "a")) ++
        (1 to 5).map(day => (100L + day, "b"))
    rows.zipWithIndex.map { case ((id, tpe), i) =>
      val day = if (tpe == "a") id.toInt else (id - 100).toInt
      (id * 10 + i, Timestamp.valueOf(f"2024-05-$day%02d 12:00:00"), 1L,
        tpe, Some(1.0): Option[Double], "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = run("q_completeness", d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.getString(4))))).toMap
    assert(got("a") == ((5L, 4L, 1L, Some("2024-05-03"))))
    assert(got("b") == ((5L, 5L, 0L, None)))
  }

  test("dup histogram: cluster sizes bucket correctly with removable counts") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-duphist").toString
    // texts: "aa"×3, "bb"×2, "cc"×1 → histogram {1:(1,1,0), 2:(1,2,1),
    // 3:(1,3,2)}
    Seq("aa", "aa", "aa", "bb", "bb", "cc").zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_dup_histogram", d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == Map(1L -> ((1L, 1L, 0L)), 2L -> ((1L, 2L, 1L)),
      3L -> ((1L, 3L, 2L))))
  }

  test("eval sample: fixed size, membership independent of other langs") {
    import spark.implicits._
    val d1 = Files.createTempDirectory("graft-eval1").toString
    val d2 = Files.createTempDirectory("graft-eval2").toString
    val en = (0 until 40).map(i => (i.toLong, s"t$i", "en", "s", 10))
    en.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d1/documents.parquet")
    // same en corpus plus an unrelated language — the en sample must
    // not move (membership is a pure function of doc_id and the en set)
    (en ++ (100 until 140).map(i => (i.toLong, s"u$i", "fr", "s", 10)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d2/documents.parquet")
    def sample(dir: String) = run("q_eval_sample", dir).collect()
      .filter(_.getString(0) == "en")
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    val s1 = sample(d1)
    assert(s1.length == 16 && s1.map(_._1) == (1 to 16))
    assert(sample(d2) == s1)
  }

  test("rake: corpus-frequency stopwords, deg/freq word scores, phrase sums") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-rake").toString
    // stopwords (top-10): 'the' ×7 and s1..s9 ×4; content words appear
    // ≤3 times (apple, the most frequent, has 3 < 4 — safely below the
    // cut). Candidate phrases:
    //   red apple, green apple (doc1), red wine (doc2), apple (doc4)
    // scores: red 4/2=2, green 2/1=2, wine 2/1=2, apple 5/3 → phrase
    // scores 3.6667 / 3.6667 / 4.0 / 1.6667
    val texts = Seq(
      "the red apple the green apple",
      "the red wine",
      (1 to 9).map(i => Seq.fill(4)(s"s$i").mkString(" ")).mkString(" ") +
        " the the the",
      "the apple")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_rake", d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == Map(
      "red wine" -> ((2L, 1L, 4.0)),
      "red apple" -> ((2L, 1L, 3.6667)),
      "green apple" -> ((2L, 1L, 3.6667)),
      "apple" -> ((1L, 1L, 1.6667))))
  }

  test("bigram logprob: add-half smoothing on a hand-traced two-doc corpus") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-bigram").toString
    // corpus bigrams: doc0 "a b" → ab; doc1 "a b a b" → ab, ba, ab.
    // c(ab)=3, c(ba)=1, c1(a)=3, c1(b)=1, V=2:
    //   p(b|a) = 3.5/4 = 0.875,  log2 = -0.1926…
    //   p(a|b) = 1.5/2 = 0.75,   log2 = -0.4150…
    // doc0 avg = -0.1926; doc1 avg = (2·log2 .875 + log2 .75)/3 = -0.2668
    Seq((0L, "a b"), (1L, "a b a b"))
      .map { case (id, t) => (id, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_bigram_logprob", d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(0L -> ((1L, -0.1926)), 1L -> ((3L, -0.2668))))
  }

  test("hist equidepth: ntile split sizes and exact bucket bounds") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-hist").toString
    // 10 rows, cents 100..1000 → NTILE(8): buckets 1-2 take 2 rows,
    // 3-8 take one; bounds follow the sorted cents
    (1 to 10).map(i => (i.toLong, 1L, i.toDouble, "R", "O", 0.0))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_returnflag", "l_linestatus", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val got = run("q_hist_equidepth", d).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got(1) == ((2L, 100L, 200L)) && got(2) == ((2L, 300L, 400L)))
    assert((3 to 8).forall(b => got(b)._1 == 1L))
    assert(got(8) == ((1L, 1000L, 1000L)))
  }

  test("ks test: disjoint supports hit D=1, identical distributions D=0") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-ks").toString
    // A: lengths {1,1,2,2}; B: {3,3,4,4} (disjoint → D = 1 at v = 2);
    // C: copy of A (→ D = 0 vs A)
    (Seq(1, 1, 2, 2).zipWithIndex.map { case (v, i) => (i.toLong, "A", v) } ++
      Seq(3, 3, 4, 4).zipWithIndex.map { case (v, i) => (10L + i, "B", v) } ++
      Seq(1, 1, 2, 2).zipWithIndex.map { case (v, i) => (20L + i, "C", v) })
      .map { case (id, src, n) => (id, "x", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_ks_test", d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(got(("A", "B")) == 1.0)
    assert(got(("A", "C")) == 0.0)
    assert(got(("B", "C")) == 1.0)
  }

  test("chisq + mutual info: independent table scores 0, diagonal scores n / 1 bit") {
    import spark.implicits._
    def mk(cells: Seq[(String, String, Int)]): String = {
      val d = Files.createTempDirectory("graft-chi").toString
      cells.flatMap { case (l, s, n) => (0 until n).map(i => (l, s, i)) }
        .zipWithIndex
        .map { case ((l, s, _), i) => (i.toLong, "x", l, s, 10) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    // perfectly independent 2×2 (all cells 25): chi2 = 0, MI = 0
    val ind = mk(Seq(("x", "p", 25), ("x", "q", 25), ("y", "p", 25), ("y", "q", 25)))
    val ci = run("q_chisq", ind).head()
    assert(ci.getLong(1) == 1L && ci.getDouble(2) == 0.0) // df, chi2
    assert(run("q_mutual_info", ind).head().getDouble(2) == 0.0)
    // perfectly associated diagonal (10/10): chi2 = n = 20, MI = 1 bit
    val dia = mk(Seq(("x", "p", 10), ("y", "q", 10)))
    val cd = run("q_chisq", dia).head()
    assert(cd.getLong(0) == 20L && cd.getLong(1) == 1L &&
      cd.getDouble(2) == 20.0)
    assert(run("q_mutual_info", dia).head().getDouble(2) == 1.0)
  }

  test("mean ci: zero-variance language has a zero error bar") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-ci").toString
    ((0 until 4).map(i => (i.toLong, "en", 100)) ++
      Seq((10L, "fr", 50), (11L, "fr", 150)))
      .map { case (id, l, n) => (id, "x", l, "s", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run("q_mean_ci", d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got("en") == ((4L, 100.0, 0.0)))
    // fr: mean 100, sd = 70.7107 → 1.96·sd/√2 = 98.0 exactly
    assert(got("fr")._1 == 2L && got("fr")._2 == 100.0)
    assert(got("fr")._3 == 98.0)
  }

  test("pareto 8020: crossing row found with integer arithmetic") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-pareto").toString
    // revenue 80, 10, 5, 5 → the top customer alone covers exactly 80%
    Seq((1L, 80.0), (2L, 10.0), (3L, 5.0), (4L, 5.0))
      .zipWithIndex.map { case ((cust, p), i) =>
        (i.toLong, cust, "O", p, "1996-01-01", "x")
      }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val r = run("q_pareto_8020", d).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) ==
      ((4L, 1L, 0.25, 0.8)))
  }

  test("bucket lookup: equality on the bucket key prunes to 1 of 8 buckets") {
    // assert on the registry query's own plan: the grouped aggregate on
    // the bucket key keeps the bucketed scan alive (a bare filter would
    // be auto-disabled by DisableUnnecessaryBucketedScan), and the
    // equality literal prunes the scan to a single bucket
    val df = q("q_bucket_lookup")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"bucket pruning missing:\n$plan")
  }

  test("bucketed join: co-located scan-to-join with no shuffle exchange") {
    // run the registry query once so the bucketed tables exist for sf,
    // then assert the bucket-aligned join plans WITHOUT an Exchange on
    // either input (the agg above the join still exchanges — that's the
    // grouping shuffle, not the join's)
    q("q_join_bucketed").collect()
    val tag = functions.Artifacts.dirTag(sf)
    val li = spark.table(s"graft_bkt_li_$tag")
    val ord = spark.table(s"graft_bkt_ord_$tag")
    val join = li.hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    // value parity with the unbucketed join
    val direct = table("lineitem").join(table("orders"),
      col("l_orderkey") === col("o_orderkey"))
    assert(join.count() == direct.count())
  }

  test("ohlc: open/close resolve by (ts, event_id), high/low exact") {
    val d = Files.createTempDirectory("graft-ohlc").toString
    import spark.implicits._
    import java.sql.Timestamp
    def h(n: Int) = Timestamp.valueOf(f"2024-01-01 $n%02d:00:00")
    // values 5, 9, 1, 3 across the day; plus a same-ts pair at hour 5
    // where the LOWER event_id must win "first" and the higher "last"
    Seq[(Long, Timestamp, Long, String, Option[Double], String)](
      (1L, h(1), 1L, "a", Some(5.0), "{}"),
      (2L, h(2), 1L, "a", Some(9.0), "{}"),
      (3L, h(3), 1L, "a", Some(1.0), "{}"),
      (4L, h(4), 1L, "a", Some(3.0), "{}"),
      (10L, h(5), 1L, "b", Some(7.0), "{}"),
      (11L, h(5), 1L, "b", Some(2.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val m = SparkEntry.queries("q_ohlc")(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("open"),
          r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close")))).toMap
    assert(m("a") == ((4L, 5.0, 9.0, 1.0, 3.0)))
    assert(m("b") == ((2L, 7.0, 7.0, 2.0, 2.0)),
      "same-ts tie: open = lower event_id, close = higher")
  }

  test("tw_avg: gap-weighted mean, last event dropped, type of segment start") {
    val d = Files.createTempDirectory("graft-twavg").toString
    import spark.implicits._
    import java.sql.Timestamp
    def sec(n: Int) = new Timestamp(1704067200000L + n * 1000L)
    // user 1: a@10 for 100 s, then b@20 for 200 s, then a terminal event
    // (no segment) → tw(a) = 10 (one segment), tw(b) = 20 (one segment)
    // user 2: a@40 for 300 s → combined tw(a) = (10·100 + 40·300)/400
    Seq[(Long, Timestamp, Long, String, Option[Double], String)](
      (1L, sec(0), 1L, "a", Some(10.0), "{}"),
      (2L, sec(100), 1L, "b", Some(20.0), "{}"),
      (3L, sec(300), 1L, "a", Some(99.0), "{}"),
      (4L, sec(0), 2L, "a", Some(40.0), "{}"),
      (5L, sec(300), 2L, "b", Some(99.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val m = SparkEntry.queries("q_tw_avg")(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Double]("tw_avg")))).toMap
    assert(m("a") == ((2L, 32.5)), "(10·100 + 40·300) / 400 = 32.5")
    assert(m("b") == ((1L, 20.0)))
    assert(!m.contains("__none"), m.toString)
  }
}
