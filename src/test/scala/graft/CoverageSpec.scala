package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Closes the remaining SURVEY §2.3 inventory rows: explicit-schema
  * CSV/JSON reads (A), stream-static + stream-stream joins (C), approx
  * aggregates with error bounds (D), and the SQL function registry (K). */
class CoverageSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("csv_json_read: explicit schema, no inference (A)") {
    val tmp = Files.createTempDirectory("graft-io").toString
    val docs = table("documents").select("doc_id", "lang", "n_chars").limit(50)
    docs.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    docs.write.mode("overwrite").json(s"$tmp/json")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val fromCsv = spark.read.schema(schema).option("header", "true")
      .csv(s"$tmp/csv")
    val fromJson = spark.read.schema(schema).json(s"$tmp/json")
    assert(fromCsv.schema == schema, "csv read must use the declared schema")
    assert(fromJson.schema == schema)
    assert(fromCsv.count() == 50 && fromJson.count() == 50)
    val a = fromCsv.orderBy("doc_id").collect().map(_.toSeq)
    val b = fromJson.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("orc_read_write: round-trip preserves data; filters push to the scan (A)") {
    val tmp = Files.createTempDirectory("graft-orc").toString
    val docs = table("documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").orc(s"$tmp/orc")
    val back = spark.read.orc(s"$tmp/orc")
    assert(back.count() == docs.count())
    assert(back.orderBy("doc_id").collect().map(_.toSeq)
      .sameElements(docs.orderBy("doc_id").collect().map(_.toSeq)))
    // predicate + projection reach the ORC scan, same as parquet
    val filtered = back.filter(col("doc_id") < 10).select("doc_id", "lang")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      scan)
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), scan)
  }

  test("q_agg_approx: HLL and approx percentile within error bounds (D)") {
    val li = table("lineitem")
    val exact = li.select(countDistinct("l_partkey")).head().getLong(0)
    val approx = li.select(approx_count_distinct("l_partkey")).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"HLL estimate $approx vs exact $exact drifts > 10%")
    val exactMed = li.select(expr("percentile(l_quantity, 0.5)")).head().getDouble(0)
    val approxMed = li.select(expr("approx_percentile(l_quantity, 0.5, 1000)"))
      .head().getDouble(0)
    assert(math.abs(approxMed - exactMed) <= 2.0,
      s"approx median $approxMed vs exact $exactMed")
  }

  test("hll sketch merge: per-group sketches union to the global count (D)") {
    // The 100 TB distinct-count pattern: sketches are MERGEABLE, so a
    // rollup never re-scans the facts — per-nation hll_sketch_agg binaries
    // union (hll_union_agg) into the global estimate. Datasketches HLL is
    // deterministic for a fixed lgK, so the two-level path must land within
    // the sketch's published error envelope of the exact count.
    val c = table("customer")
    val perNation = c.groupBy("c_nationkey")
      .agg(expr("hll_sketch_agg(c_custkey, 12)").as("sk"))
    val merged = perNation
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .head().getLong(0)
    val exact = c.select(countDistinct("c_custkey")).head().getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"two-level HLL $merged vs exact $exact drifts > 5%")
    // the sketch column is a binary payload — the shuffle between the two
    // levels carries 25 sketches, not 25×group rows
    assert(perNation.schema("sk").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("corrupt-record tolerance: PERMISSIVE captures, DROPMALFORMED skips (A)") {
    // 100 TB ingest reality: some JSON lines are broken. PERMISSIVE must
    // keep every row (bad ones flagged in the corrupt column, fields null);
    // DROPMALFORMED must keep exactly the clean rows. FAILFAST must throw.
    val tmp = Files.createTempDirectory("graft-badjson").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/part.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "also ok"}
        |{broken json line
        |{"id": 4, "v": null}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_bad", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .json(tmp).cache()
    assert(permissive.count() == 4)
    assert(permissive.filter(col("_bad").isNotNull).count() == 1)
    assert(permissive.filter(col("_bad").isNotNull).select("id").head().isNullAt(0))
    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(tmp)
    assert(dropped.count() == 3)
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(tmp).collect()
    }
  }

  test("schema evolution: mergeSchema unions parquet file schemas (A)") {
    // Old files lack the later-added column; mergeSchema reads must union
    // the schemas and null-fill — the append-only table-evolution pattern.
    val tmp = Files.createTempDirectory("graft-evolve").toString
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS name")
      .write.parquet(s"$tmp/d=1")
    spark.range(3, 5)
      .selectExpr("id", "CAST(id AS STRING) AS name", "id * 2 AS score")
      .write.parquet(s"$tmp/d=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.schema.fieldNames.toSet == Set("id", "name", "score", "d"))
    assert(merged.count() == 5)
    assert(merged.filter(col("d") === 1 && col("score").isNull).count() == 3)
    assert(merged.filter(col("d") === 2).agg(sum("score")).head().getLong(0) == 14)
  }

  test("q_join_interval: band-bucketed join equals the naive range join (C)") {
    // result-preservation proof for the 5-minute cell bucketing: every
    // qualifying pair meets in exactly one (user, cell) — the naive
    // user-keyed join with the band as a condition filter is ground truth
    val e1 = table("events").alias("e1")
    val e2 = table("events").alias("e2")
    val naive = e1.filter(col("e1.event_type") === "click")
      .join(e2,
        col("e1.user_id") === col("e2.user_id")
          && col("e2.ts") > col("e1.ts")
          && col("e2.ts") <= col("e1.ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("e1.user_id").as("user_id"), col("e1.event_id").as("event_id"))
      .agg(count(lit(1)).as("n_follow"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val banded = q("q_join_interval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(banded == naive && banded.nonEmpty)
    // the auto-sized cell picks the MINIMAL 2-replica cover (w = window)
    // at the fixture's sparse density — the ≤2-cell replication invariant
    assert(operators.JoinQueries.intervalCellWidth(table("events"), 300L)
      == 300L, "fixture density must keep the 2-cell cover")
  }

  test("q_join_interval auto cell: dense stream shrinks w, result unchanged (C)") {
    // planted DENSE stream (several events per user per window: d ≈ 0.05
    // events/s/user ≫ the 2/W shrink threshold) — the measured cell must
    // drop below the window, the replica count grows to ⌈W/w⌉ + 1, and
    // the exact range re-check keeps the result identical to the naive
    // range join at ANY cell width.
    import spark.implicits._
    val rows = for (u <- 0L until 4L; i <- 0L until 300L) yield (
      u, u * 1000 + i,
      new java.sql.Timestamp(1700000000000L + u * 7L + i * 19000L),
      if (i % 3 == 0) "click" else "view")
    val ev = rows.toDF("user_id", "event_id", "ts", "event_type")
    val w = operators.JoinQueries.intervalCellWidth(ev, 300L)
    assert(w < 300L && w >= 300L / 16,
      s"dense stream must shrink the cell within the clamp, got $w")
    val naive = ev.as("e1").filter(col("e1.event_type") === "click")
      .join(ev.as("e2"),
        col("e1.user_id") === col("e2.user_id")
          && col("e2.ts") > col("e1.ts")
          && col("e2.ts") <= col("e1.ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("e1.user_id").as("user_id"), col("e1.event_id").as("event_id"))
      .agg(count(lit(1)).as("n_follow"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val banded = operators.JoinQueries.intervalFollowJoin(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(banded == naive && banded.nonEmpty)
  }

  test("join strategy hints: merge forces SMJ, shuffle_hash forces SHJ (C)") {
    // The escape hatch when the optimizer's choice is wrong for a known
    // data shape — hints pin the physical strategy without touching the
    // declarative query.
    val o = table("orders")
    val c = table("customer")
    val smj = o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(smj.contains("SortMergeJoin"), s"merge hint ignored:\n$smj")
    val shj = o.join(c.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(shj.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored:\n$shj")
    val bcast = o.join(c.hint("broadcast"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin"), s"broadcast hint ignored:\n$bcast")
  }

  test("SQL function registry: cosine_sim/normalize_text/lang_id/... (K)") {
    val r = spark.sql("""SELECT
        cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c1,
        cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                   array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c0,
        normalize_text('  Hello   WORLD  ') AS nt,
        token_count('a b  c') AS tc,
        jaccard_tokens('a b c', 'b c d') AS j,
        lang_id('the cat and the dog is here') AS lid""").head()
    assert(math.abs(r.getAs[Double]("c1") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("c0")) < 1e-9)
    assert(r.getAs[String]("nt") == "hello world")
    assert(r.getAs[Int]("tc") == 3)
    assert(math.abs(r.getAs[Double]("j") - 0.5) < 1e-9)
    assert(r.getAs[String]("lid") == "en")
  }

  /** cos(a, b) accumulated in double, as every cosine form here does. */
  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }
  private def floats(xs: Double*) =
    xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
  private def doubles(xs: Double*) = xs.map(x => s"${x}D").mkString("array(", ", ", ")")
  private def chars(parts: Any*) = parts.map {
    case c: Int => s"chr($c)"
    case s => s"'$s'"
  }.mkString("concat(", ", ", ")")

  /** The five SQL convenience names on their edge cases: (call, value). */
  private val sqlNamePins: Seq[(String, Any)] = Seq(
    s"cosine_sim(CAST(NULL AS ARRAY<FLOAT>), ${floats(1)})" -> null,
    s"cosine_sim(${floats(1, 0)}, NULL)" -> null,
    "cosine_sim(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>))" -> null,
    s"cosine_sim(${floats(1)}, ${floats(1, 0)})" -> null,
    s"cosine_sim(${floats(0, 0)}, ${floats(1, 1)})" -> null,
    s"cosine_sim(${floats(1, 0)}, ${floats(1, 0)})" -> 1.0,
    s"cosine_sim(${floats(1, 0)}, ${floats(0, 1)})" -> 0.0,
    s"cosine_sim(${floats(1, 2, 3)}, ${floats(4, 5, 6)})" ->
      cosine(Seq(1, 2, 3), Seq(4, 5, 6)),
    "cosine_sim(array(1, 2, 3), array(4, 5, 6))" -> cosine(Seq(1, 2, 3), Seq(4, 5, 6)),
    "cosine_sim(array(1.5, 0.0), array(3.0, 0.0))" -> 1.0,
    "normalize_text(NULL)" -> null,
    "normalize_text('')" -> "",
    "normalize_text('   ')" -> "",
    s"normalize_text(${chars(9, 10, 13, " ")})" -> "",
    s"normalize_text(${chars(9, "  Hello", 10, 10, "WORLD  ", 13, 10)})" -> "hello world",
    s"normalize_text(${chars(1, "A  B", 31)})" -> "a b",
    s"normalize_text(${chars("a", 11, 12, "b")})" -> "a b",
    s"normalize_text(${chars("a", 1, "b")})" -> "a\u0001b",
    "normalize_text('  ÄÖÜ  Straße ')" -> "äöü straße",
    "normalize_text('ΣΊΣΥΦΟΣ')" -> "σίσυφος",
    s"normalize_text(${chars(160, "A", 160)})" -> " a ",
    "token_count(NULL)" -> 0,
    "token_count('')" -> 0,
    "token_count('   ')" -> 0,
    s"token_count(${chars(9, "a b", 10)})" -> 2,
    "token_count('a  b   c')" -> 3,
    "token_count('héllo wörld ñ')" -> 3,
    s"token_count(${chars("a", 1, "b")})" -> 1,
    s"token_count(${chars("a", 160, "b")})" -> 1,
    s"token_count(${chars("a", 11, "b")})" -> 2,
    "jaccard_tokens(NULL, 'a')" -> null,
    "jaccard_tokens('a', NULL)" -> null,
    "jaccard_tokens('', '')" -> null,
    s"jaccard_tokens('  ', ${chars(9, 10)})" -> null,
    "jaccard_tokens('', 'a')" -> 0.0,
    "jaccard_tokens('a b', 'c')" -> 0.0,
    "jaccard_tokens('a b c', 'b c d')" -> 0.5,
    s"jaccard_tokens(' a  a b ', ${chars("b", 9, "a", 10)})" -> 1.0,
    "jaccard_tokens('Héllo wörld', 'héllo wörld')" -> 1.0 / 3,
    "lang_id(NULL)" -> "und",
    "lang_id('')" -> "und",
    s"lang_id(${chars(9, 10, " ")})" -> "und",
    "lang_id('zzz qqq')" -> "und",
    "lang_id('the cat and the dog')" -> "en",
    s"lang_id(${chars(9, "The", 10)})" -> "en",
    "lang_id('el perro y el gato')" -> "es",
    "lang_id('LA MAISON EST belle')" -> "fr",
    "lang_id('der Hund und die Katze')" -> "de",
    "lang_id('über die Brücke')" -> "de",
    "lang_id('ÉL Y ELLA')" -> "es",
    "lang_id('la')" -> "es", // es/fr tie: the alphabetically first code
    "lang_id('the der')" -> "de",
    "lang_id('le la')" -> "fr")

  /** Evaluates every pin twice on `s`: constant-folded (the interpreted
    * eval) and with folding off (the generated code). */
  private def checkSqlNamePins(s: org.apache.spark.sql.SparkSession): Unit = {
    val select = sqlNamePins.zipWithIndex
      .map { case ((call, _), i) => s"$call AS p$i" }.mkString("SELECT ", ", ", "")
    val excluded = "spark.sql.optimizer.excludedRules"
    val prev = s.conf.getOption(excluded)
    val rows = Seq(None, Some(
      "org.apache.spark.sql.catalyst.optimizer.ConstantFolding")).map { rule =>
      rule.foreach(s.conf.set(excluded, _))
      try {
        val df = s.sql(select)
        assert(rule.isEmpty || df.queryExecution.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
        df.head()
      } finally prev.fold(s.conf.unset(excluded))(s.conf.set(excluded, _))
    }
    for (row <- rows; ((call, want), i) <- sqlNamePins.zipWithIndex) {
      val got = row.get(i)
      assert(got == want, s"$call = $got, pinned $want")
      if (want != null) assert(got.getClass == want.getClass,
        s"$call returned a ${got.getClass}, pinned a ${want.getClass}")
    }
  }

  test("SQL convenience names: each pinned on its edge cases (K)") {
    checkSqlNamePins(spark)
    // ARRAY<DOUBLE> input
    val (a, b) = (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1))
    val r = spark.sql(s"""SELECT cosine_sim(${doubles(a: _*)}, ${doubles(b: _*)}),
      cosine_sim_native(${doubles(a: _*)}, ${doubles(b: _*)})""").head()
    // read as doubles, as cosine_sim_native does; the Scala UDF this name
    // once was narrowed them to float
    val narrowed = cosine(a.map(_.toFloat.toDouble), b.map(_.toFloat.toDouble))
    assert(r.getDouble(0) == r.getDouble(1), s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    assert(r.getDouble(1) == cosine(a, b))
    assert(r.getDouble(0) != narrowed)
  }

  test("SQL convenience names: a session built only by GraftExtensions answers them (K)") {
    checkSqlNamePins(org.apache.spark.sql.graftbridge.ExtensionsProbe.session(
      spark, new graft.functions.GraftExtensions))
  }

  test("registered cosine_sim agrees with the HOF cosine on embeddings (K)") {
    table("embeddings").limit(50).createOrReplaceTempView("emb_cov")
    val rows = spark.sql("""
      SELECT ABS(
        cosine_sim(embedding, embedding) - 1.0) AS err
      FROM emb_cov""").collect()
    assert(rows.forall(_.getAs[Double]("err") < 1e-9))
  }

  test("join_stream_static: enrichment against a static dim (C)") {
    val in = MemoryStream[(Timestamp, Int)]
    val dim = Seq((0, "AFRICA-ish"), (1, "AMERICA-ish"))
      .toDF("r_key", "r_label")
    val name = "cov_ss_sink"
    val cp = Files.createTempDirectory("graft-cp").toString
    val joined = StreamOps.enrich(
      in.toDF.toDF("ts", "r_key"), dim, Seq("r_key"))
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 0), (ts("2024-01-01 10:00:01"), 1),
        (ts("2024-01-01 10:00:02"), 7)) // 7 has no dim row → dropped (inner)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).select("r_key", "r_label")
      .as[(Int, String)].collect().toSet
    assert(out == Set((0, "AFRICA-ish"), (1, "AMERICA-ish")))
  }

  test("join_stream_stream: watermarked time-range join (C)") {
    val clicks = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String)]
    val name = "cov_s2s_sink"
    val cp = Files.createTempDirectory("graft-cp").toString
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF.toDF("cts", "user"), buys.toDF.toDF("bts", "user"),
      "user", "cts", "bts", "10 seconds", "5 minutes")
    val q = joined.select(col("cts"), col("bts"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), "u1"),
        (ts("2024-01-01 10:00:00"), "u2"))
      buys.addData(
        (ts("2024-01-01 10:02:00"), "u1"),  // within 5 min of u1 click → match
        (ts("2024-01-01 10:30:00"), "u2"))  // outside the bound → no match
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).collect()
    assert(out.length == 1, s"expected exactly the in-range pair, got ${out.toSeq}")
  }

  test("foreachBatch sink: per-batch side effects observe every batch (A)") {
    val in = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-cp").toString
    val seen = ArrayBuffer.empty[(Long, Set[String])]
    val q = StreamOps.foreachBatchSink(in.toDF.toDF("w"), cp) { (df, id) =>
      seen.synchronized { seen += ((id, df.as[String].collect().toSet)) }
    }.start()
    try {
      in.addData("a", "b"); q.processAllAvailable()
      in.addData("c"); q.processAllAvailable()
    } finally q.stop()
    val all = seen.flatMap(_._2).toSet
    assert(all == Set("a", "b", "c"), s"foreachBatch missed rows: $seen")
    assert(seen.map(_._1).distinct.size >= 2, "expected at least two batches")
  }

  test("console sink writer builds and starts (A)") {
    val in = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = StreamOps.consoleSink(in.toDF.toDF("w"), cp).start()
    try { in.addData("x"); q.processAllAvailable() } finally q.stop()
  }
}
