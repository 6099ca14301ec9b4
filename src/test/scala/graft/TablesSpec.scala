package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

/** Tables.load's events-timestamp adaptation: the fixture's parquet
  * physical type changed once already between rounds (TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS) NTZ) and darkened a third of the registry. This spec
  * pins all three loader branches against synthetic events tables, so a
  * future regeneration to ANY of the shapes is caught by a unit test
  * instead of a driver-gate blackout. The session schema catalog behind
  * the loader is pinned too: no inference job on a repeated load, the
  * same schema and rows as a fresh read, and a new schema after a table
  * is rewritten in place.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one real µs instant: 2024-03-05 12:30:45.123456 UTC
  private val micros = 1709641845123456L

  private def loadEvents(dir: String) = Tables.load(spark, dir, "events")

  private def writeAndLoad(write: String => Unit) = {
    val dir = Files.createTempDirectory("graft-tables").toString
    write(dir)
    loadEvents(dir)
  }

  test("legacy ns-long fixture: BIGINT epoch-nanos arrives as µs timestamp") {
    // what nanosAsLong=true yields on a TIMESTAMP(NANOS) parquet: a plain
    // long column of epoch-nanos (here written directly as BIGINT, which
    // exercises the same loader branch)
    val df = writeAndLoad { dir =>
      Seq((1L, micros * 1000L + 789L)) // sub-µs nanos must truncate away
        .toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == micros, s"expected $micros, got $got")
  }

  test("current µs-NTZ fixture shape loads as TimestampType, value-exact") {
    // Spark writes TIMESTAMP_NTZ parquet for a TimestampNTZType column —
    // byte-identical physical type to the regenerated fixtures
    val df = writeAndLoad { dir =>
      Seq(Tuple1(1L)).toDF("event_id")
        .withColumn("ts", timestamp_micros(lit(micros)).cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  test("UTC-adjusted µs fixture passes through unchanged") {
    val df = writeAndLoad { dir =>
      Seq(Tuple1(1L)).toDF("event_id")
        .withColumn("ts", timestamp_micros(lit(micros)))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  test("real fixture loads events.ts as TimestampType (whatever its parquet type)") {
    val df = Tables.load(spark, sf, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.filter(col("ts").isNotNull).count() > 0)
  }

  test("non-events tables are untouched by the ts adaptation") {
    // orders carries a timestamp column too; the loader must not rewrite it
    val viaLoad = Tables.load(spark, sf, "orders")
    val direct = spark.read.parquet(s"$sf/orders.parquet")
    assert(viaLoad.schema == direct.schema)
    assert(viaLoad.count() == direct.count())
  }

  test("ts adaptation survives a LongType column that is NOT nanos-scaled name clash") {
    // a table named anything but events keeps a plain BIGINT ts column
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, 42L)).toDF("id", "ts")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.load(spark, dir, "documents")
    assert(df.schema("ts").dataType == LongType)
    assert(df.head().getLong(1) == 42L)
  }

  /** Jobs `body` submits, counted by a SparkListener. A marker job in its
    * own group closes the window: the listener bus delivers events in
    * order, so once the marker's start arrives every job `body` submitted
    * has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => marked.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TablesSpec load")
      body
      sc.setJobGroup(s"$group-marker", "TablesSpec marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("schema catalog: a repeated load of an unchanged table submits no job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val first = jobsDuring(Tables.load(spark, dir, "region"))
    assert(first >= 1, "the first load infers the schema with a job")
    val second = jobsDuring(Tables.load(spark, dir, "region"))
    assert(second == 0, s"second load ran $second job(s)")
  }

  test("schema catalog: pinned loads match a fresh read on every fixture table") {
    Tables.names.foreach { n =>
      Tables.load(spark, sf, n) // make sure the catalog holds the entry
      val pinned = Tables.load(spark, sf, n)
      val fresh = Tables.adapt(n, spark.read.parquet(s"$sf/$n.parquet"))
      assert(pinned.schema == fresh.schema, s"$n schema")
      assert(pinned.count() == fresh.count(), s"$n count")
    }
  }

  test("schema catalog: a single-file table rewritten in place is inferred again") {
    // fixture tables are single parquet files, so the manifest must stamp
    // the file itself: copy one Spark-written part file to events.parquet
    val dir = Files.createTempDirectory("graft-tables").toString
    val target = Paths.get(s"$dir/events.parquet")
    def writeSingleFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = s"$dir/staging"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingleFile(Seq((1L, "not a timestamp")).toDF("event_id", "ts"))
    assert(loadEvents(dir).schema("ts").dataType == StringType)
    writeSingleFile(Seq((1L, micros * 1000L)).toDF("event_id", "ts"))
    val df = loadEvents(dir)
    assert(df.schema("ts").dataType == TimestampType,
      "the rewritten file's BIGINT ts must take the ns-long branch")
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  test("schema catalog: a changed parquet session setting is inferred again") {
    // the fixture's events.ts is TIMESTAMP(MICROS) without UTC adjustment:
    // NTZ by default, TimestampType once NTZ inference is switched off. A
    // copy under another name keeps the events adaptation out of the way.
    val dir = Files.createTempDirectory("graft-tables").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/ev.parquet"))
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(Tables.load(spark, dir, "ev").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    spark.conf.set(key, "false")
    try assert(Tables.load(spark, dir, "ev").schema("ts").dataType == TimestampType)
    finally spark.conf.unset(key)
  }
}
