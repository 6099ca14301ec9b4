package graft

import java.nio.file.Files

import graft.functions.CosineLsh
import graft.sources.TableAdmin
import graft.streaming.{EngineConfig, GracefulShutdown, KafkaPipelines}
import org.apache.spark.sql.functions._

/** R6 config layering, R7 graceful shutdown, R8 table admin, R10 assign
  * fallback, and embedding-cosine near-dup pairs. */
class ReferenceOpsSpec extends SparkSpec {
  import spark.implicits._

  test("R10: assign fallback reads partitions without a group coordinator") {
    val cfg = KafkaPipelines.KafkaConfig("broker:9092", "input-words",
      assignPartitions = Some(Seq(0)))
    val opts = KafkaPipelines.sourceOptions(cfg)
    // reference fallback reads partition 0 from offset 0
    assert(opts("assign") == """{"input-words":[0]}""")
    assert(!opts.contains("subscribe"), "assign and subscribe are exclusive")
    assert(opts("startingOffsets") == "earliest")
    val multi = KafkaPipelines.sourceOptions(
      cfg.copy(assignPartitions = Some(Seq(0, 2, 5))))
    assert(multi("assign") == """{"input-words":[0,2,5]}""")
    val subs = KafkaPipelines.sourceOptions(cfg.copy(assignPartitions = None))
    assert(subs("subscribe") == "input-words" && !subs.contains("assign"))
  }

  test("OptimizeWrite.sized targets output file count from plan stats") {
    val li = table("lineitem")
    // huge target → everything fits one file; tiny target → many files
    assert(graft.sources.OptimizeWrite.sized(li, 10L << 30)
      .rdd.getNumPartitions == 1)
    val est = li.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = graft.sources.OptimizeWrite
      .sized(li, (est / 4).max(1).toLong)
    assert(small.rdd.getNumPartitions >= 2)
    // the written layout matches the re-shaped partitioning
    val dir = Files.createTempDirectory("graft-ow").toString
    graft.sources.OptimizeWrite.sized(li, 10L << 30)
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 data file, found $files")
  }

  test("R8: table admin provisions idempotently, drop keeps the data") {
    val name = "graft_admin_region"
    val loc = s"$sf/region.parquet"
    TableAdmin.dropTable(spark, name) // clean slate
    TableAdmin.ensureParquetTable(spark, name, loc)
    TableAdmin.ensureParquetTable(spark, name, loc) // idempotent re-create
    assert(TableAdmin.tableExists(spark, name))
    assert(spark.table(name).count() == 5)
    TableAdmin.dropTable(spark, name)
    TableAdmin.dropTable(spark, name) // idempotent re-drop
    assert(!TableAdmin.tableExists(spark, name))
    // external table: dropping removed metadata only
    assert(spark.read.parquet(loc).count() == 5)
  }

  test("R6: env > file > defaults, unknown keys from file preserved") {
    val f = Files.createTempFile("graft-cfg", ".properties")
    Files.writeString(f,
      """# test config
        |kafka.input.topic=file-topic
        |custom.key=from-file
        |generator.interval.ms=500
        |""".stripMargin)
    val cfg = EngineConfig.load(Some(f), env = Map(
      "GRAFT_KAFKA_INPUT_TOPIC" -> "env-topic",
      "GRAFT_WINDOW_DURATION" -> "5 minutes"))
    assert(cfg.get("kafka.input.topic").contains("env-topic"), "env must win")
    assert(cfg.get("custom.key").contains("from-file"))
    assert(cfg.get("generator.interval.ms").contains("500"), "file beats default")
    assert(cfg.get("window.duration").contains("5 minutes"), "env beats default")
    assert(cfg.get("watermark.delay").contains("10 seconds"), "default fallback")
    assert(cfg.getInt("kafka.fetch.min.bytes").contains(10000))
  }

  test("R6: defaults-only when no file exists (reference runs bare)") {
    val cfg = EngineConfig.load(
      Some(java.nio.file.Paths.get("/nonexistent/graft.properties")),
      env = Map.empty)
    assert(cfg.values == EngineConfig.defaults)
  }

  test("R7: shutdown hook installs once; bounded awaitAny returns") {
    GracefulShutdown.install(spark)
    GracefulShutdown.install(spark) // idempotent
    // no active queries → bounded wait returns false quickly
    val t0 = System.currentTimeMillis()
    val terminated = GracefulShutdown.awaitAny(spark, timeoutMs = 300)
    assert(!terminated)
    assert(System.currentTimeMillis() - t0 < 5000)
    spark.streams.resetTerminated()
  }

  test("embedding-cosine near-dup: planted duplicate found, no all-pairs") {
    val e = table("embeddings").select("vec_id", "embedding")
    val clone = e.filter(col("vec_id") === 11)
      .select(lit(9011L).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(clone)
    val pairs = CosineLsh.nearDuplicatePairs(
      corpus, "vec_id", "embedding", threshold = 0.95)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "near-dup search degenerated to all-pairs")
    val found = pairs.collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(found.contains((11L, 9011L)),
      s"planted identical vector not found among $found")
    // random gaussian vectors are near-orthogonal: no false 0.95-dups
    assert(found.size == 1, s"unexpected high-cosine pairs: $found")
  }
}
