package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.sql.Row

/** Kafka edge wiring (reference operators R3/R4: producer writes
  * `input-words`, consumer reads `word-count-output` in group
  * `word-count-consumer-group` — go/producer/producer.go:16,
  * go/consumer/consumer.go:13,92).
  *
  * Config mirrors the reference's file→defaults→env layering (R6,
  * go/producer/config.go:18-30): callers resolve a [[KafkaConfig]] however
  * they like; these builders only translate it to DataStream options.
  * Offsets are Spark-checkpoint-managed, not Kafka-group-managed — the
  * consumer group id is advisory metadata for monitoring
  * (SURVEY.md §2.1 R4 note).
  *
  * The transforms ([[decode]], [[encode]], [[wordCountFrames]]) are plain
  * DataFrame functions, testable batch-side without a broker — the
  * reference's own fallback discipline when infra is absent
  * (go/producer/producer_test.go:86-126).
  * The readStream/writeStream builders require the spark-sql-kafka
  * connector on the cluster classpath at runtime.
  */
object KafkaPipelines {

  case class KafkaConfig(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      fetchMinBytes: Long = 10_000L,     // reference MinBytes, consumer.go:103
      fetchMaxBytes: Long = 10_000_000L, // reference MaxBytes, consumer.go:104
      minPartitions: Option[Int] = None,
      // R10 fallback (go/producer/producer_test.go:86-126): when the group
      // coordinator is unavailable, read the given partitions directly —
      // Spark's `assign` mode needs no coordinator at all. None = subscribe.
      assignPartitions: Option[Seq[Int]] = None)

  /** Source option map for [[KafkaConfig]] — split out so the subscribe vs
    * direct-partition-assign wiring is unit-testable without a broker or
    * the kafka connector jar (the reference's own fallback discipline when
    * infra is absent). */
  def sourceOptions(cfg: KafkaConfig): Map[String, String] = {
    val mode = cfg.assignPartitions match {
      case Some(ps) =>
        "assign" -> s"""{"${cfg.topic}":[${ps.mkString(",")}]}"""
      case None => "subscribe" -> cfg.topic
    }
    Map(
      "kafka.bootstrap.servers" -> cfg.bootstrapServers,
      "startingOffsets" -> cfg.startingOffsets,
      "kafka.fetch.min.bytes" -> cfg.fetchMinBytes.toString,
      "kafka.fetch.max.bytes" -> cfg.fetchMaxBytes.toString) ++
      cfg.minPartitions.map(n => "minPartitions" -> n.toString) + mode
  }

  /** R4: Kafka streaming source (raw `key/value: binary` frame); R10
    * direct-partition read when `assignPartitions` is set. */
  def source(spark: SparkSession, cfg: KafkaConfig): DataFrame =
    spark.readStream.format("kafka").options(sourceOptions(cfg)).load()

  /** The canonical first projection of every Kafka job: bytes → strings. */
  def decode(raw: DataFrame): DataFrame =
    raw.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("timestamp").as("ts"))

  /** R3 key scheme: `key-<unixSeconds>` (go/producer/producer.go:119) of
    * the query's clock, `current_timestamp()`: one key for every row of a
    * batch query, and of a micro-batch in a stream. See [[SecondsKey]]. */
  def encode(df: DataFrame, valueCol: String): DataFrame =
    df.select(
      PlanBridge.column(SecondsKey(CurrentTimestamp())).as("key"),
      col(valueCol).cast("binary").as("value"))

  /** R3: Kafka sink writer (start() requires a live broker + connector). */
  def sink(df: DataFrame, cfg: KafkaConfig,
           checkpointDir: String): DataStreamWriter[Row] =
    StreamOps.checkpointed(df, checkpointDir).format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.topic)

  /** §2.2 transform: raw Kafka frames → decode → windowed word count →
    * JSON value → `key-<unixSeconds>` key; the whole job between the two
    * topics, on a stream or a static frame. */
  def wordCountFrames(raw: DataFrame, windowDur: String, watermark: String): DataFrame =
    encode(StreamOps.toKafkaJson(StreamOps.windowedWordCount(
      decode(raw), "value", "ts", windowDur, watermark)), "value")

  /** §2.2 end-to-end: Kafka[in] → [[wordCountFrames]] → Kafka[out]. */
  def wordCountPipeline(spark: SparkSession, in: KafkaConfig, out: KafkaConfig,
                        checkpointDir: String, windowDur: String = "1 minute",
                        watermark: String = "10 seconds"): DataStreamWriter[Row] =
    sink(wordCountFrames(source(spark, in), windowDur, watermark), out, checkpointDir)
      .outputMode("update")
}

/** `key-<floorDiv(µs, 10⁶)>` of a timestamp, as bytes: the value of
  * `concat(lit("key-"), unix_timestamp()).cast("binary")` over `child`.
  *
  * In a stream, Spark swaps `current_timestamp()` for the batch's
  * `CurrentBatchTimestamp`, whose generated code is the batch time as a
  * Java literal, so any stage that compiles it has new source text, and a
  * fresh Janino compile, in every micro-batch. This expression is evaluated
  * from the plan object instead (CodegenFallback, which also initializes
  * the nondeterministic child), so the output stage compiles once per
  * query; on a static frame the child is a literal and the key folds to a
  * constant. See SCALE.md "One compiled output stage per stream". */
case class SecondsKey(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType

  override protected def nullSafeEval(micros: Any): Any =
    s"key-${Math.floorDiv(micros.asInstanceOf[Long], 1000000L)}".getBytes(UTF_8)

  override protected def withNewChildInternal(newChild: Expression): SecondsKey = copy(child = newChild)
}
