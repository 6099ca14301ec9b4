package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming transform library (SURVEY.md §2.3 I). Every operator is a
  * plan-to-plan function usable on BOTH a streaming and a batch DataFrame —
  * the batch twin IS the same code path (SURVEY.md §7.0 "every streaming op
  * gets a batch twin"), which is what makes these oracle-checkable.
  *
  * Reference grounding: the implied word-count topology between the
  * producer's `input-words` topic (go/producer/producer.go:16) and the
  * consumer's `word-count-output` (go/consumer/consumer.go:13) — tokenize →
  * windowed group-count → serialize (SURVEY.md §2.2).
  *
  * Scale notes: windowed aggregations keep per-(window,key) state in the
  * executor StateStore, partitioned by the group key — state size is
  * bounded by (windows in watermark horizon) × key cardinality, not by
  * throughput. Watermarks bound state GC; without one, state grows
  * unboundedly and a 100 TB/day stream eventually OOMs — so every
  * windowed helper here takes a mandatory watermark.
  */
object StreamOps {

  /** R2.2 tokenize: (ts, text) → one row per word, event time preserved. */
  def tokenize(lines: DataFrame, textCol: String, tsCol: String): DataFrame =
    lines.select(col(tsCol).as("ts"),
      explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)

  /** The flagship §2.2 job: tokenize → watermark → tumbling window →
    * count. Append/update-mode-safe (watermarked). */
  def windowedWordCount(lines: DataFrame, textCol: String, tsCol: String,
                        windowDur: String, watermark: String): DataFrame =
    tokenize(lines, textCol, tsCol)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("word"))
      .count()

  /** Complete-mode global word count (no window — reference semantics if
    * the job kept all-time counts). */
  def globalWordCount(lines: DataFrame, textCol: String): DataFrame =
    lines.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count()

  /** s_tumbling: fixed windows keyed by an extra column. */
  def tumblingCounts(df: DataFrame, tsCol: String, keyCol: String,
                     dur: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), dur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** s_sliding: overlapping windows (dur, slide). */
  def slidingCounts(df: DataFrame, tsCol: String, keyCol: String,
                    dur: String, slide: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), dur, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** s_session: gap-based session windows per key. */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** s_dedup_stream: exactly-once-per-id within the watermark horizon —
    * state holds one entry per id and is GC'd past the watermark. */
  def dedupWithinWatermark(df: DataFrame, idCol: String, tsCol: String,
                           watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** R3 serialize step: pack all columns as a JSON kafka value. */
  def toKafkaJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** R2 producer analog: deterministic "random" 1–5 word sentences from a
    * 16-word vocabulary, derived from a rate-source row (seeded by the
    * row's value, so tests are reproducible — the reference's generator is
    * wall-clock random, go/producer/producer.go:127-138). */
  val vocabulary: Seq[String] = Seq(
    "hello", "world", "flink", "kafka", "streaming", "processing", "data",
    "pipeline", "real-time", "distributed", "scalable", "fault-tolerant",
    "checkpoint", "recovery", "state", "window")

  def sentenceColumn(seed: Column): Column = {
    val vocab = typedlit(vocabulary)
    val nWords = pmod(xxhash64(seed), lit(5)) + 1
    concat_ws(" ", transform(
      sequence(lit(1), nWords),
      i => element_at(vocab,
        (pmod(xxhash64(seed, i), lit(vocabulary.size)) + 1).cast("int"))))
  }

  /** R1+R2: rate-source sentence generator stream (producer analog). */
  def generatorStream(spark: org.apache.spark.sql.SparkSession,
                      rowsPerBatch: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .load()
      .select(col("timestamp").as("ts"),
        sentenceColumn(col("value")).as("sentence"))

  /** The writer of every engine stream that keeps a checkpoint: its
    * checkpoint lives at `checkpointDir` and goes through [[CheckpointFiles]],
    * which this installs on the session unless the session already names a
    * checkpoint file manager. */
  def checkpointed[T](ds: Dataset[T], checkpointDir: String): DataStreamWriter[T] = {
    val conf = ds.sparkSession.conf
    if (conf.getOption(CheckpointFiles.confKey).isEmpty)
      conf.set(CheckpointFiles.confKey, classOf[CheckpointFiles].getName)
    ds.writeStream.option("checkpointLocation", checkpointDir)
  }

  /** R5 console sink (the consumer's per-record log,
    * go/consumer/consumer.go:79-81). */
  def consoleSink(df: DataFrame, checkpointDir: String): DataStreamWriter[Row] =
    checkpointed(df, checkpointDir).format("console")

  /** R5 foreachBatch sink: arbitrary per-micro-batch side effects (the
    * general form of processMessage — batch df + batch id). */
  def foreachBatchSink(df: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    checkpointed(df, checkpointDir).foreachBatch(f)

  /** Stream-static enrichment join (§2.3 C join_stream_static): the
    * static side is re-read per micro-batch and broadcast when small —
    * no state, no watermark needed. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(dim, keys)

  /** Stream-stream inner join within a time bound (§2.3 C
    * join_stream_stream): both sides watermarked; the range condition
    * bounds join state to the watermark horizon on each side. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
  }
}
