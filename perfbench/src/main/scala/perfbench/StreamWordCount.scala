package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.streaming.{KafkaPipelines, StreamOps}

/** The reference's own pipeline: Kafka-shaped `input-words` frames →
  * `KafkaPipelines.decode` → `StreamOps.windowedWordCount` (the
  * `wordCountPipeline` window and watermark, update mode) →
  * `toKafkaJson`/`encode` → a `foreachBatch` sink standing in for
  * `word-count-output`, on a fixed processing-time trigger.
  *
  * Open loop: one generator thread feeds a `MemoryStream` with a chunk of
  * [[eventsPerChunk]] seeded reference sentences every [[chunkMs]] ms, each
  * event stamped with the time its chunk was due, so a generator that runs
  * late charges the delay to latency. An event's latency is the time its
  * micro-batch's sink write finished minus that stamp; the micro-batch
  * holding an event is found from the `MemoryStream` offsets in the
  * query's progress reports. After the drain, every (window, word) count
  * the sink saw last must equal the benchmark's own recount. */
object StreamWordCount {
  val chunkMs = 100
  val eventsPerChunk = 2000
  /** A trigger costs 450-650 ms here whether it holds 1,000 or 10,000
    * events; at 500 ms triggers ran back to back and every slowdown fed a
    * growing batch. 1 s keeps the job below saturation. */
  val triggerMs = 1000
  // KafkaPipelines.wordCountPipeline's defaults
  val windowDur = "1 minute"
  val watermark = "10 seconds"
  val windowMs: Long = 60000L
  /** Data micro-batches the sink must have finished before timing starts. */
  val warmupBatches = 5

  type Frame = (Array[Byte], Array[Byte], Timestamp)

  /** One generator chunk: its MemoryStream offset, creation stamp, and a
    * bitmask of vocabulary words per event, plus per-word occurrences. */
  final class Chunk(val offset: Long, val stampUs: Long, val lateUs: Long, val timed: Boolean,
                    val masks: Array[Int], val occurrences: Array[Int]) {
    def stampMs: Long = stampUs / 1000
    def window: Long = Math.floorDiv(stampMs, windowMs) * windowMs
  }

  /** Reference sentences of 1–5 vocabulary words, deterministic per seed:
    * returns the sentence and the vocabulary index of each word. */
  def sentence(rng: scala.util.Random): (String, Array[Int]) = {
    val idx = Array.fill(1 + rng.nextInt(5))(rng.nextInt(StreamOps.vocabulary.size))
    (idx.map(StreamOps.vocabulary).mkString(" "), idx)
  }

  /** The micro-batch holding each MemoryStream offset: batch b covers the
    * offsets in (start, end] of its progress report (start absent on the
    * first batch). */
  def batchOfOffset(progress: Seq[(Long, Option[Long], Long)]): Long => Option[Long] = {
    val ranges = progress.filter { case (_, s, e) => e > s.getOrElse(-1L) }
      .map { case (b, s, e) => (s.getOrElse(-1L), e, b) }.sortBy(_._1).toIndexedSeq
    (o: Long) => ranges.find { case (s, e, _) => o > s && o <= e }.map(_._3)
  }

  private def parseOffset(s: String): Option[Long] =
    Option(s).map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .filterNot(_ == "null").map(_.toLong)

  private def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  def run(ctx: RunContext): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val input = MemoryStream[Frame](implicitly[org.apache.spark.sql.Encoder[Frame]], spark.sqlContext)
    val frames = input.toDF().toDF("key", "value", "timestamp")
    val counts = StreamOps.windowedWordCount(
      KafkaPipelines.decode(frames), "value", "ts", windowDur, watermark)
    val out = KafkaPipelines.encode(StreamOps.toKafkaJson(counts), "value")

    // sink state, written by the stream thread
    val sinkEndUs = new ConcurrentHashMap[Long, java.lang.Long]
    val sinkMs = new ConcurrentHashMap[Long, java.lang.Double]
    val latest = new ConcurrentHashMap[(Long, String), java.lang.Long]
    @volatile var dataBatches = 0
    val tracer = ctx.tracer
    val streamSpan = tracer.map(_.begin("stream", -1)).getOrElse(-1)

    val sink: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val t0 = System.nanoTime()
      val startMs = tracer.map(_.nowMs).getOrElse(0.0)
      val rows = batch.collect()
      rows.foreach { r =>
        val node = Result.mapper.readTree(new String(r.getAs[Array[Byte]]("value"), UTF_8))
        val w = isoMs(node.get("window").get("start").asText())
        latest.put((w, node.get("word").asText()), node.get("count").asLong())
      }
      sinkMs.put(batchId, (System.nanoTime() - t0) / 1e6)
      sinkEndUs.put(batchId, Main.nowMicros())
      tracer.foreach(t => t.record(s"sink:$batchId", streamSpan, startMs, t.nowMs))
      if (rows.nonEmpty) dataBatches += 1
    }

    val listener = tracer.map { t =>
      val l = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
          val startMs = (isoMs(p.timestamp) * 1000L - ctx.launchMicros) / 1000.0
          t.record(s"trigger:${p.batchId}", streamSpan, startMs, startMs + d)
        }
      }
      spark.streams.addListener(l)
      l
    }

    val query = StreamOps.foreachBatchSink(out, new File(ctx.runDir, "checkpoint").getPath)(sink)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(triggerMs.toLong))
      .start()

    // open-loop generator: chunk k is due at t0 + k * chunkMs, with t0 half
    // a chunk past an epoch multiple of chunkMs. Processing-time triggers
    // fire on epoch multiples of triggerMs, so every run sees the same
    // phase between chunk creation and trigger start.
    val chunks = new java.util.concurrent.ConcurrentLinkedQueue[Chunk]
    @volatile var phase = 0 // 0 warm-up, 1 timed, 2 stop
    @volatile var firstTimedUs = 0L
    val rng = new scala.util.Random(ctx.seed)
    val generator = new Thread(() => {
      val chunkUs = chunkMs * 1000L
      val t0 = (Main.nowMicros() / chunkUs + 1) * chunkUs + chunkUs / 2
      var k = 0L
      while (phase != 2) {
        val wait = t0 + k * chunkUs - Main.nowMicros()
        if (wait > 0) Thread.sleep(wait / 1000L, (wait % 1000L).toInt * 1000)
        if (phase != 2) {
          val timed = phase == 1
          val stamp = t0 + k * chunkUs
          val late = math.max(0L, Main.nowMicros() - stamp)
          if (timed && firstTimedUs == 0L) firstTimedUs = stamp
          val key = s"key-${stamp / 1000000}".getBytes(UTF_8)
          val ts = new Timestamp(stamp / 1000)
          ts.setNanos((stamp % 1000000).toInt * 1000)
          val masks = new Array[Int](eventsPerChunk)
          val occ = new Array[Int](StreamOps.vocabulary.size)
          val batch = (0 until eventsPerChunk).map { i =>
            val (s, idx) = sentence(rng)
            idx.foreach { w => masks(i) |= 1 << w; occ(w) += 1 }
            (key, s.getBytes(UTF_8), ts): Frame
          }
          val off = input.addData(batch).json().toLong
          chunks.add(new Chunk(off, stamp, late, timed, masks, occ))
          k += 1
        }
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    try {
      while (dataBatches < warmupBatches && query.isActive) Thread.sleep(20)
      require(query.isActive, s"stream stopped during warm-up: ${query.exception}")
      phase = 1
      while (firstTimedUs == 0L) Thread.sleep(1)
      val setupS = (firstTimedUs - ctx.launchMicros) / 1e6
      Thread.sleep(ctx.seconds * 1000L)
      phase = 2
      generator.join()
      query.processAllAvailable()
      Heap.settle()

      val progress = query.recentProgress.toSeq
      val all = chunks.asScala.toSeq.sortBy(_.offset)
      val timed = all.filter(_.timed)
      val batchOf = batchOfOffset(progress.map { p =>
        val s = p.sources.head
        (p.batchId, parseOffset(s.startOffset), parseOffset(s.endOffset).getOrElse(-1L))
      })

      // correctness: the last count the sink saw per (window, word)
      val expected = mutable.HashMap.empty[(Long, String), Long]
      all.foreach { c =>
        c.occurrences.indices.filter(c.occurrences(_) > 0).foreach { w =>
          val k = (c.window, StreamOps.vocabulary(w))
          expected(k) = expected.getOrElse(k, 0L) + c.occurrences(w)
        }
      }
      val bad = expected.keySet.filter(k => Option(latest.get(k)).map(_.longValue) != expected.get(k)) ++
        latest.keySet.asScala.filterNot(expected.contains)
      def delivered(c: Chunk) = batchOf(c.offset).exists(sinkEndUs.containsKey)
      val failedEvents = all.map { c =>
        if (!delivered(c)) c.masks.length
        else {
          val badMask = StreamOps.vocabulary.indices
            .filter(w => bad.contains((c.window, StreamOps.vocabulary(w))))
            .foldLeft(0)((m, w) => m | (1 << w))
          c.masks.count(m => (m & badMask) != 0)
        }
      }.sum
      if (bad.nonEmpty) System.err.println(s"[perfbench] ${bad.size} (window, word) counts differ from the recount")

      // end-to-end: per-event latency over the timed chunks
      val latencies = new mutable.ArrayBuffer[Double](timed.size * eventsPerChunk)
      timed.foreach { c =>
        batchOf(c.offset).flatMap(b => Option(sinkEndUs.get(b))).foreach { end =>
          val l = (end.longValue - c.stampUs) / 1000.0
          var i = 0
          while (i < c.masks.length) { latencies += l; i += 1 }
        }
      }
      // delivered rate: the timed events over the span from the first one's
      // due time to the sink write that delivered the last of them
      val lastEndUs = timed.flatMap(c => batchOf(c.offset)).flatMap(b => Option(sinkEndUs.get(b)))
        .map(_.longValue).maxOption
      val spanS = lastEndUs.map(e => (e - timed.head.stampUs) / 1e6).getOrElse(Double.NaN)
      val tail = Stats.tailPercentile(latencies.size, 90)
      val e2e = Result.metrics(
        "setup_s" -> Metric(setupS, "s"),
        "throughput" -> Metric(latencies.size / spanS, "1/s"),
        "latency_p50_ms" -> Metric(Stats.median(latencies.toSeq), "ms"),
        "latency_tail_ms" -> Metric(Stats.percentile(latencies.toSeq, tail), "ms"),
        "heap_peak_mb" -> Metric(Heap.peakMb, "MB"))

      val metrics =
        if (tracer.isEmpty) e2e
        else {
          val timedBatches = timed.flatMap(c => batchOf(c.offset)).toSet
          Layers.registryAbsent ++ Layers.streaming(ctx, progress.filter(p => timedBatches(p.batchId)),
            timed, sinkMs.asScala.map { case (b, ms) => b -> ms.doubleValue }.toMap,
            batchOf, Stats.percentile(latencies.toSeq, 99), latencies.size) ++
            Layers.tracedEndToEnd(e2e)
        }
      val attempted = all.map(_.masks.length.toLong).sum
      Result(failedEvents == 0, attempted, failedEvents, metrics)
    } finally {
      phase = 2
      generator.join()
      query.stop()
      listener.foreach(spark.streams.removeListener)
      tracer.foreach(_.end(streamSpan))
    }
  }
}
