package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, each layer named after the repo
  * module whose public functions it is timed around:
  *
  *   - `operators`: `SparkEntry.queries(name)(spark, dir)` — the
  *     `graft.operators` builders with their `Tables.load` schema reads and
  *     eager `graft.functions` materializations;
  *   - `plans`: forcing `executedPlan` of the timed action (Catalyst plus
  *     the `graft.plans` rules);
  *   - `exec`: the timed action itself;
  *   - `streaming`: each trigger of the `graft.streaming` pipeline.
  *
  * Registry metrics are totals per timed pass (so job counts repeat
  * exactly run to run); streaming metrics are per timed trigger. Every
  * traced run reports every metric: a layer its workload never runs reads
  * 0. `traced.*` repeats the end-to-end metrics as measured with tracing
  * on; their difference from an untraced run of the same seed is the
  * tracing overhead. */
object Layers {
  private def m(v: Double, unit: String) = Metric(v, unit)

  val registryNames: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "operators.schema_jobs" -> "count", "operators.materialize_jobs" -> "count",
    "operators.build_cpu_ms" -> "ms",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "plans.exchanges" -> "count",
    "plans.graft_exec_nodes" -> "count",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.cpu_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.core_busy_share" -> "share", "exec.sched_wait_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.peak_exec_mem_bytes" -> "bytes", "exec.failed_tasks" -> "count",
    "exec.result_rows" -> "count")

  val streamingNames: Seq[(String, String)] = Seq(
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p90" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.rows_per_trigger" -> "count", "streaming.jobs_per_trigger" -> "count",
    "streaming.cpu_ms_per_trigger" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes", "streaming.state_commit_ms" -> "ms",
    "streaming.sink_ms" -> "ms", "streaming.backlog_events" -> "count",
    "streaming.watermark_lag_ms" -> "ms", "streaming.event_latency_p99_ms" -> "ms",
    "streaming.generator_late_ms_max" -> "ms", "streaming.latency_samples" -> "count")

  private def absent(names: Seq[(String, String)]): Map[String, Metric] =
    Result.metrics(names.map { case (n, u) => n -> m(0.0, u) }: _*)

  def registryAbsent: Map[String, Metric] = absent(registryNames)
  def streamingAbsent: Map[String, Metric] = absent(streamingNames)

  def tracedEndToEnd(e2e: Map[String, Metric]): Map[String, Metric] =
    Result.metrics(e2e.toSeq.map { case (n, v) => s"traced.$n" -> v }: _*)

  private def ordered(names: Seq[(String, String)], values: Map[String, Double]): Map[String, Metric] = {
    require(values.keySet == names.map(_._1).toSet, s"layer metrics out of step: ${values.keySet}")
    Result.metrics(names.map { case (n, u) => n -> m(values(n), u) }: _*)
  }

  def registry(ctx: RunContext, qs: Seq[Registry.QueryLayers], passes: Int): Map[String, Metric] = {
    val ledger = ctx.ledger.get
    org.apache.spark.PerfbenchBridge.drain(ctx.spark.sparkContext)
    val byTag = Attribution.byTag(ledger.allJobs, qs.flatMap(_.windows))
    def jobsOf(layer: String) =
      byTag.toSeq.collect { case (t, js) if t.endsWith(":" + layer) => js }.flatten
    val build = jobsOf("operators")
    val exec = jobsOf("exec")
    val bt = ledger.totals(build)
    val et = ledger.totals(exec)
    val p = passes.toDouble
    def sum(f: Registry.QueryLayers => Double) = qs.map(f).sum / p
    val execMs = sum(_.execMs)
    ordered(registryNames, Map(
      "operators.build_ms" -> sum(_.buildMs),
      "operators.build_jobs" -> build.size / p,
      "operators.schema_jobs" -> build.count(_.callSite.contains("QueryModule.scala")) / p,
      "operators.materialize_jobs" -> build.count(_.callSite.contains("Materialize.scala")) / p,
      "operators.build_cpu_ms" -> (sum(_.buildThreadCpuMs) + bt.cpuNs / 1e6 / p),
      "plans.analysis_ms" -> sum(_.analysisMs),
      "plans.optimization_ms" -> sum(_.optimizationMs),
      "plans.planning_ms" -> sum(_.planningMs),
      "plans.exchanges" -> sum(_.exchanges),
      "plans.graft_exec_nodes" -> sum(_.graftExecNodes),
      "exec.ms" -> execMs,
      "exec.jobs" -> exec.size / p,
      "exec.stages" -> ledger.stages(exec) / p,
      "exec.tasks" -> et.tasks / p,
      "exec.cpu_ms" -> et.cpuNs / 1e6 / p,
      "exec.run_ms" -> et.runMs / p,
      "exec.core_busy_share" -> (if (execMs > 0) et.runMs / p / (execMs * Session.cores) else 0.0),
      "exec.sched_wait_ms" -> ledger.schedWaitMs(exec) / p,
      "exec.gc_ms" -> et.gcMs / p,
      "exec.shuffle_read_bytes" -> et.shuffleReadBytes / p,
      "exec.shuffle_write_bytes" -> et.shuffleWriteBytes / p,
      "exec.spill_bytes" -> et.spillBytes / p,
      "exec.peak_exec_mem_bytes" -> et.peakExecMemBytes.toDouble,
      "exec.failed_tasks" -> et.failedTasks / p,
      "exec.result_rows" -> sum(_.resultRows.toDouble)))
  }

  def streaming(ctx: RunContext, progress: Seq[StreamingQueryProgress],
                timed: Seq[StreamWordCount.Chunk], sinkMs: Map[Long, Double],
                batchOf: Long => Option[Long], eventP99Ms: Double,
                latencySamples: Int): Map[String, Metric] = {
    val ledger = ctx.ledger.get
    org.apache.spark.PerfbenchBridge.drain(ctx.spark.sparkContext)
    val jobsByBatch = ledger.allJobs.filter(_.batchId.isDefined).groupBy(_.batchId.get)
    def dur(k: String) = Stats.mean(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(progress.flatMap(_.stateOperators.headOption).map(f))
    val triggers = progress.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    val batches = progress.map(_.batchId)
    // backlog seen by each timed chunk: events generated so far that no
    // started micro-batch has taken yet
    val startedMs = progress.map(p =>
      p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    val backlog = timed.indices.map { i =>
      val now = timed(i).stampMs
      val waiting = timed.take(i + 1).count(o =>
        !batchOf(o.offset).flatMap(startedMs.get).exists(_ <= now))
      (waiting * StreamWordCount.eventsPerChunk).toDouble
    }
    val lag = progress.flatMap { p =>
      Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli)
        .filter(_ > 0).map(w => (java.time.Instant.parse(p.timestamp).toEpochMilli - w).toDouble)
    }
    ordered(streamingNames, Map(
      "streaming.trigger_ms_p50" -> Stats.median(triggers),
      "streaming.trigger_ms_p90" -> Stats.percentile(triggers, 90),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.rows_per_trigger" -> Stats.mean(progress.map(_.numInputRows.toDouble)),
      "streaming.jobs_per_trigger" -> Stats.mean(batches.map(b => jobsByBatch.getOrElse(b, Nil).size.toDouble)),
      "streaming.cpu_ms_per_trigger" -> Stats.mean(batches.map(b =>
        ledger.totals(jobsByBatch.getOrElse(b, Nil)).cpuNs / 1e6)),
      "streaming.state_rows" -> state(_.numRowsTotal.toDouble),
      "streaming.state_mem_bytes" -> state(_.memoryUsedBytes.toDouble),
      "streaming.state_commit_ms" -> state(_.commitTimeMs.toDouble),
      "streaming.sink_ms" -> Stats.mean(batches.flatMap(sinkMs.get)),
      "streaming.backlog_events" -> Stats.mean(backlog),
      "streaming.watermark_lag_ms" -> Stats.mean(lag),
      "streaming.event_latency_p99_ms" -> eventP99Ms,
      "streaming.generator_late_ms_max" -> timed.map(_.lateUs / 1000.0).maxOption.getOrElse(0.0),
      "streaming.latency_samples" -> latencySamples.toDouble))
  }
}
