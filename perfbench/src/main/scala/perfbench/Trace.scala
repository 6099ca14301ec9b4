package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a traced run. Times are ms since the run's
  * launch; `parent` is the enclosing span's id, or -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Spans kept in memory and written once, when the run ends, so recording
  * costs a few object allocations and no I/O while the run is measured. */
final class Tracer(val runId: String, launchNs: Long) {
  private val nextId = new AtomicInteger
  private val done = new ConcurrentLinkedQueue[Span]

  def nowMs: Double = (System.nanoTime() - launchNs) / 1e6

  /** Times `body` as span `name` under `parent`; `body` gets the new id. */
  def span[T](name: String, parent: Int = -1)(body: Int => T): T = {
    val id = nextId.getAndIncrement()
    val start = nowMs
    try body(id) finally done.add(Span(id, parent, name, start, nowMs))
  }

  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String, Double)]

  /** Opens a span whose end comes from another call; returns its id. */
  def begin(name: String, parent: Int): Int = {
    val id = nextId.getAndIncrement()
    open.put(id, (parent, name, nowMs))
    id
  }

  def end(id: Int): Unit = Option(open.remove(id)).foreach { case (parent, name, start) =>
    done.add(Span(id, parent, name, start, nowMs))
  }

  /** Records an interval measured elsewhere (e.g. a streaming trigger). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Int = {
    val id = nextId.getAndIncrement()
    done.add(Span(id, parent, name, startMs, endMs))
    id
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Writes the spans as JSON lines: name, start, end, parent, run id. */
  def write(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(Result.mapper.writeValueAsString(Map(
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally out.close()
  }
}

/** Per-task counters summed over whatever set of tasks is asked about. */
final case class TaskTotals(
    tasks: Long = 0, failedTasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, peakExecMemBytes: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(
    tasks + o.tasks, failedTasks + o.failedTasks, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(peakExecMemBytes, o.peakExecMemBytes))
}

/** What the ledger knows about one Spark job once the bus has drained. */
final case class JobRecord(id: Int, submitMs: Long, callSite: String,
                           tag: Option[String], batchId: Option[Long],
                           stageIds: Seq[Int])

/** A SparkListener that keeps raw job, stage and task events, so a traced
  * run can attribute Spark work to the repo module that caused it after
  * the fact. A job is tagged with the `perfbench.tag` local property of the
  * thread that submitted it (and, for streaming, the micro-batch id Spark
  * stamps on it); jobs submitted from threads that did not inherit the tag
  * are attributed by the time window they were submitted in. */
final class JobLedger extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[JobRecord]
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val firstLaunchMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val first = e.stageInfos.sortBy(_.stageId).headOption
    jobs.add(JobRecord(e.jobId, e.time, first.map(_.name).getOrElse(""),
      prop(JobLedger.TagKey), prop("streaming.sql.batchId").map(_.toLong),
      e.stageIds))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.putIfAbsent(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    firstLaunchMs.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val t = TaskTotals(
      tasks = 1,
      failedTasks = if (e.taskInfo.successful) 0 else 1,
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      shuffleReadBytes = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      peakExecMemBytes = m.map(_.peakExecutionMemory).getOrElse(0L))
    stageTotals.merge(e.stageId, t, (a, b) => a + b)
  }

  /** Every job seen so far, oldest first (drain the bus before reading). */
  def allJobs: Seq[JobRecord] = jobs.asScala.toSeq.sortBy(_.id)

  def totals(js: Seq[JobRecord]): TaskTotals =
    js.flatMap(_.stageIds).distinct
      .flatMap(s => Option(stageTotals.get(s))).foldLeft(TaskTotals())(_ + _)

  def stages(js: Seq[JobRecord]): Int =
    js.flatMap(_.stageIds).distinct.count(s => stageTotals.containsKey(s))

  /** Scheduling wait: first task launch minus stage submission, summed. */
  def schedWaitMs(js: Seq[JobRecord]): Long =
    js.flatMap(_.stageIds).distinct.flatMap { s =>
      for (sub <- Option(stageSubmitMs.get(s)); l <- Option(firstLaunchMs.get(s)))
        yield math.max(0L, l - sub)
    }.sum
}

object JobLedger {
  val TagKey = "perfbench.tag"

  /** Tags every job the current thread submits until the next call. */
  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(TagKey, t)

  def install(sc: SparkContext): JobLedger = {
    val l = new JobLedger
    sc.addSparkListener(l)
    l
  }
}

/** Assigns a job to a tagged window: by its own tag when the submitting
  * thread carried one, else by the window its submission time falls in. */
final case class Window(tag: String, startMs: Long, endMs: Long)

object Attribution {
  /** Jobs grouped by window tag; jobs outside every window are dropped. */
  def byTag(jobs: Seq[JobRecord], windows: Seq[Window]): Map[String, Seq[JobRecord]] = {
    val sorted = windows.sortBy(_.startMs).toIndexedSeq
    val known = windows.map(_.tag).toSet
    def inWindow(ms: Long): Option[String] =
      sorted.find(w => ms >= w.startMs && ms <= w.endMs).map(_.tag)
    val tagged = mutable.LinkedHashMap.empty[String, Vector[JobRecord]]
    jobs.foreach { j =>
      j.tag.filter(known).orElse(inWindow(j.submitMs)).foreach { t =>
        tagged.update(t, tagged.getOrElse(t, Vector.empty) :+ j)
      }
    }
    tagged.toMap
  }
}
