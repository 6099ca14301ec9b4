package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** The batch workload over `graft.SparkEntry.queries`: a closed loop with
  * one client thread, each pass running the frozen query list in an order
  * drawn from the seed. Each execution builds the query and collects its
  * [[Fingerprint]], which is checked against the golden value stored with
  * the benchmark. */
object Registry {

  /** Every eighth, by name, of the registry queries that ran under 0.4 s
    * warm (sf0.1, `local[4]`, fingerprint action), leaving out those that
    * build a write-once artifact on first touch: the incremental families,
    * queries whose cold run was more than twice their warm one, and
    * `q_ngrams` (GramStore). Per-query fixed cost dominates these. */
  val light: Seq[String] = Seq(
    "q_ab_test", "q_benford", "q_dup_histogram", "q_filter_in",
    "q_join_anti", "q_lang_id", "q_null_safe_join", "q_sample_weighted",
    "q_source_mix", "q_tpch_q14", "q_win_dist")

  /** Golden fingerprints, by query name: (rows, hash). */
  def loadGolden(f: File): Map[String, (Long, String)] = {
    val node = Result.mapper.readTree(f)
    node.fieldNames().asScala.map { n =>
      val v = node.get(n)
      n -> (v.get("rows").asLong(), v.get("hash").asText())
    }.toMap
  }

  def writeGolden(f: File, fps: Map[String, (Long, String)]): Unit = {
    val body = scala.collection.immutable.TreeMap(fps.toSeq: _*).map {
      case (n, (rows, hash)) => n -> Map("rows" -> rows, "hash" -> hash)
    }
    Result.mapper.writerWithDefaultPrettyPrinter().writeValue(f, body)
  }

  /** Seeded order of pass `pass`: every pass runs the whole list. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Exchanges and custom exec nodes in a (possibly adaptive) final plan. */
  object PlanShape extends AdaptiveSparkPlanHelper {
    private def isGraftExec(p: SparkPlan): Boolean = {
      val n = p.getClass.getSimpleName
      n == "TopKPerGroupExec" || n == "RangeJoinExec" ||
        (n.startsWith("AsofJoin") && n.endsWith("Exec"))
    }
    def apply(plan: SparkPlan): (Int, Int) = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      (nodes.count(_.isInstanceOf[Exchange]), nodes.count(isGraftExec))
    }
  }

  /** One query execution's layer readings (traced runs only). */
  final case class QueryLayers(
      buildMs: Double, buildThreadCpuMs: Double, execMs: Double,
      analysisMs: Double, optimizationMs: Double, planningMs: Double,
      exchanges: Int, graftExecNodes: Int, resultRows: Long,
      windows: Seq[Window])

  def run(ctx: RunContext): Result = {
    val names = light
    val golden = ctx.golden
    val spark = ctx.spark
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(n => queries.contains(n) && golden.contains(n))
    require(missing.isEmpty, s"not in the registry or the golden file: ${missing.mkString(", ")}")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    var attempted = 0L
    var failed = 0L
    var seq = 0

    def check(n: String, got: (Long, String)): Unit =
      if (!golden.get(n).contains(got))
        throw new IllegalStateException(s"fingerprint $got != golden ${golden.get(n)}")

    /** Builds, plans and runs one query; returns its latency in ms. */
    def execute(n: String, parent: Int, layers: Option[mutable.Buffer[QueryLayers]]): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        ctx.tracer match {
          case None =>
            check(n, Fingerprint.collect(Fingerprint.of(queries(n)(spark, ctx.fixtures))))
          case Some(tr) => tr.span(s"query:$n", parent) { qid =>
            seq += 1
            def phase[T](layer: String)(body: => T): (T, Window, Double) = {
              val tag = s"$seq:$layer"
              JobLedger.tag(sc, tag)
              val w0 = System.currentTimeMillis()
              val s = System.nanoTime()
              val v = tr.span(layer, qid)(_ => body)
              val ms = (System.nanoTime() - s) / 1e6
              (v, Window(tag, w0, System.currentTimeMillis()), ms)
            }
            val cpu0 = threads.getCurrentThreadCpuTime
            val (df, wb, buildMs) = phase("operators")(queries(n)(spark, ctx.fixtures))
            val buildCpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e6
            val fp: DataFrame = Fingerprint.of(df)
            val (_, wp, _) = phase("plans")(fp.queryExecution.executedPlan)
            val (got, we, execMs) = phase("exec")(Fingerprint.collect(fp))
            check(n, got)
            val ph = fp.queryExecution.tracker.phases
            def phaseMs(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
            val (ex, gx) = PlanShape(fp.queryExecution.executedPlan)
            layers.foreach(_ += QueryLayers(buildMs, buildCpu, execMs,
              phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"),
              ex, gx, got._1, Seq(wb, wp, we)))
          }
        }
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $n failed: $e")
          None
      } finally if (ctx.tracer.isDefined) JobLedger.tag(sc, null)
    }

    // warm-up: one untimed pass in list order, counted in setup_s; the heap
    // is read after every query here, where the order is fixed
    val tracer = ctx.tracer
    def traced[T](name: String)(body: Int => T): T =
      tracer.map(_.span(name)(body)).getOrElse(body(-1))
    System.err.println(f"[perfbench] session ready at ${ctx.sinceLaunchS()}%.2f s")
    traced("warmup")(id => names.foreach { n =>
      execute(n, id, None).foreach(ms => System.err.println(f"[perfbench] warm-up $n $ms%.0f ms"))
      Heap.settle()
    })
    val setupS = ctx.sinceLaunchS()

    // timed passes: whole passes until `--seconds` have gone by, at least
    // two, each in a seeded order. On a shared 4-vCPU VM, single-thread
    // speed swings by up to ±25% over stretches of 20-30 s, and the JIT keeps
    // speeding up the first passes after the cold one. So each query is
    // represented by its best pass, and the window is as long as the run
    // budget allows: the longer it is, the likelier it holds a quick stretch.
    val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.ArrayBuffer.empty[QueryLayers]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var passes = 0
    while (passes < 2 || System.nanoTime() < deadline) {
      val pass = passes
      traced(s"pass:$pass") { pid =>
        order(names, ctx.seed, pass).foreach { n =>
          execute(n, pid, if (tracer.isDefined) Some(layers) else None).foreach { ms =>
            System.err.println(f"[perfbench] pass $pass $n $ms%.0f ms")
            latencies.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
          }
        }
      }
      Heap.settle()
      passes += 1
    }

    val perQuery = latencies.values.map(_.min).toSeq
    val tail = Stats.tailPercentile(perQuery.size, 90)
    System.err.println(f"[perfbench] ${ctx.workload}: $passes passes, ${perQuery.size} queries, tail = p$tail%.0f")
    val e2e = Result.metrics(
      "setup_s" -> Metric(setupS, "s"),
      "throughput" -> Metric(perQuery.size / (perQuery.sum / 1000.0), "1/s"),
      "latency_p50_ms" -> Metric(Stats.median(perQuery), "ms"),
      "latency_tail_ms" -> Metric(Stats.percentile(perQuery, tail), "ms"),
      "heap_peak_mb" -> Metric(Heap.peakMb, "MB"))
    val metrics =
      if (tracer.isEmpty) e2e
      else Layers.registry(ctx, layers.toSeq, passes) ++
        Layers.streamingAbsent ++ Layers.tracedEndToEnd(e2e)
    Result(failed == 0, attempted, failed, metrics)
  }
}
