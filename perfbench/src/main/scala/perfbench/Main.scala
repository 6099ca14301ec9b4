package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Old-generation occupancy after a full collection, read at fixed points
  * of a run (never inside a timed interval). The peak of those readings
  * is the run's `heap_peak_mb`: live data the run retained, not garbage
  * that a young collection happened to promote. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  @volatile private var peak = 0L

  def settle(): Unit = {
    // the second collection picks up what Spark's ContextCleaner released
    // in reaction to the first
    System.gc()
    Thread.sleep(50)
    System.gc()
    val used = oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Everything a workload needs from the command line and the session. */
final case class RunContext(
    workload: String, seed: Long, seconds: Int, fixtures: String,
    runDir: File, golden: Map[String, (Long, String)], launchMicros: Long,
    spark: SparkSession, tracer: Option[Tracer], ledger: Option[JobLedger]) {

  /** Seconds since the launcher started this run's process. */
  def sinceLaunchS(): Double = (Main.nowMicros() - launchMicros) / 1e6
}

/** One benchmark run. Prints its [[Result]] as the last line of stdout.
  *
  *   perfbench.Main --workload <registry-light|stream-wordcount>
  *     --seed <n> --seconds <s> --trace <0|1> --run-dir <fresh dir>
  *     --fixtures <dir> --golden <file> --launch-micros <epoch µs>
  *
  * With `--write-golden` a registry workload instead records the
  * fingerprints of its list into the golden file (run at a trusted commit,
  * after checking the same queries against the DuckDB oracle). */
object Main {
  val workloads = Seq("registry-light", "stream-wordcount")

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(argv: Array[String]): Unit = {
    // `--key value` pairs, and bare `--flag`s
    val opts = argv.indices.filter(argv(_).startsWith("--")).map { i =>
      argv(i).drop(2) -> argv.lift(i + 1).filterNot(_.startsWith("--"))
    }.toMap
    val args = opts.collect { case (k, Some(v)) => k -> v }
    val flags = opts.keySet
    val workload = args("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val launchMicros = args.get("launch-micros").map(_.toLong).getOrElse(nowMicros())
    val runDir = new File(args("run-dir"))
    val traceOn = args.getOrElse("trace", "0") == "1"
    val goldenFile = new File(args("golden"))

    val spark = Session.build(runDir)
    val tracer = if (traceOn) Some(new Tracer(runDir.getName,
      System.nanoTime() - (nowMicros() - launchMicros) * 1000L)) else None
    val ledger = if (traceOn) Some(JobLedger.install(spark.sparkContext)) else None
    val ctx = RunContext(workload, args("seed").toLong, args("seconds").toInt,
      args("fixtures"), runDir,
      if (flags("write-golden")) Map.empty else Registry.loadGolden(goldenFile),
      launchMicros, spark, tracer, ledger)

    val result =
      try {
        if (flags("write-golden")) {
          Registry.writeGolden(goldenFile, Golden.record(ctx))
          Result(correct = true, 1, 0, Map.empty)
        } else if (workload == "stream-wordcount") StreamWordCount.run(ctx)
        else Registry.run(ctx)
      } finally {
        tracer.foreach(_.write(new File(runDir, "spans.jsonl")))
        spark.stop()
      }
    println(result.toJson)
  }
}

/** Records the golden fingerprints of the registry list, computing each
  * twice in one session and refusing a query whose two readings differ. */
object Golden {
  def record(ctx: RunContext): Map[String, (Long, String)] = {
    val qs = graft.SparkEntry.queries
    Registry.light.map { n =>
      def once() = Fingerprint.collect(Fingerprint.of(qs(n)(ctx.spark, ctx.fixtures)))
      val (a, b) = (once(), once())
      require(a == b, s"$n: fingerprint is not stable ($a vs $b)")
      n -> a
    }.toMap
  }
}
