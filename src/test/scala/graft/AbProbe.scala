package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev timing harness over one registry query, in ONE warm JVM on Bench's
  * session. Two modes:
  *   - `<query> <sfDir> [reps]`: N warm reps of the query as it stands;
  *   - `<query> <confKey> <sfDir> [reps]`: alternate a session-conf toggle
  *     (`confKey` = true / false) across reps, so VM load hits both
  *     variants equally (a conf key starts with `spark.`).
  * Each arm prints its wall and executor-CPU medians plus every sample.
  * Test-sources-only (it must not ship in the production artifact); run
  * it with BOTH target/scala-2.13/classes and target/scala-2.13/test-classes
  * (plus the Spark jars) on the classpath:
  *   java -cp "<classes>:<test-classes>:<spark jars>" graft.AbProbe
  *     <query> [confKey] <sfDir> [reps] */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: AbProbe <query> [confKey] <sfDir> [reps]"
    require(args.length >= 2, usage)
    val name = args(0)
    val key = Some(args(1)).filter(_.startsWith("spark."))
    val rest = args.drop(if (key.isDefined) 2 else 1)
    require(rest.nonEmpty, usage)
    val dir = rest(0)
    val reps = if (rest.length > 1) rest(1).toInt else 4
    val spark = Bench.session(defaultCpus = 32)
    // thread-CPU totals are immune to host steal, unlike wall medians
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    // session warm-up; a failure here only degrades measurement quality,
    // but say so instead of swallowing it
    try SparkEntry.entry(spark).count() catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[ab] warmup failed: ${e.getClass.getName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
    }
    val fn = SparkEntry.queries(name)
    // (label, conf value) per arm; one-query mode has a single arm
    val arms = key match {
      case Some(k) => Seq("true", "false").map(v => (s" $k=$v", Some(v)))
      case None => Seq(("", None))
    }
    def select(value: Option[String]): Unit =
      for (k <- key; v <- value) spark.conf.set(k, v)
    // warm every arm once
    arms.foreach { case (_, v) => select(v); fn(spark, dir).count() }
    val samples = arms.map(_ => collection.mutable.ArrayBuffer.empty[(Double, Double)])
    (1 to reps).foreach { _ =>
      arms.zip(samples).foreach { case ((_, v), buf) =>
        select(v)
        Thread.sleep(200) // drain async task-end events of the prior rep
        val c0 = cpuNs.get()
        val t0 = System.nanoTime(); fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        buf += ((wall, (cpuNs.get() - c0) / 1e9))
      }
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    def all(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString(",")
    arms.zip(samples).foreach { case ((label, _), buf) =>
      val (wall, cpu) = buf.toSeq.unzip
      println(f"[ab] $name$label wall ${med(wall)}%.3f cpu ${med(cpu)}%.3f  all ${all(wall)} | cpu ${all(cpu)}")
    }
    spark.stop()
  }
}
