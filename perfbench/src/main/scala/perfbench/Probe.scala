package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Re-derives the frozen query lists: runs every registry query twice (a
  * cold pass, then a warm one) in the benchmark's session and prints one
  * line per query with the warm wall time, executor CPU and job count.
  *
  *   java -cp <classes>:$SPARK_HOME/jars/'*' perfbench.Probe <fixtureDir> <runDir>
  *
  * registry-light takes queries whose warm wall is under 0.4 s; the list
  * in [[Registry]] is frozen from this output. */
object Probe {
  def main(args: Array[String]): Unit = {
    val (dir, runDir) = (args(0), new File(args(1)))
    val spark = Session.build(runDir)
    val cpuNs = new AtomicLong
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val t0 = System.nanoTime()
    graft.IncrementContract.prebuildBases(spark, dir)
    System.err.println(f"[probe] prebuildBases ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    def runOnce(name: String): (Double, Double, Long) = {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val (c0, j0) = (cpuNs.get, jobs.get)
      val s = System.nanoTime()
      Fingerprint.collect(Fingerprint.of(graft.SparkEntry.queries(name)(spark, dir)))
      val wall = (System.nanoTime() - s) / 1e9
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      (wall, (cpuNs.get - c0) / 1e9, jobs.get - j0)
    }
    for (pass <- Seq("cold", "warm"); n <- names) {
      val line =
        try {
          val (w, c, j) = runOnce(n)
          f"""{"pass":"$pass","query":"$n","wall_s":$w%.4f,"cpu_s":$c%.4f,"jobs":$j}"""
        } catch { case e: Throwable =>
          s"""{"pass":"$pass","query":"$n","error":"${e.getClass.getSimpleName}"}"""
        }
      println(line)
    }
    spark.stop()
  }
}
