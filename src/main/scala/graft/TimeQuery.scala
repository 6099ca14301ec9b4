package graft
import org.apache.spark.sql.SparkSession

/** Dev utility: time one registered query, warm, N reps.
  * Usage: runMain graft.TimeQuery <query_name> <sfDir> [reps]
  * (Bench times the whole registry; this isolates one query for
  * plan iteration on a noisy VM — compare medians across reps.)
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.TopKPerGroup.install(spark) // match Bench/Verify session wiring
    val fn = SparkEntry.queries(name)
    try SparkEntry.entry(spark).count() catch { case e: Throwable =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "warm-up query failed; the first rep pays set-up", e)
    }
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[timequery] rep $i: $dt%.3f s ($n rows)")
      dt
    }
    println(f"[timequery] $name median ${times.sorted.apply(reps / 2)}%.3f s")
    spark.stop()
  }
}
