package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one session every workload runs in: `local[4]` with four shuffle
  * partitions, and the same SQL settings `graft.Bench` and `graft.Verify`
  * use, so the benchmark times the plans the oracle checks. Every path
  * Spark writes (local dirs, warehouse) lives under the run's own dir. */
object Session {
  val cores = 4

  def build(runDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKPerGroup.install(spark)
    spark
  }
}

/** The registry's timed action: an order-insensitive fingerprint of the
  * whole result (row count plus the sum of a 64-bit hash of every row).
  * Unlike `count()` it reads every output column, so Catalyst cannot prune
  * the query down to a row count. */
object Fingerprint {

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Spark refuses to hash maps, so map-bearing columns hash their JSON. */
  private def hashable(f: StructField): Column = {
    val c = col("`" + f.name.replace("`", "``") + "`")
    if (hasMap(f.dataType)) to_json(struct(c)) else c
  }

  def of(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(df.schema.fields.map(hashable).toIndexedSeq: _*)
        .cast(DecimalType(20, 0))), lit(BigDecimal(0))).cast(StringType).as("hash"))

  /** (rows, hash) of an already-built fingerprint frame. */
  def collect(fp: DataFrame): (Long, String) = {
    val r = fp.collect()(0)
    (r.getLong(0), r.getString(1))
  }
}
