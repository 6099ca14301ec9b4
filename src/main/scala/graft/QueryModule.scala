package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A bundle of oracle-checked queries contributed to [[SparkEntry]].
  *
  * Contract (see SURVEY.md §2.3): every key in [[queries]] that also appears
  * in [[oracleSql]] is hash-compared by the driver against DuckDB running the
  * oracle SQL over the same parquet tables. Determinism rules:
  *   - total ORDER BY on a unique key in BOTH formulations;
  *   - ROUND(x, 4) on every floating-point output in BOTH;
  *   - identical column names on both sides (driver sorts columns by name).
  */
trait QueryModule {
  /** (spark, sfDir) => result. sfDir holds `<table>.parquet` files. */
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]

  def oracleSql: Map[String, String]

  /** Load one fixture table from the scale-factor directory. */
  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Portable 4-decimal round. Native ROUND(x,4) breaks on exact half-ties
    * (Spark rounds the double's exact decimal expansion, DuckDB the x*1e4
    * product — they can disagree when a small-denominator rational lands on
    * k.5 after the multiply). FLOOR(x*10000 + 0.5)/10000 is the same IEEE
    * op sequence in both engines, so ties always break identically. Use for
    * any ratio of integers/decimals (means, token ratios, jaccard); native
    * round stays fine for continuous data (prices, cosines, stddev). */
  protected def pround4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    floor(c * 10000 + lit(0.5)) / 10000
  }

  /** The DuckDB-side twin of [[pround4]]. */
  protected def sqlRound4(e: String): String =
    s"FLOOR(($e) * 10000 + 0.5) / 10000"

  /** 48-bit integer of the first 12 md5 hex chars — THE cross-engine hash
    * primitive (2⁴⁸ < 2⁵³ so the value survives any double round-trip).
    * One definition serves every module: the hash IS the determinism
    * contract, so a drifted copy would silently fork batch vs oracle vs
    * streaming agreement (StreamingSketch.hv48 is the JVM-side twin). */
  protected def hv48(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("bigint")
  }

  /** DuckDB twin of [[hv48]]: per-hex-digit strpos fold over `h`, an
    * expression yielding an md5 hex string (DuckDB has no base-16 conv). */
  protected def sqlHv48(h: String): String =
    (0 until 12).map { i =>
      s"(STRPOS('0123456789abcdef', SUBSTR($h, ${1 + i}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}"
    }.mkString(" + ")
}

/** Central fixture-table loader (TESTDATA.md / FIXTURES.md §B). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts precision is fixture-dependent, so adapt to the LOADED type:
    *   - TIMESTAMP(NANOS) parquet: Spark 4 refuses to read it as a timestamp;
    *     sessions set spark.sql.legacy.parquet.nanosAsLong=true so it arrives
    *     as a LongType of epoch-nanos, and we truncate ns→µs here (integer
    *     DIV — no double round-trip, epoch-nanos exceed double's 53-bit
    *     mantissa). DuckDB reads the same column as TIMESTAMP(µs) by
    *     truncation, so both engines see identical values.
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=false parquet (the current
    *     fixtures): Spark infers TimestampNTZType. Cast to TimestampType —
    *     every engine session pins spark.sql.session.timeZone=UTC, so the
    *     cast is the identity on the epoch-micros payload, and downstream
    *     consumers (as-of joins, time windows, the driver's DuckDB compare)
    *     see the same TimestampType they were proven against.
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=true: TimestampType — pass through.
    * Branching on the loaded dtype keeps all fixture generations working.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    adapt(name, readParquet(spark, s"$sfDir/$name.parquet"))

  /** The per-table adaptation [[load]] applies to a freshly read table. */
  private[graft] def adapt(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Session schema catalog: per session, absolute path -> (stamp, schema).
    * `spark.read.parquet` runs one Spark job per call just to read a footer
    * and infer the schema; reading with the schema pinned skips that job
    * while the file index is still listed on every load. Only metadata is
    * kept — no DataFrame, relation or result. The stamp is the path's file
    * manifest (names, sizes, mtimes) plus the session's parquet settings,
    * so a table rewritten in place, or a session whose parquet reader
    * options changed, infers again. Weak session keys: a stopped session's
    * entries go with it, and two sessions never share one. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]

  /** `spark.read.parquet(path)` with the schema taken from the session
    * catalog. A path that is not on the local file system, or does not
    * exist (globs included), is read with plain inference. A manifest IO
    * error propagates: it never falls back to a cached schema. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val file = new java.io.File(uri.getPath).getAbsoluteFile
    if (Option(uri.getScheme).exists(_ != "file") || !file.exists)
      spark.read.parquet(path)
    else {
      val stamp = functions.FsUtil.manifest(file.getPath, strict = true) + "\n" +
        spark.conf.getAll.filter(_._1.contains(".parquet.")).toSeq.sorted.mkString(",")
      val cache = schemas.synchronized(schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap))
      val schema = cache.get(file.getPath) match {
        case (`stamp`, known) => known
        case _ =>
          val inferred = spark.read.parquet(path).schema
          cache.put(file.getPath, (stamp, inferred))
          inferred
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Register every fixture as a temp view so modules can use spark.sql. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
}
