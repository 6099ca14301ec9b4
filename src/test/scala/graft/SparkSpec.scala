package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: `Bench.session(4)`, the session
  * Bench times and Verify checks, with every engine component attached
  * (one JVM-wide session — Spark's getOrCreate makes this safe across suites
  * and keeps test startup O(1)). `SPARK_GRAFT_CPUS` sets its cores, as it
  * does for Bench and Verify.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Bench.session(defaultCpus = 4)
  /** Smallest fixture — specs verify exact semantics here; the driver's
    * DuckDB oracle covers sf0.01. */
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = SparkTestSession.sf

  def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  def table(name: String): DataFrame = Tables.load(spark, sf, name)

  /** Runs `f` with `conf` set on the shared session, restoring the previous
    * values after. */
  def withConf[T](conf: (String, String)*)(f: => T): T = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
