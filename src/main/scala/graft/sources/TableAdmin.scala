package graft.sources

import org.apache.spark.sql.SparkSession

/** Engine-side table administration — the analog of the reference's
  * self-provisioning topic admin (R8: the integration fixture dials a
  * broker, finds the controller, and creates its topic idempotently —
  * `/root/reference/go/integration/integration_test.go:66-91`). Here the
  * "DDL surface" is the Spark catalog: jobs and tests provision the
  * tables they need with CREATE-IF-NOT-EXISTS semantics instead of
  * assuming an operator pre-created them.
  *
  * Scale note: these are catalog metadata operations (no data movement);
  * external parquet tables keep the storage layout — partition discovery
  * and pruning work exactly as with `spark.read.parquet`.
  */
object TableAdmin {

  /** Idempotent CREATE TABLE over an existing parquet location (external
    * table — dropping it never deletes data). Mirrors the reference's
    * tolerate-"already exists" create. */
  def ensureParquetTable(spark: SparkSession, name: String,
                         location: String): Unit =
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS `$name` USING parquet LOCATION '$location'")

  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** Idempotent drop (metadata only for external tables). */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
}
