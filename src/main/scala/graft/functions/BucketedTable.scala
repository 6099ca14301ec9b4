package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE bucketed-catalog-projection convention, in one place, and the
  * engine's only bucketed writer: the per-doc stores' projections
  * (DocStore.bucketed), the dedup increment base's band keys
  * (DedupQueries.ensureIncBase) and q_join_bucketed's two tables
  * (JoinQueries.bucketize) all build and re-register through it. The
  * convention:
  *
  *   - N buckets on the cluster keys, ONE sorted file per bucket
  *     (repartition on the keys before the bucketed write — a
  *     multi-file bucket loses its sort order at scan time, a
  *     single-file bucket scans as SORTED, so downstream SMJs need
  *     neither Exchange nor Sort);
  *   - the catalog entry is per-JVM (in-memory catalog): a fresh
  *     session re-REGISTERS the existing bucketed files with CREATE
  *     TABLE ... CLUSTERED BY ... LOCATION — bucket ids live in the
  *     file names, so registration is metadata-only and the write-once
  *     economics hold across JVMs.
  */
private[graft] object BucketedTable {

  /** Build the bucketed projection from `build` when its data dir is
    * missing, else register the existing files if this JVM hasn't yet;
    * returns the catalog relation either way. */
  def readOrBuild(s: SparkSession, tbl: String, dataDir: String,
                  keys: Seq[String], ddlSchema: String,
                  nBuckets: Int = 8)(build: => DataFrame): DataFrame = {
    if (!new java.io.File(s"$dataDir/_SUCCESS").exists())
      build
        .repartition(nBuckets, keys.map(col): _*)
        .write.format("parquet")
        .bucketBy(nBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .option("path", dataDir)
        .mode("overwrite").saveAsTable(tbl)
    else register(s, tbl, dataDir, keys, ddlSchema, nBuckets)
    s.table(tbl)
  }

  /** Metadata-only registration of EXISTING bucketed files (no-op when
    * this JVM already has the catalog entry). */
  def register(s: SparkSession, tbl: String, dataDir: String,
               keys: Seq[String], ddlSchema: String,
               nBuckets: Int = 8): Unit =
    if (!s.catalog.tableExists(tbl))
      s.sql(
        s"""CREATE TABLE $tbl ($ddlSchema)
           |USING parquet
           |CLUSTERED BY (${keys.mkString(", ")})
           |SORTED BY (${keys.mkString(", ")}) INTO $nBuckets BUCKETS
           |LOCATION '$dataDir'""".stripMargin): Unit
}
