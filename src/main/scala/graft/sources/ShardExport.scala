package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sharded training-data export — the hand-off from the
  * curation pipeline to a training dataloader: the corpus in a stable
  * pseudo-random order (so no source/time clustering leaks into the
  * training curriculum), cut into a fixed number of shards, one parquet
  * file per shard, with a manifest the loader can trust.
  *
  * Order and shard assignment both derive from md5(seed, id) — stable
  * across runs, cluster sizes, and input partitioning, so re-exporting
  * the same corpus with the same seed is byte-identical row order per
  * shard (the reproducibility contract training runs need). Changing the
  * seed is a fresh global shuffle.
  *
  * Plan shape at 100 TB: ONE hash-partitioned Exchange (rows → their
  * shard) + a per-shard sort on the order key — no global sort, no
  * driver collect. Every shard's rows land in exactly one task, so
  * `partitionBy("shard")` emits exactly one file per shard; shard sizes
  * are equal in expectation (hash-uniform over ids), ±O(√(n/shards)).
  */
object ShardExport {

  /** The stable order/shard key: first 15 md5 hex digits of (seed, id)
    * as a BIGINT — collision-free enough for ordering (ties broken by
    * id), uniform for sharding. */
  private def orderKey(idCol: String, seed: String) =
    conv(substring(md5(concat(lit(seed), col(idCol).cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("bigint")

  /** Export `df` to `path` as `shards` parquet files (directory
    * `shard=N/` each holding one file), rows in the seeded pseudo-random
    * order, plus `_graft_manifest` (one row per shard: n_rows and the
    * order-key range) written under the same root. */
  def exportParquet(df: DataFrame, idCol: String, path: String, shards: Int,
             seed: String = "shard"): Unit = {
    keyedSorted(df, idCol, shards, seed)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    manifestOf(df.sparkSession.read.parquet(path), path, idCol, seed)
  }

  /** The JSONL flavor of [[exportParquet]]: identical seeded order and shard
    * assignment, but each shard lands as ONE gzip'd JSON-lines file
    * (`shard=N/part-*.json.gz`) — the interchange format most training
    * dataloaders stream natively, no parquet reader required. The same
    * `_graft_manifest` (parquet — underscore-prefixed, so data readers
    * skip it) certifies the written files. Caller owns JSON-compatible
    * column types (binary columns don't round-trip JSON; keep those
    * exports on parquet). */
  def exportJsonl(df: DataFrame, idCol: String, path: String, shards: Int,
                  seed: String = "shard", compress: Boolean = true): Unit = {
    val writer = keyedSorted(df, idCol, shards, seed)
      .write.mode("overwrite").partitionBy("shard")
    (if (compress) writer.option("compression", "gzip") else writer).json(path)
    manifestOf(df.sparkSession.read.json(path), path, idCol, seed)
  }

  /** Shared write-side plan: order/shard keys attached (NULL-id guarded),
    * one hash Exchange to shards, per-shard sort. */
  private def keyedSorted(df: DataFrame, idCol: String, shards: Int,
                          seed: String): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(!df.columns.contains("shard") && !df.columns.contains("__graft_ord"),
      "input must not carry a 'shard' or '__graft_ord' column")
    // a NULL id nulls its order key AND its shard — the row would land
    // silently in shard=__HIVE_DEFAULT_PARTITION__, breaking the
    // one-file-per-shard and determinism contracts. Guard IN the export
    // pass itself (raise_error on the first NULL aborts the job before
    // the output commits), not as a separate pre-scan: a pre-check could
    // only short-circuit when a NULL exists, so clean data — the common
    // case — would pay a whole extra pass over the id lineage.
    val guardedOrd = when(col(idCol).isNull,
        raise_error(lit(s"export id column '$idCol' contains NULLs — " +
          "every row needs a non-null id for its deterministic order " +
          "key and shard assignment")))
      .otherwise(orderKey(idCol, seed))
    df.withColumn("__graft_ord", guardedOrd)
      .withColumn("shard",
        pmod(col("__graft_ord"), lit(shards.toLong)).cast("int"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__graft_ord"), col(idCol))
      .drop("__graft_ord")
  }

  /** Write the manifest of an exported root: (shard, n_rows, min_ord,
    * max_ord) — recomputed FROM THE EXPORTED FILES (`readBack`), so it
    * certifies what was actually written, not what the writer intended. */
  private def manifestOf(readBack: DataFrame, path: String, idCol: String,
                         seed: String): Unit =
    readBack
      .withColumn("__graft_ord", orderKey(idCol, seed))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("__graft_ord").as("min_ord"), max("__graft_ord").as("max_ord"))
      .orderBy("shard")
      .write.mode("overwrite").parquet(s"$path/_graft_manifest")

  /** Read an export in its global training order (shard-major, then the
    * seeded order within the shard — the order a sequential loader
    * walking shard files sees). NOTE: this REINTRODUCES a global sort —
    * fine for a single sequential loader, wrong for a distributed
    * reader, which should read per-shard files as-is (each is already
    * sorted) and order within shards only. */
  def readOrdered(spark: SparkSession, path: String, idCol: String,
                  seed: String = "shard"): DataFrame =
    spark.read.parquet(path)
      .orderBy(col("shard"), orderKey(idCol, seed), col(idCol))

  /** The export's manifest, as written. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_graft_manifest")
}
