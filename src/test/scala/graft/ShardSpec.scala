package graft

import graft.sources.ShardExport
import org.apache.spark.sql.functions._

/** Sharded training export: completeness (multiset identity with the
  * corpus), layout (one file per shard), manifest certification,
  * deterministic re-export, and the seed actually reshuffling. */
class ShardSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-shard").toString

  test("export partitions the corpus completely, one file per shard") {
    val docs = table("documents").select("doc_id", "text", "lang")
    val dir = tmp()
    ShardExport.exportParquet(docs, "doc_id", dir, shards = 8)
    val back = spark.read.parquet(dir)
    // multiset identity (doc_id unique → set identity + count)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").distinct().count() == docs.count())
    // one parquet file per shard directory
    (0 until 8).foreach { s =>
      val files = new java.io.File(s"$dir/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // manifest certifies the written rows
    val m = ShardExport.manifest(spark, dir).collect()
    assert(m.map(_.getAs[Long]("n_rows")).sum == docs.count())
    assert(m.length == 8)
  }

  test("same seed re-exports byte-identical per-shard row order") {
    val docs = table("documents").select("doc_id", "text")
    val (d1, d2) = (tmp(), tmp())
    ShardExport.exportParquet(docs, "doc_id", d1, shards = 4)
    ShardExport.exportParquet(docs, "doc_id", d2, shards = 4)
    def orderOf(dir: String): Seq[(Int, Seq[Long])] =
      (0 until 4).map { s =>
        s -> spark.read.parquet(s"$dir/shard=$s")
          .select("doc_id").as[Long].collect().toSeq
      }
    assert(orderOf(d1) == orderOf(d2), "re-export order differs")
  }

  test("a different seed is a fresh global shuffle, same completeness") {
    val docs = table("documents").select("doc_id", "text")
    val (d1, d2) = (tmp(), tmp())
    ShardExport.exportParquet(docs, "doc_id", d1, shards = 4, seed = "a")
    ShardExport.exportParquet(docs, "doc_id", d2, shards = 4, seed = "b")
    val o1 = ShardExport.readOrdered(spark, d1, "doc_id", "a")
      .select("doc_id").as[Long].collect().toSeq
    val o2 = ShardExport.readOrdered(spark, d2, "doc_id", "b")
      .select("doc_id").as[Long].collect().toSeq
    assert(o1.toSet == o2.toSet, "seed changed the row SET")
    assert(o1 != o2, "different seeds produced the same order")
  }

  test("no source clustering leaks into the order (interleaving check)") {
    val docs = table("documents").select("doc_id", "text", "source")
    val dir = tmp()
    ShardExport.exportParquet(docs, "doc_id", dir, shards = 2)
    // in the global training order, adjacent-pair same-source rate should
    // be near the source-share² sum, far below 1.0 (storage order is
    // source-clustered; export order must not be)
    val ordered = ShardExport.readOrdered(spark, dir, "doc_id")
      .select("source").as[String].collect()
    val sameAdj = ordered.sliding(2).count(p => p(0) == p(1)).toDouble /
      (ordered.length - 1)
    assert(sameAdj < 0.5, f"order still source-clustered: $sameAdj%.2f")
  }

  test("reserved column names fail fast") {
    val bad = Seq((1L, 0)).toDF("doc_id", "shard")
    intercept[IllegalArgumentException] {
      ShardExport.exportParquet(bad, "doc_id", tmp(), shards = 2)
    }
  }

  test("NULL ids fail the export job instead of landing in a default partition") {
    // a NULL id would get a NULL order key and shard — silently exported
    // under shard=__HIVE_DEFAULT_PARTITION__, breaking the exactly-N-files
    // and manifest-determinism contracts (round-8 advice item). The guard
    // is raise_error INSIDE the export pass (no extra pre-scan), so the
    // failure surfaces as the aborted write job.
    val bad = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "b")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      ShardExport.exportParquet(bad, "doc_id", tmp(), shards = 2)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("non-null id"), s"unexpected failure: $msgs")
  }

  test("jsonl export: one gzip file per shard, parquet-identical order") {
    val docs = table("documents").select("doc_id", "text", "lang")
    val (dj, dp) = (tmp(), tmp())
    ShardExport.exportJsonl(docs, "doc_id", dj, shards = 4)
    ShardExport.exportParquet(docs, "doc_id", dp, shards = 4)
    // one .json.gz per shard dir, nothing else data-shaped
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$dj/shard=$s")
        .listFiles().filter(_.getName.endsWith(".json.gz"))
      assert(files.length == 1, s"shard $s has ${files.length} jsonl files")
    }
    // the json reader skips the _graft_manifest dir and sees the corpus
    val back = spark.read.json(dj)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").distinct().count() == docs.count())
    // within every shard the PHYSICAL line order equals the parquet
    // flavor's row order — the formats are interchangeable mid-pipeline
    (0 until 4).foreach { s =>
      val f = new java.io.File(s"$dj/shard=$s").listFiles()
        .filter(_.getName.endsWith(".json.gz")).head
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(
          new java.io.FileInputStream(f)), "UTF-8"))
      val jsonIds = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(l => """"doc_id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
        .toSeq
      in.close()
      val parquetIds = spark.read.parquet(s"$dp/shard=$s")
        .select("doc_id").as[Long].collect().toSeq
      assert(jsonIds == parquetIds, s"shard $s order diverged")
    }
    // manifest certifies the jsonl files too
    val m = ShardExport.manifest(spark, dj).collect()
    assert(m.length == 4 && m.map(_.getAs[Long]("n_rows")).sum == docs.count())
  }
}
