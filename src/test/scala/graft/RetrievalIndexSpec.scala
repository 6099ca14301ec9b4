package graft

import java.nio.file.Files

import graft.functions.RetrievalIndex
import org.apache.spark.sql.DataFrame

/** The retrieval-index maintenance contract (the RollupSpec discipline
  * for the BM25 family): store.appendDocs(write(C), B) must be
  * relation-identical to build(C ∪ B) — postings AND doclens — and the
  * BM25 scorer over the appended index must rank exactly like a rebuild.
  * q_bm25_incr carries the same proof under the DuckDB oracle gate on
  * the fixture corpus. */
class RetrievalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def postings(i: RetrievalIndex.Index): Set[(String, Long, Long)] =
    i.postings.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def doclens(i: RetrievalIndex.Index): Set[(Long, Long)] =
    i.doclens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val base = docs(
    1L -> "spark shuffles data across the cluster",
    2L -> "the cluster shuffles spark data data",
    3L -> "tokenize once feed every stage")
  private val batch = docs(
    10L -> "spark spark spark appends the batch",
    11L -> "a brand new document arrives")

  test("appendDocs ≡ rebuild: postings and doclens relation-identical") {
    val dir = Files.createTempDirectory("graft-ridx").toString
    RetrievalIndex.store.write(base, dir)
    RetrievalIndex.store.appendDocs(dir, batch)
    val appended = RetrievalIndex.read(spark, dir)
    val rebuilt = RetrievalIndex.build(base.unionAll(batch))
    assert(postings(appended) == postings(rebuilt))
    assert(doclens(appended) == doclens(rebuilt))
    // empty-token rows never enter: "w <> ''" is build's rule
    assert(!postings(appended).exists(_._1.isEmpty))
  }

  test("bm25 over the appended index ranks exactly like a rebuild") {
    val dir = Files.createTempDirectory("graft-ridx2").toString
    RetrievalIndex.store.write(base, dir)
    RetrievalIndex.store.appendDocs(dir, batch)
    val appended = RetrievalIndex.read(spark, dir)
    val a = RetrievalIndex.bm25TopDf(appended).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = RetrievalIndex.bm25TopDf(
      RetrievalIndex.build(base.unionAll(batch))).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b && a.nonEmpty)
    // the repeated-term doc must outrank on the top-df term family
    assert(a.map(_._2).contains(10L))
  }

  test("merged() is the in-memory view of what appendDocs persists") {
    val dir = Files.createTempDirectory("graft-ridx3").toString
    RetrievalIndex.store.write(base, dir)
    val stored = RetrievalIndex.read(spark, dir)
    val mem = RetrievalIndex.merged(stored, batch)
    RetrievalIndex.store.appendDocs(dir, batch)
    val disk = RetrievalIndex.read(spark, dir)
    assert(postings(mem) == postings(disk))
    assert(doclens(mem) == doclens(disk))
  }

  test("q_bm25_incr equals q_bm25 on the fixture (in-JVM oracle twin)") {
    val inc = q("q_bm25_incr").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = q("q_bm25").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc == full && inc.nonEmpty)
  }
}
