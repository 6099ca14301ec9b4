package graft

import java.nio.file.Files

import graft.functions.GramStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared persisted shingle artifact (round-11): stored relations
  * must equal the inline derivations row-for-row (the oracle gate proves
  * the same through q_novelty/q_mix_knapsack/q_containment/q_span_dedup's
  * from-scratch DuckDB SQL), and per-doc appends must equal a rebuild
  * (the DocStore.appendDocs contract). */
class GramStoreSpec extends SparkSpec {

  private def assertSameRelation(a: DataFrame, b: DataFrame,
                                 what: String): Unit = {
    // multiset equality (span8 is deliberately NOT distinct)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what: stored and derived relations differ")
  }

  test("stored relations equal the inline derivations on the fixture") {
    val docs = table("documents")
    assertSameRelation(GramStore.shingles3(spark, sf),
      GramStore.buildSh3(docs), "sh3")
    assertSameRelation(GramStore.shingles3Hashed(spark, sf),
      GramStore.buildSh3h(docs), "sh3h")
    assertSameRelation(GramStore.spans8(spark, sf),
      GramStore.buildSpan8(docs), "span8")
    assertSameRelation(GramStore.grams5(spark, sf),
      GramStore.buildGram5(docs), "gram5")
    assertSameRelation(GramStore.grams2(spark, sf),
      GramStore.buildGram2(docs), "gram2")
    assert(GramStore.shingles3(spark, sf).count() > 0)
  }

  test("appendDocs ≡ rebuild for a disjoint-id batch") {
    val docs = table("documents").select("doc_id", "source", "text")
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    val path = Files.createTempDirectory("graft-grams-append").toString
    GramStore.buildSh3(base).write.parquet(s"$path/sh3")
    GramStore.buildSh3h(base).write.parquet(s"$path/sh3h")
    GramStore.buildSpan8(base).write.parquet(s"$path/span8")
    GramStore.buildGram5(base).write.parquet(s"$path/gram5")
    GramStore.buildGram2(base).write.parquet(s"$path/gram2")
    GramStore.store.appendDocs(path, delta)
    assertSameRelation(spark.read.parquet(s"$path/sh3"),
      GramStore.buildSh3(docs), "sh3 append")
    assertSameRelation(spark.read.parquet(s"$path/sh3h"),
      GramStore.buildSh3h(docs), "sh3h append")
    assertSameRelation(spark.read.parquet(s"$path/span8"),
      GramStore.buildSpan8(docs), "span8 append")
    assertSameRelation(spark.read.parquet(s"$path/gram5"),
      GramStore.buildGram5(docs), "gram5 append")
    assertSameRelation(spark.read.parquet(s"$path/gram2"),
      GramStore.buildGram2(docs), "gram2 append")
  }

  test("consumer steady state reads the artifact, not raw text") {
    // after the store exists, q_span_dedup's executed plan must scan the
    // artifact parquet — no split()/md5 gram build, no documents scan
    GramStore.spans8(spark, sf).count()
    val df = q("q_span_dedup")
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"span dedup steady state must not re-scan raw text:\n$plan")
  }

  /** Shuffle partitionings of a query's FINAL adaptive plan (node-count,
    * not plan-string grep — AQE's toString prints final + initial). */
  private def shufflesOf(name: String): Seq[String] = {
    val df = q(name)
    df.queryExecution.toRdd.count()
    graft.plans.PlanAllowlist.flatten(df.queryExecution.executedPlan)
      .collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning.toString
      }
  }

  test("bucketed projections make the grain stages exchange-free") {
    // round-12 (verdict task #4): sh3 bucketed on sh, span8 on span_h —
    // the consumers' grain-level aggregates/joins must not reshuffle the
    // stored side.
    // q_span_dedup: span-grain agg + join back both cluster on span_h;
    // the only shuffle left is the per-doc aggregate (+ nothing else)
    val spanShuffles = shufflesOf("q_span_dedup")
    assert(!spanShuffles.exists(_.contains("hashpartitioning(span_h")),
      s"span_h stages must ride the stored bucketing: $spanShuffles")
    assert(spanShuffles.count(_ != "SinglePartition") <= 2,
      s"q_span_dedup should shuffle only for the per-doc agg and the " +
        s"output sort: $spanShuffles")
    // q_novelty: the first-occurrence aggregate clusters on sh
    val novShuffles = shufflesOf("q_novelty")
    assert(!novShuffles.exists(_.contains("hashpartitioning(sh")),
      s"the sh grain stage must ride the stored bucketing: $novShuffles")
  }
}
