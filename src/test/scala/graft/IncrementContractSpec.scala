package graft

import org.apache.spark.sql.functions._

/** Round-11 verdict task #6: the 80/20 increment split must have ONE
  * definition (IncrementContract.isDelta) and all six maintained ≡
  * rebuilt families must split identically — a future fixture change
  * that diverged one family's base from another's would silently turn
  * its "maintained ≡ rebuilt" proof into a proof about different data.
  * Also pins the bench pre-build hook (round-11 advice #5): every
  * incremental base artifact exists after one prebuildBases call, and
  * none contains a delta id. */
class IncrementContractSpec extends SparkSpec {

  test("isDelta partitions ids disjointly and covers the corpus (~20%)") {
    val docs = table("documents").select("doc_id")
    val n = docs.count()
    val nDelta = docs.filter(IncrementContract.isDelta(col("doc_id"))).count()
    val nBase = docs.filter(!IncrementContract.isDelta(col("doc_id"))).count()
    assert(nDelta + nBase == n, "base and delta must partition the corpus")
    assert(nDelta > 0 && nBase > 0)
    assert(math.abs(nDelta.toDouble / n - 0.2) < 0.05,
      s"the arriving batch should be ~20%, got ${nDelta.toDouble / n}")
  }

  test("prebuildBases creates every family's base, each free of delta ids") {
    val builds = IncrementContract.prebuildBases(spark, sf).toMap
    assert(builds.keySet ==
      Set("dedup", "simhash", "lsh", "tokens", "grams", "retrieval",
        "tokens_compact", "retrieval_compact", "dedup_compact",
        "simhash_compact", "lsh_compact", "grams_compact"),
      s"unexpected family set: ${builds.keySet}")
    assert(builds.values.forall(_ >= 0), s"a prebuild failed: $builds")

    // every base artifact must hold ONLY standing-corpus rows — the six
    // families splitting identically is exactly this invariant under
    // the one shared predicate
    def assertNoDelta(df: org.apache.spark.sql.DataFrame, idCol: String,
                      what: String): Unit =
      assert(df.filter(IncrementContract.isDelta(col(idCol))).isEmpty,
        s"$what base artifact contains delta ids")

    def base(family: String, kind: String) =
      functions.Artifacts.path(family, kind, sf)
    assertNoDelta(spark.read.parquet(
      s"${base("tokens", "base")}/tf"), "doc_id", "tokens")
    assertNoDelta(spark.read.parquet(
      s"${base("grams", "base")}/sh3"), "doc_id", "grams")
    assertNoDelta(spark.read.parquet(
      s"${base("retr", "base")}/doclens"), "doc_id",
      "retrieval")
    assertNoDelta(spark.read.parquet(
      s"${base("dedup", "base")}/grams"), "doc_id", "dedup")
    assertNoDelta(spark.read.parquet(
      s"${base("lsh", "base")}/keys"), "id", "lsh")
    assertNoDelta(spark.read.parquet(
      s"${base("dedup", "sim")}/sigs"), "doc_id",
      "simhash")
  }
}
