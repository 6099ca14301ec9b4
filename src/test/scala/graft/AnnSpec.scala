package graft

import graft.functions.{Ann, CosineLsh, IvfIndex, NativeCosine, ProductQuantizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified ANN entry point (round-8 verdict task #1): routing decisions,
  * model persistence round-trips, self-contained on-disk indexes, and
  * result agreement between the auto routes and their exact baselines. */
class AnnSpec extends SparkSpec {

  private lazy val e = table("embeddings")
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("routing: corpus size picks brute vs IVF; the index probe wins") {
    assert(Ann.routeTopK(spark, 500L, None) == Ann.BruteRoute)
    assert(Ann.routeTopK(spark, Ann.BruteTopKMax, None) == Ann.BruteRoute)
    assert(Ann.routeTopK(spark, Ann.BruteTopKMax + 1, None) == Ann.IvfRoute)
    assert(Ann.routePairs(Ann.BrutePairsMax) == Ann.BruteRoute)
    assert(Ann.routePairs(Ann.BrutePairsMax + 1) == Ann.LshPairsRoute)
    // a directory that isn't an index fails loudly, not silently brute
    val bogus = tmp("graft_notanindex_")
    intercept[IllegalArgumentException] {
      Ann.routeTopK(spark, 500L, Some(bogus))
    }
  }

  test("PQ + IVF model save/load round-trips exactly") {
    val pq = ProductQuantizer.train(e, "embedding", m = 8, k = 16)
    val dir = tmp("graft_pqmodel_")
    ProductQuantizer.saveModel(spark, pq, dir)
    val pq2 = ProductQuantizer.loadModel(spark, dir)
    assert(pq2.m == pq.m && pq2.k == pq.k && pq2.subDim == pq.subDim)
    assert(pq2.codebooks.flatten.flatten.toSeq ==
      pq.codebooks.flatten.flatten.toSeq, "codebooks drifted in transit")
    val ivf = IvfIndex.train(e, "embedding", k = 8)
    IvfIndex.saveModel(spark, ivf, dir)
    val ivf2 = IvfIndex.loadModel(spark, dir)
    assert(ivf2.centroids.flatten.toSeq == ivf.centroids.flatten.toSeq)
  }

  test("a written IVF-PQ index is self-contained: open by path, route, search") {
    val pq = ProductQuantizer.train(e, "embedding", m = 8, k = 16)
    val ivf = IvfIndex.train(e, "embedding", k = 8)
    val dir = tmp("graft_pqidx_")
    ProductQuantizer.writeIndex(e, "vec_id", "embedding", pq, ivf, dir)
    assert(Ann.routeTopK(spark, 0L, Some(dir)) == Ann.IndexedPqRoute)
    val probes = e.filter(col("vec_id") < 5)
    // by-path open == explicit-models open, row for row
    val byPath = Ann.topK(e, probes, "vec_id", "embedding", k = 5,
      indexPath = Some(dir), nProbe = 4)
    val manual = ProductQuantizer.topKIndexed(spark, dir, e, probes,
      "vec_id", "embedding", pq, ivf, k = 5, nProbe = 4, rerank = 25)
    assert(byPath.exceptAll(manual).isEmpty &&
      manual.exceptAll(byPath).isEmpty,
      "self-contained open must reproduce the explicit-model search")
  }

  test("a written IVF index (no PQ) routes to indexed-ivf") {
    val ivf = IvfIndex.train(e, "embedding", k = 8)
    val dir = tmp("graft_ivfidx_")
    IvfIndex.writeIndex(e, "vec_id", "embedding", ivf, dir)
    assert(Ann.routeTopK(spark, 0L, Some(dir)) == Ann.IndexedIvfRoute)
    val probes = e.filter(col("vec_id") < 5)
    val rows = Ann.topK(e, probes, "vec_id", "embedding", k = 5,
      indexPath = Some(dir), nProbe = 8) // all cells probed -> exact
    assert(rows.count() == 5 * 5)
  }

  test("small corpus: Ann.topK IS the exact brute scan") {
    val probes = e.filter(col("vec_id") < 10)
    val auto = Ann.topK(e, probes, "vec_id", "embedding", k = 3)
    val brute = Ann.bruteTopK(e, probes, "vec_id", "embedding", k = 3)
    assert(auto.exceptAll(brute).isEmpty && brute.exceptAll(auto).isEmpty)
    // and the brute scan agrees with an independent formulation (the
    // q_knn_join shape) on ids
    NativeCosine.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("c").desc, col("vec_id").asc)
    val ref = e.crossJoin(broadcast(probes
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function(NativeCosine.name, col("embedding"), col("p")).as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("probe_id", "rn", "vec_id")
    assert(auto.select("probe_id", "rn", "vec_id").exceptAll(ref).isEmpty)
  }

  test("small corpus: Ann.nearDupPairs IS exact all-pairs") {
    val auto = Ann.nearDupPairs(e, "vec_id", "embedding", threshold = 0.4)
    val exact = Ann.brutePairs(e, "vec_id", "embedding", threshold = 0.4)
    assert(auto.exceptAll(exact).isEmpty && exact.exceptAll(auto).isEmpty)
    assert(exact.count() > 0, "fixture must contain pairs above 0.4")
  }

  test("forced-large corpus routes pairs through banded LSH, a recall subset") {
    // corpusCount is the caller's stats — overriding it forces the LSH
    // route on the small fixture so the wiring is exercised end-to-end
    val viaLsh = Ann.nearDupPairs(e, "vec_id", "embedding", threshold = 0.4,
      corpusCount = Some(Ann.BrutePairsMax + 1), highRecall = true)
    val exact = Ann.brutePairs(e, "vec_id", "embedding", threshold = 0.4)
      .select("a_id", "b_id")
    val found = viaLsh.select("a_id", "b_id")
    assert(found.exceptAll(exact).isEmpty,
      "LSH route must never invent a pair below threshold")
    val recall = found.join(exact, Seq("a_id", "b_id"), "left_semi")
      .count().toDouble / math.max(1L, exact.count())
    assert(recall >= 0.8, f"banded-LSH recall on the fixture: $recall%.3f")
  }

  test("forced-large corpus routes topK through IVF; all-cells probe is exact") {
    // forcing corpusCount sizes 16 cells onto the 500-vector fixture —
    // a shape the measured nProbe=6 recall (0.96 at a REAL 20k corpus,
    // SCALE.md) does not transfer to, so the fixture-level assertion is
    // the exactness limit: probing every cell must reproduce brute force
    // row for row (routing + wiring, zero recall slack). The measured
    // operating-point recall at corpus scale is recorded in SCALE.md.
    val probes = e.filter(col("vec_id") < 10)
    val auto = Ann.topK(e, probes, "vec_id", "embedding", k = 5,
      corpusCount = Some(Ann.BruteTopKMax + 1), nProbe = 16)
      .select("probe_id", "rn", "vec_id")
    val brute = Ann.bruteTopK(e, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "rn", "vec_id")
    assert(auto.exceptAll(brute).isEmpty && brute.exceptAll(auto).isEmpty,
      "IVF with every cell probed must equal the exact scan")
  }
}
