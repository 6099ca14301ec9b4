package graft.operators

import graft.QueryModule
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 M — retrieval/model EVALUATION metrics over the labeled
  * embeddings table: after the engine builds indexes (q_inverted_index,
  * IvfIndex, PQ) and retrieves neighbors, these score HOW GOOD the
  * retrieval is — the eval harness a training-data pipeline runs on every
  * index rebuild:
  *
  *   - q_ndcg: NDCG@10 + precision@10 per probe, relevance = label match
  *     [Järvelin & Kekäläinen 2002]. DCG and ideal-DCG positions are
  *     scaled to BIGINTs so the metric never depends on float summation
  *     order; the ideal ranking is derived in-relation (first m = min(10,
  *     |same-label| − 1) positions relevant).
  *   - q_centroid_confusion: nearest-centroid classification audit — per
  *     label a mean-vector centroid (the q_vector_mean scaled-integer
  *     idiom), every vector assigned to its best centroid by cosine
  *     (norms constant per label, so scaled-integer dot products order
  *     identically), and the (true, predicted) confusion counts.
  *
  * Scale notes (100 TB lens):
  *   - q_ndcg joins a 10-row broadcast probe set against the corpus
  *     (the q_knn_join shape — allowlisted); everything after the top-10
  *     window is KB-sized.
  *   - q_centroid_confusion is two relational passes at (vec × dim)
  *     grain: centroid build (label×dim partial aggregate — alphabet ×
  *     64 post-shuffle) and assignment (dim-grain join against the
  *     broadcast 3×64 centroid relation, collapsed map-side to
  *     vec × label). No driver math, no UDF — the classifier IS a plan.
  */
object EvalQueries extends QueryModule {

  private def cosine(a: String, b: String): Column =
    call_function(graft.functions.NativeCosine.name, col(a), col(b))

  private def duckCosine(a: String, b: String): String =
    s"""(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (SQRT(LIST_SUM(LIST_TRANSFORM($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |  * SQRT(LIST_SUM(LIST_TRANSFORM($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
      .stripMargin

  /** The deterministic banded-hyperplane LSH machinery shared by
    * q_lsh_eval (recall/precision audit) and q_lsh_persist (incremental
    * index maintenance): 40 md5-derived integer hyperplanes, 4 bands ×
    * 10 bits, 1-bit multi-probe — everything integer arithmetic so
    * DuckDB derives the identical keys bit-for-bit. */
  private val LshBits = 40
  private val LshBandSz = 10

  /** Scaled-integer grid (id, pos, iv) of the bounded audit block. */
  private def lshIvGrid(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 1000)
      .select(col("vec_id").cast("long").as("id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("id"), col("pos"),
        floor(col("v").cast("double") * 10000 + lit(0.5)).cast("long")
          .as("iv"))

  /** (id, band, bk) banded sign-LSH keys of an (id, pos, iv) relation —
    * a PER-ID function (the plane matrix is fixed), which is what makes
    * the stored index appendable: a delta's keys compute alone. */
  private def lshBandKeys(s: org.apache.spark.sql.SparkSession,
                          ex: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val coef = s.range(0, LshBits.toLong)
      .select(col("id").cast("int").as("j"))
      .crossJoin(s.range(0, 64).select(col("id").cast("int").as("cpos")))
      .select(col("j"), col("cpos"),
        (hv48(concat(lit("c"), col("j").cast("string"), lit(":"),
          col("cpos").cast("string"))) % 2001 - 1000).as("w"))
    ex.join(broadcast(coef), col("pos") === col("cpos"))
      .groupBy("id", "j")
      .agg((sum(col("w") * col("iv")) > 0).as("b"))
      .withColumn("band", expr(s"j div $LshBandSz"))
      .groupBy("id", "band")
      .agg(sum(when(col("b"), expr(
        s"SHIFTLEFT(CAST(1 AS BIGINT), CAST(j % $LshBandSz AS INT))"))
        .otherwise(0L)).as("bk"))
  }

  /** (idb, band, pk) probe keys: the exact key plus every one-bit flip,
    * so an equi-join on (band, pk = bk) finds every band pair within
    * hamming ≤ 1. The flip set is symmetric under xor, so probing from
    * ONE side of a pair decides the same condition as probing the
    * other. */
  private def lshProbes(keys: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    keys.select(col("id").as("idb"), col("band"),
        explode(array((lit(-1) +: (0 until LshBandSz).map(lit(_))): _*))
          .as("flip"), col("bk"))
      .select(col("idb"), col("band"),
        when(col("flip") < 0, col("bk")).otherwise(expr(
          s"CAST(bk AS BIGINT) ^ SHIFTLEFT(CAST(1 AS BIGINT), CAST(flip AS INT))"))
          .as("pk"))

  /** q_lsh_persist's delta predicate — the shared IncrementContract
    * split over the embedding id. */
  private def lshIsDelta = graft.IncrementContract.isDelta(col("id"))

  /** Write a (keys, pairs) banded-LSH artifact for the audit-block rows
    * matching `pred` — shared by the increment base and the compaction
    * proof's full-block artifact. */
  private def writeLshArtifact(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String,
      pred: org.apache.spark.sql.Column): Unit = {
    val keys = graft.functions.Materialize(
      lshBandKeys(s, lshIvGrid(s, dir).filter(pred)))
    keys.write.mode("overwrite").parquet(s"$path/keys")
    val probes = lshProbes(keys)
    keys.as("k").join(probes.as("p"),
        col("k.band") === col("p.band") && col("k.bk") === col("p.pk") &&
          col("k.id") < col("p.idb"))
      .select(col("k.id").as("ia"), col("p.idb").as("ib"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/pairs")
  }

  /** Write-once persisted LSH index base for q_lsh_persist: the standing
    * 80% of the audit block stores its band keys and its verified
    * candidate-pair list once (per-fixture, content-keyed tag — the
    * ensureIncBase discipline). */
  private[graft] def ensureLshBase(s: org.apache.spark.sql.SparkSession,
                                   dir: String): String =
    graft.functions.Artifacts.ensure(
        graft.functions.Artifacts.path("lsh", "base", dir),
        "pairs/_SUCCESS") { path =>
      writeLshArtifact(s, dir, path, !lshIsDelta)
    }

  /** Build-then-compact artifact for the q_lsh_compact proof: the FULL
    * audit block's (keys, pairs) artifact takes a takedown of the
    * IncrementContract removal ids — their band-key rows and every
    * candidate pair touching them rewrite out (touched files only;
    * band-key candidacy is pairwise, so surviving pairs are untouched).
    * Idempotent at every step; `compacted` marks done. */
  private[graft] def ensureLshCompact(s: org.apache.spark.sql.SparkSession,
                                      dir: String): String =
    graft.functions.Artifacts.ensure(
        graft.functions.Artifacts.path("lsh", "cmp", dir),
        graft.functions.Artifacts.Compacted) { path =>
      if (!new java.io.File(s"$path/pairs/_SUCCESS").exists())
        writeLshArtifact(s, dir, path, lit(true))
      val rm = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .filter(graft.IncrementContract.isRemoved(col("vec_id")))
        .select(col("vec_id").cast("long").as("id"))
      graft.functions.CompactStore.compactRelation(s"$path/keys",
        "id", rm, None)
      graft.functions.CompactStore.compactRelation(s"$path/pairs",
        "ia", rm.select(col("id").as("ia")), None)
      graft.functions.CompactStore.compactRelation(s"$path/pairs",
        "ib", rm.select(col("id").as("ib")), None)
    }

  override def queries: Map[String, Q] = Map(
    // NDCG@10 and P@10 per probe, relevance = same label.
    "q_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("pid"), col("embedding").as("p"),
          col("label").as("plabel"))
      val top = e.join(broadcast(probes), col("vec_id") =!= col("pid"))
        .select(col("pid"), col("plabel"), col("vec_id"), col("label"),
          cosine("embedding", "p").as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("pid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      val labelCnt = e.groupBy(col("label").as("plabel"))
        .agg(count(lit(1)).as("nlab"))
      top.join(broadcast(labelCnt), Seq("plabel"))
        .select(col("pid"), col("rn"),
          when(col("label") === col("plabel"), 1L).otherwise(0L).as("rel"),
          least(lit(10L), col("nlab") - 1).as("m"))
        .select(col("pid"), col("rel"),
          floor(col("rel").cast("double") / log2(col("rn") + 1) * 1e12
            + lit(0.5)).cast("long").as("gain"),
          when(col("rn") <= col("m"),
            floor(lit(1.0) / log2(col("rn") + 1) * 1e12 + lit(0.5))
              .cast("long")).otherwise(0L).as("igain"))
        .groupBy("pid")
        .agg(sum(col("rel")).as("n_rel"), sum(col("gain")).as("dcg"),
          sum(col("igain")).as("idcg"))
        .select(col("pid").as("probe_id"), col("n_rel"),
          pround4(when(col("idcg") > 0,
            col("dcg").cast("double") / col("idcg"))).as("ndcg"),
          pround4(col("n_rel").cast("double") / 10).as("p_at_10"))
        .orderBy("probe_id")
    }),

    // ROC-AUC of "cosine to probe 0" as a same-label classifier score,
    // via the Mann-Whitney rank-sum on a DISTRIBUTED two-phase rank
    // (functions/RangeRank) — no single-partition window anywhere in the
    // plan. Scores are exact scaled integers and the tie-break (vec_id)
    // is total, so the ordinal rank formula is engine-identical.
    "q_auc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p"), col("label").as("plabel"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          floor(cosine("embedding", "p") * 1e12 + lit(0.5))
            .cast("long").as("sc"),
          when(col("label") === col("plabel"), 1L).otherwise(0L).as("pos"))
      graft.functions.RangeRank
        .withRank(cand, Seq(col("sc"), col("vec_id")), "r", pin = true)
        .agg(sum(col("pos")).as("n_pos"),
          sum(lit(1L) - col("pos")).as("n_neg"),
          sum(col("pos") * col("r")).as("sr"))
        .select(col("n_pos"), col("n_neg"),
          // 2U / 2n⁺n⁻ keeps every term BIGINT until the one division
          pround4(when(col("n_pos") > 0 && col("n_neg") > 0,
            (col("sr") * 2 - col("n_pos") * (col("n_pos") + 1))
              .cast("double") / (col("n_pos") * col("n_neg") * 2)))
            .as("auc"))
    }),

    // Dedup-pipeline self-audit: on a BOUNDED doc block, compare the
    // banded-MinHash candidate set (k=8 signatures, 4 bands × 2 rows,
    // md5-derived so both engines draw identical hashes) against exact
    // shingle-Jaccard ≥ 0.5 ground truth → candidate precision / recall /
    // F1. The fixture-scale twin of the ANN / SimHash recall ladders in
    // SCALE.md: the ORACLE-CHECKED proof that band collision finds
    // what exact Jaccard finds. The block (doc_id < 1000, 7-28 true pairs per SF) bounds the
    // exact-pair side; production recall at scale is recorded in
    // SCALE.md, this pins the MECHANISM.
    "q_minhash_eval" -> ((s, dir) => {
      val sh = graft.functions.Materialize(
        t(s, dir, "documents")
          .filter(col("doc_id") < 1000)
          .repartition(col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 3)
          // explode_OUTER: avoids the inferred-filter re-evaluation of
          // the shingle transform (DedupQueries.simhashSigs); the size
          // guard makes empty shingle arrays impossible
          .select(col("doc_id"), explode_outer(
            graft.functions.WordGrams.grams(col("toks"), 3, distinct = false))
            .as("sh"))
          .distinct())
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
      // exact ground truth: 2·|∩| ≥ |∪| (jaccard ≥ 0.5, integer compare)
      val inter = sh.select(col("doc_id").as("a"), col("sh"))
        .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
      val truePairs = inter
        .join(cnt.select(col("doc_id").as("a"), col("c").as("ca")), Seq("a"))
        .join(cnt.select(col("doc_id").as("b"), col("c").as("cb")), Seq("b"))
        .filter(col("i") * 3 >= col("ca") + col("cb")) // jac ≥ ½ ⇔ 3i ≥ ca+cb
        .select(col("a"), col("b"))
      // banded minhash: m_j = min md5-48(j:shingle); band key = 2 rows
      val sigs = sh.select(col("doc_id"),
          explode(sequence(lit(0), lit(7))).as("j"),
          col("sh"))
        .groupBy("doc_id", "j")
        .agg(min(hv48(concat(col("j").cast("string"), lit(":"), col("sh"))))
          .as("m"))
        .withColumn("band", expr("j div 2"))
        .groupBy("doc_id", "band")
        .agg(min(when(col("j") % 2 === 0, col("m"))).as("m0"),
          min(when(col("j") % 2 === 1, col("m"))).as("m1"))
      val cand = sigs.select(col("doc_id").as("a"), col("band"),
          col("m0"), col("m1"))
        .join(sigs.select(col("doc_id").as("b"), col("band"),
          col("m0"), col("m1")), Seq("band", "m0", "m1"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      val hits = cand.join(truePairs, Seq("a", "b")).select("a", "b")
      val nt = truePairs.agg(count(lit(1)).as("n_true"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val nh = hits.agg(count(lit(1)).as("n_hit"))
      nt.crossJoin(nc).crossJoin(nh)
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          pround4(when(col("n_cand") > 0,
            col("n_hit").cast("double") / col("n_cand"))).as("precision"),
          pround4(when(col("n_true") > 0,
            col("n_hit").cast("double") / col("n_true"))).as("recall"),
          pround4(when(col("n_cand") + col("n_true") > 0,
            col("n_hit").cast("double") * 2
              / (col("n_cand") + col("n_true")))).as("f1"))
    }),

    // Embedding-LSH self-audit (the q_minhash_eval discipline for the
    // CosineLsh family): deterministic PLANTED near-duplicates — each
    // vec_id < 100 gets a twin jittered by md5-drawn integer noise
    // (±1000 on the ×1e4 scaled grid → cosine ≈ 0.88-0.94, the operating
    // point sign-LSH banding is built for; the fixture's natural pairs
    // top out at cos ≈ 0.5, where NO banding can separate signal from an
    // isotropic corpus) — then banded random-hyperplane candidates
    // (40 md5-derived ±-integer planes, 4 bands × 10 bits, 1-bit
    // multi-probe) are graded against the EXACT cosine ≥ 0.85 ground
    // truth. Everything is integer arithmetic end-to-end — scaled-int
    // vectors, integer plane weights, and the threshold compare
    // dot² · 10⁴ ≥ 7225 · |a|² · |b|² in exact decimal — so both engines
    // compute the identical candidate set, truth set, and metrics.
    // Measured at sf0.01: recall 0.97 at ~5% pair selectivity. The
    // all-pairs truth join is pos-equi (64-key fan-out) on the bounded
    // audit block — production candidates at corpus scale come from the
    // banding this query grades (CosineLsh.nearDuplicatePairs).
    "q_lsh_eval" -> ((s, dir) => {
      // scaled-integer grid of the bounded block: (id, pos, iv)
      val base = lshIvGrid(s, dir)
      val planted = base.filter(col("id") < 100)
        .select((col("id") + 1000000L).as("id"), col("pos"),
          (col("iv") + hv48(concat(lit("n"), col("id").cast("string"),
            lit(":"), col("pos").cast("string"))) % 2001 - 1000).as("iv"))
      val ex = graft.functions.Materialize(base.unionAll(planted))
      // ARRAY-grain truth vectors: the pos-grain formulation shuffled
      // 64 × n²/2 ≈ 38M (pos, iv) rows through a join + 600k-group
      // aggregate — per-row exchange overhead dominated the whole query
      // (7.5 s, the registry's heaviest at sf0.1). The same dot products
      // as ~600k per-PAIR integer HOF folds over 64-long arrays cost a
      // bounded nested-loop over the ≤1100-vector audit block instead;
      // norms ride along, so the block relation is (id, ivs, na) — one
      // narrow row per vector. repartition spreads the streamed side so
      // the BNLJ parallelizes (the block relation is otherwise 1 task).
      // PRECONDITION (fixture-pinned in EvalSpec): every vector has the
      // SAME dense position set 0..d-1 — posexplode emits all positions,
      // so equal-length ivs arrays are position-aligned and the array
      // dot equals the old pos-equijoin dot over shared positions. A
      // ragged corpus would make NativeDot return NULL on a length
      // mismatch (pair silently dropped by the threshold) or misalign
      // equal-length vectors with different pos sets — re-densify (or
      // revert to the pos-grain join) before reusing this rewrite there.
      val vecs = graft.functions.Materialize(ex.repartition(col("id"))
        .groupBy("id")
        .agg(array_sort(collect_list(struct(col("pos"), col("iv"))))
          .as("pv"))
        // ifnull makes the lambda non-nullable → ArrayType(..., containsNull
        // = false), so NativeDot emits its unguarded hot loop (iv is never
        // null here — the coalesce is type-level only)
        .select(col("id"), expr("transform(pv, s -> ifnull(s.iv, 0L))").as("ivs"),
          expr("aggregate(pv, 0L, (acc, s) -> acc + s.iv * s.iv)")
            .as("nn")))
      // exact ground truth, integer-exact threshold: cos ≥ 0.85 ⟺
      // dot > 0 ∧ dot²·10⁴ ≥ 7225·na·nb (decimal(38) keeps ~1e24 exact).
      // The threshold sits behind the per-pair aggregate (pairs unique ⇒
      // min is identity) so the filter can't push the HOF dot into the
      // BNLJ condition, where it would run on all n² orderings instead
      // of once per kept pair (the q_editdist_pairs pushdown hazard).
      val dots = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"),
          // native codegen Σ aᵢ·bᵢ (exact BIGINT): the HOF zip_with +
          // aggregate twin runs two interpreted lambdas per element —
          // measured 6 s over the 600k-pair block vs a primitive loop
          call_function(graft.functions.NativeDot.name,
            col("a.ivs"), col("b.ivs")).as("d"),
          col("a.nn").as("nna"), col("b.nn").as("nnb"))
        .groupBy("ia", "ib")
        .agg(min(col("d")).as("dot"), min(col("nna")).as("na"),
          min(col("nnb")).as("nb"))
      // pin the tiny pair list: BOTH consumers (the count + the hits
      // join) would otherwise re-run the all-pairs dot-product pass
      val truePairs = graft.functions.Materialize(dots
        .filter(col("dot") > 0 &&
          col("dot").cast("decimal(38,0)") * col("dot") * 10000 >=
            col("na").cast("decimal(38,0)") * col("nb") * 7225)
        .select(col("ia"), col("ib")))
      // md5-derived integer hyperplanes, shared bit-for-bit with DuckDB
      val keys = graft.functions.Materialize(lshBandKeys(s, ex))
      // 1-bit multi-probe: the probe side emits the exact key plus every
      // one-bit flip, so a candidate = any band within hamming ≤ 1
      val probes = lshProbes(keys)
      // same two-consumer pinning for the candidate pair list
      val cand = graft.functions.Materialize(keys.as("k").join(probes.as("p"),
          col("k.band") === col("p.band") && col("k.bk") === col("p.pk") &&
            col("k.id") < col("p.idb"))
        .select(col("k.id").as("ia"), col("p.idb").as("ib"))
        .distinct())
      val hits = cand.join(truePairs, Seq("ia", "ib")).select("ia", "ib")
      // vector count off the materialized one-row-per-vector relation —
      // the pre-rewrite norm aggregate existed only to be counted here
      val nv = vecs.agg(count(lit(1)).as("n_vecs"))
      val nt = truePairs.agg(count(lit(1)).as("n_true"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val nh = hits.agg(count(lit(1)).as("n_hit"))
      nv.crossJoin(nt).crossJoin(nc).crossJoin(nh)
        .select(col("n_vecs"), col("n_true"), col("n_cand"), col("n_hit"),
          pround4(when(col("n_cand") > 0,
            col("n_hit").cast("double") / col("n_cand"))).as("precision"),
          pround4(when(col("n_true") > 0,
            col("n_hit").cast("double") / col("n_true"))).as("recall"),
          // guarded like precision/recall: on an empty/1-vector corpus
          // Spark's x/0 is NULL but DuckDB's DOUBLE/0 is inf — make both
          // engines agree on NULL
          pround4(when(col("n_vecs") > 1, col("n_cand").cast("double") * 2
            / (col("n_vecs") * (col("n_vecs") - 1)))).as("selectivity"))
    }),

    // INCREMENTAL maintenance of the banded-LSH candidate-pair relation,
    // under the oracle gate (round-11 — the q_simhash_persist discipline
    // applied to the vector-LSH family, closing the last sketch family
    // without an oracle-gated maintained ≡ rebuilt proof): the standing
    // 80% of the audit block persists its band keys and verified
    // candidate list once; the measured operation is the ARRIVAL of the
    // remaining 20% — key ONLY the delta (band keys are per-id functions
    // of the fixed plane model, the CosineLsh.StoredIndex contract),
    // equi-probe the stored keys for cross candidates plus the
    // intra-delta self-join, and union onto the stored pairs. The oracle
    // derives ALL keys from scratch and emits the full candidate set, so
    // the hash match proves maintained ≡ rebuilt. Base-base pairs never
    // recompute: band-key candidacy is a function of the two ids' keys
    // alone, so the base-only build's pair list IS the full relation's
    // base-base subset.
    "q_lsh_persist" -> ((s, dir) => {
      val path = ensureLshBase(s, dir)
      val baseKeys = s.read.parquet(s"$path/keys")
      val basePairs = s.read.parquet(s"$path/pairs")
      val deltaKeys = graft.functions.Materialize(
        lshBandKeys(s, lshIvGrid(s, dir).filter(lshIsDelta)))
      val dProbes = lshProbes(deltaKeys)
      // probing from the delta side alone decides hamming ≤ 1 for every
      // cross pair (the flip set is xor-symmetric — see lshProbes);
      // base/delta ids are disjoint, so least/greatest orders the pair
      val cross = baseKeys.as("k").join(dProbes.as("p"),
          col("k.band") === col("p.band") && col("k.bk") === col("p.pk"))
        .select(least(col("k.id"), col("p.idb")).as("ia"),
          greatest(col("k.id"), col("p.idb")).as("ib"))
      val intra = deltaKeys.as("k").join(dProbes.as("p"),
          col("k.band") === col("p.band") && col("k.bk") === col("p.pk") &&
            col("k.id") < col("p.idb"))
        .select(col("k.id").as("ia"), col("p.idb").as("ib"))
      basePairs.unionByName(cross.unionAll(intra).distinct())
        .orderBy("ia", "ib")
    }),

    // COMPACTED banded-LSH candidates: the delete proof for the vector
    // index family (round-12; completes delete support across every
    // sketch family). The full audit block's (keys, pairs) artifact
    // takes a takedown of the isRemoved ids — key rows and every pair
    // touching them rewrite out, touched files only. The oracle
    // re-derives every surviving id's keys and the full candidate set
    // FROM SCRATCH over the post-takedown block; band-key candidacy is
    // pairwise, so the surviving pairs must match exactly. Pre-built by
    // the bench driver; re-runs are pure artifact reads.
    "q_lsh_compact" -> ((s, dir) => {
      val path = ensureLshCompact(s, dir)
      s.read.parquet(s"$path/pairs").orderBy("ia", "ib")
    }),

    // Calibration/reliability curve: scores bucketed into rank deciles
    // (integer arithmetic on the SAME distributed rank as q_auc), per
    // decile the positive rate and mean score — "do higher cosines mean
    // higher same-label probability, monotonically?"
    "q_reliability" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p"), col("label").as("plabel"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          floor(cosine("embedding", "p") * 1e12 + lit(0.5))
            .cast("long").as("sc"),
          when(col("label") === col("plabel"), 1L).otherwise(0L).as("pos"))
      val ranked = graft.functions.RangeRank
        .withRank(cand, Seq(col("sc"), col("vec_id")), "r", pin = true)
      // count from the PINNED ranked relation — aggregating `cand` here
      // would re-run the whole cosine-scoring corpus pass a second time
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked
        .crossJoin(broadcast(tot))
        .select(col("sc"), col("pos"),
          expr("((r - 1) * 10) div n").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_bucket"), sum(col("pos")).as("n_pos"),
          sum(col("sc")).as("ssc"))
        .select(col("decile"), col("n_bucket"), col("n_pos"),
          pround4(col("n_pos").cast("double") / col("n_bucket"))
            .as("pos_rate"),
          pround4(col("ssc").cast("double") / col("n_bucket") / 1e12)
            .as("mean_cos"))
        .orderBy("decile")
    }),

    // Nearest-centroid confusion matrix over the labeled embeddings.
    "q_centroid_confusion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ex = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      // centroid mean per (label, pos): exact scaled-BIGINT sum, two
      // pinned divisions (the q_vector_mean discipline)
      val cent = graft.functions.Materialize(
        ex.groupBy(col("label").as("clabel"), col("pos"))
          .agg(((sum(floor(col("v").cast("double") * 10000 + lit(0.5))
            .cast("long")).cast("double") / 10000) / count(lit(1)))
            .as("mv")))
      val cnorm = cent.groupBy("clabel")
        .agg(sum(floor(col("mv") * col("mv") * 1e12 + lit(0.5))
          .cast("long")).as("cn"))
      val dots = ex.join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(floor(col("v").cast("double") * col("mv") * 1e8 + lit(0.5))
          .cast("long")).as("dot"))
      val pred = dots.join(broadcast(cnorm), Seq("clabel"))
        .select(col("vec_id"), col("label"), col("clabel"),
          (col("dot").cast("double") / sqrt(col("cn").cast("double")))
            .as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id")
            .orderBy(col("score").desc, col("clabel"))))
        .filter(col("rn") === 1)
      pred.groupBy(col("label").as("true_label"),
          col("clabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    })
  )

  /** From-scratch banded-LSH candidate pairs over the audit-block rows
    * matching `where` — shared by q_lsh_persist (full block) and
    * q_lsh_compact (post-takedown block): the oracle derives EVERY
    * surviving id's keys and the complete candidate set, so a hash
    * match proves the maintained/compacted artifact exactly. */
  private def lshPairsSql(where: String): String = {
    val coefHv = sqlHv48(
      "md5('c' || CAST(j AS VARCHAR) || ':' || CAST(cpos AS VARCHAR))")
    s"""WITH ex AS (
       |  SELECT CAST(vec_id AS BIGINT) AS id, CAST(i - 1 AS INT) AS pos,
       |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
       |      AS BIGINT) AS iv
       |  FROM embeddings CROSS JOIN RANGE(1, 65) t(i)
       |  WHERE $where),
       |coef AS (SELECT t.j, u.cpos, ($coefHv) % 2001 - 1000 AS w
       |  FROM RANGE(0, 40) t(j) CROSS JOIN RANGE(0, 64) u(cpos)),
       |bits AS (SELECT id, j, SUM(w * iv) > 0 AS b
       |  FROM ex JOIN coef ON pos = cpos GROUP BY id, j),
       |keyz AS (SELECT id, j // 10 AS band,
       |    CAST(SUM(CASE WHEN b THEN (CAST(1 AS BIGINT) << CAST(j % 10 AS INT))
       |      ELSE 0 END) AS BIGINT) AS bk
       |  FROM bits GROUP BY id, j // 10),
       |probes AS (SELECT id AS idb, band,
       |    CASE WHEN f < 0 THEN bk
       |      ELSE xor(bk, CAST(1 AS BIGINT) << CAST(f AS INT)) END AS pk
       |  FROM keyz CROSS JOIN RANGE(-1, 10) r(f))
       |SELECT DISTINCT k.id AS ia, p.idb AS ib
       |FROM keyz k JOIN probes p
       |  ON k.band = p.band AND k.bk = p.pk AND k.id < p.idb
       |ORDER BY ia, ib""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "q_ndcg" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS pid, embedding AS p, label AS plabel
         |  FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT pr.pid, pr.plabel, e.vec_id, e.label,
         |    ${duckCosine("e.embedding", "pr.p")} AS cos
         |  FROM embeddings e CROSS JOIN probes pr
         |  WHERE e.vec_id <> pr.pid),
         |top AS (
         |  SELECT * FROM (
         |    SELECT pid, plabel, vec_id, label, cos,
         |      ROW_NUMBER() OVER (PARTITION BY pid
         |        ORDER BY cos DESC, vec_id) AS rn
         |    FROM scored)
         |  WHERE rn <= 10),
         |lc AS (SELECT label AS plabel, COUNT(*) AS nlab
         |  FROM embeddings GROUP BY label),
         |g AS (
         |  SELECT t.pid, t.rn,
         |    CASE WHEN t.label = t.plabel THEN 1 ELSE 0 END AS rel,
         |    LEAST(10, lc.nlab - 1) AS m
         |  FROM top t JOIN lc ON t.plabel = lc.plabel),
         |terms AS (
         |  SELECT pid, rel,
         |    CAST(FLOOR(CAST(rel AS DOUBLE) / LOG2(rn + 1) * 1e12 + 0.5)
         |      AS BIGINT) AS gain,
         |    CASE WHEN rn <= m THEN
         |      CAST(FLOOR(1.0 / LOG2(rn + 1) * 1e12 + 0.5) AS BIGINT)
         |      ELSE 0 END AS igain
         |  FROM g)
         |SELECT pid AS probe_id, CAST(SUM(rel) AS BIGINT) AS n_rel,
         |  ${sqlRound4(
             "CASE WHEN SUM(igain) > 0 THEN " +
             "CAST(SUM(gain) AS DOUBLE) / CAST(SUM(igain) AS BIGINT) END")}
         |    AS ndcg,
         |  ${sqlRound4("CAST(SUM(rel) AS DOUBLE) / 10")} AS p_at_10
         |FROM terms GROUP BY pid ORDER BY probe_id""".stripMargin,

    "q_auc" ->
      s"""WITH probe AS (
         |  SELECT embedding AS p, label AS plabel
         |  FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id,
         |    CAST(FLOOR(${duckCosine("e.embedding", "pr.p")} * 1e12 + 0.5)
         |      AS BIGINT) AS sc,
         |    CASE WHEN e.label = pr.plabel THEN 1 ELSE 0 END AS pos
         |  FROM embeddings e CROSS JOIN probe pr
         |  WHERE e.vec_id <> 0),
         |rk AS (
         |  SELECT pos, ROW_NUMBER() OVER (ORDER BY sc, vec_id) AS r
         |  FROM cand)
         |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
         |  ${sqlRound4(
             "CASE WHEN SUM(pos) > 0 AND SUM(1 - pos) > 0 THEN " +
             "CAST(SUM(pos * r) * 2 - SUM(pos) * (SUM(pos) + 1) AS DOUBLE)" +
             " / (SUM(pos) * SUM(1 - pos) * 2) END")} AS auc
         |FROM rk""".stripMargin,

    "q_minhash_eval" -> {
      val hex12 = sqlHv48("h")
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2], ' ') AS sh
         |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
         |        FROM documents WHERE doc_id < 1000),
         |    UNNEST(RANGE(1, LEN(t) - 1)) AS u(i)
         |  WHERE LEN(t) >= 3),
         |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |tp AS (
         |  SELECT i.a, i.b
         |  FROM inter i
         |  JOIN cnt ca ON i.a = ca.doc_id
         |  JOIN cnt cb ON i.b = cb.doc_id
         |  WHERE i.i * 3 >= ca.c + cb.c),
         |hv AS (
         |  SELECT doc_id, j, MIN($hex12) AS m
         |  FROM (SELECT sh.doc_id, t.j,
         |          md5(CAST(t.j AS VARCHAR) || ':' || sh.sh) AS h
         |        FROM sh CROSS JOIN RANGE(0, 8) t(j))
         |  GROUP BY doc_id, j),
         |sig AS (
         |  SELECT doc_id, j // 2 AS band,
         |    MIN(CASE WHEN j % 2 = 0 THEN m END) AS m0,
         |    MIN(CASE WHEN j % 2 = 1 THEN m END) AS m1
         |  FROM hv GROUP BY doc_id, j // 2),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
         |    AND a.doc_id < b.doc_id),
         |hit AS (SELECT c.a, c.b FROM cand c JOIN tp ON c.a = tp.a AND c.b = tp.b),
         |ns AS (
         |  SELECT (SELECT COUNT(*) FROM tp) AS n_true,
         |    (SELECT COUNT(*) FROM cand) AS n_cand,
         |    (SELECT COUNT(*) FROM hit) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  ${sqlRound4(
             "CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / n_cand END")}
         |    AS precision,
         |  ${sqlRound4(
             "CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true END")}
         |    AS recall,
         |  ${sqlRound4(
             "CASE WHEN n_cand + n_true > 0 THEN " +
             "CAST(n_hit AS DOUBLE) * 2 / (n_cand + n_true) END")} AS f1
         |FROM ns""".stripMargin
    },

    "q_lsh_eval" -> {
      val noiseHv = sqlHv48(
        "md5('n' || CAST(id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))")
      val coefHv = sqlHv48(
        "md5('c' || CAST(j AS VARCHAR) || ':' || CAST(cpos AS VARCHAR))")
      s"""WITH base AS (
         |  SELECT CAST(vec_id AS BIGINT) AS id, CAST(i - 1 AS INT) AS pos,
         |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
         |      AS BIGINT) AS iv
         |  FROM embeddings CROSS JOIN RANGE(1, 65) t(i)
         |  WHERE vec_id < 1000),
         |planted AS (
         |  SELECT id + 1000000 AS id, pos,
         |    iv + ($noiseHv) % 2001 - 1000 AS iv
         |  FROM base WHERE id < 100),
         |ex AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |nrm AS (SELECT id, CAST(SUM(iv * iv) AS BIGINT) AS na
         |  FROM ex GROUP BY id),
         |dots AS (SELECT a.id AS ia, b.id AS ib,
         |    CAST(SUM(a.iv * b.iv) AS BIGINT) AS dot
         |  FROM ex a JOIN ex b ON a.pos = b.pos AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |tp AS (SELECT ia, ib FROM dots
         |  JOIN nrm x ON dots.ia = x.id JOIN nrm y ON dots.ib = y.id
         |  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000 >=
         |    CAST(x.na AS HUGEINT) * y.na * 7225),
         |coef AS (SELECT t.j, u.cpos, ($coefHv) % 2001 - 1000 AS w
         |  FROM RANGE(0, 40) t(j) CROSS JOIN RANGE(0, 64) u(cpos)),
         |bits AS (SELECT id, j, SUM(w * iv) > 0 AS b
         |  FROM ex JOIN coef ON pos = cpos GROUP BY id, j),
         |keyz AS (SELECT id, j // 10 AS band,
         |    CAST(SUM(CASE WHEN b THEN (CAST(1 AS BIGINT) << CAST(j % 10 AS INT))
         |      ELSE 0 END) AS BIGINT) AS bk
         |  FROM bits GROUP BY id, j // 10),
         |probes AS (SELECT id AS idb, band,
         |    CASE WHEN f < 0 THEN bk
         |      ELSE xor(bk, CAST(1 AS BIGINT) << CAST(f AS INT)) END AS pk
         |  FROM keyz CROSS JOIN RANGE(-1, 10) r(f)),
         |cand AS (SELECT DISTINCT k.id AS ia, p.idb AS ib
         |  FROM keyz k JOIN probes p
         |    ON k.band = p.band AND k.bk = p.pk AND k.id < p.idb),
         |hit AS (SELECT c.ia, c.ib FROM cand c
         |  JOIN tp ON c.ia = tp.ia AND c.ib = tp.ib),
         |ns AS (SELECT (SELECT COUNT(*) FROM nrm) AS n_vecs,
         |    (SELECT COUNT(*) FROM tp) AS n_true,
         |    (SELECT COUNT(*) FROM cand) AS n_cand,
         |    (SELECT COUNT(*) FROM hit) AS n_hit)
         |SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  ${sqlRound4(
             "CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / n_cand END")}
         |    AS precision,
         |  ${sqlRound4(
             "CASE WHEN n_true > 0 THEN CAST(n_hit AS DOUBLE) / n_true END")}
         |    AS recall,
         |  ${sqlRound4(
             "CASE WHEN n_vecs > 1 THEN " +
             "CAST(n_cand AS DOUBLE) * 2 / (n_vecs * (n_vecs - 1)) END")}
         |    AS selectivity
         |FROM ns""".stripMargin
    },

    // the incremental twin's oracle derives EVERY id's band keys from
    // scratch and emits the full candidate-pair relation — a hash match
    // proves the maintained index (stored base keys/pairs + delta-only
    // keying) equals a rebuild
    "q_lsh_persist" -> lshPairsSql("vec_id < 1000"),

    // the compaction twin re-derives every surviving id's keys and the
    // full candidate set from the post-takedown block
    "q_lsh_compact" -> lshPairsSql("vec_id < 1000 AND vec_id % 10 <> 0"),

    "q_reliability" ->
      s"""WITH probe AS (
         |  SELECT embedding AS p, label AS plabel
         |  FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id,
         |    CAST(FLOOR(${duckCosine("e.embedding", "pr.p")} * 1e12 + 0.5)
         |      AS BIGINT) AS sc,
         |    CASE WHEN e.label = pr.plabel THEN 1 ELSE 0 END AS pos
         |  FROM embeddings e CROSS JOIN probe pr
         |  WHERE e.vec_id <> 0),
         |rk AS (
         |  SELECT sc, pos,
         |    ROW_NUMBER() OVER (ORDER BY sc, vec_id) AS r,
         |    COUNT(*) OVER () AS n
         |  FROM cand)
         |SELECT ((r - 1) * 10) // n AS decile, COUNT(*) AS n_bucket,
         |  CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  ${sqlRound4("CAST(SUM(pos) AS DOUBLE) / COUNT(*)")} AS pos_rate,
         |  ${sqlRound4("CAST(SUM(sc) AS DOUBLE) / COUNT(*) / 1e12")}
         |    AS mean_cos
         |FROM rk GROUP BY decile ORDER BY decile""".stripMargin,

    "q_centroid_confusion" ->
      s"""WITH ex AS (
         |  SELECT vec_id, label, CAST(i - 1 AS INT) AS pos,
         |    CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings CROSS JOIN RANGE(1, 65) t(i)),
         |cent AS (
         |  SELECT label AS clabel, pos,
         |    (CAST(SUM(CAST(FLOOR(v * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 10000) / COUNT(*) AS mv
         |  FROM ex GROUP BY label, pos),
         |cn AS (
         |  SELECT clabel,
         |    CAST(SUM(CAST(FLOOR(mv * mv * 1e12 + 0.5) AS BIGINT))
         |      AS BIGINT) AS cn
         |  FROM cent GROUP BY clabel),
         |dots AS (
         |  SELECT ex.vec_id, ex.label, c.clabel,
         |    CAST(SUM(CAST(FLOOR(ex.v * c.mv * 1e8 + 0.5) AS BIGINT))
         |      AS BIGINT) AS dot
         |  FROM ex JOIN cent c ON ex.pos = c.pos
         |  GROUP BY ex.vec_id, ex.label, c.clabel),
         |pred AS (
         |  SELECT * FROM (
         |    SELECT d.vec_id, d.label, d.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |        ORDER BY CAST(d.dot AS DOUBLE) / SQRT(CAST(cn.cn AS DOUBLE))
         |          DESC, d.clabel) AS rn
         |    FROM dots d JOIN cn ON d.clabel = cn.clabel)
         |  WHERE rn = 1)
         |SELECT label AS true_label, clabel AS pred_label, COUNT(*) AS n
         |FROM pred GROUP BY label, clabel
         |ORDER BY true_label, pred_label""".stripMargin
  )
}
