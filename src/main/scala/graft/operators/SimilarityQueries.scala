package graft.operators

import graft.QueryModule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 J — similarity search over the 64-dim float `embeddings`.
  *
  *   - q_cosine_topk: brute-force cosine top-k for one probe vector.
  *   - q_knn_join: k-NN join for a bounded probe set (broadcast the
  *     probes, stream the corpus).
  *   - q_vector_mean: element-wise mean vector per label, expressed
  *     relationally (posexplode → grouped mean) — the oracle-checkable
  *     twin of the VectorMean Aggregator (ScalaTest'd in functions/).
  *
  * Cosine is written as the SAME arithmetic shape on both sides —
  * dot/(sqrt(n1)*sqrt(n2)) with per-element CAST to DOUBLE and sequential
  * fold — so Spark and DuckDB produce bit-identical doubles (same IEEE ops
  * in the same order), making ROUND(...,4) and rank order safe.
  *
  * Scale notes: top-k for a probe SET is a broadcast nested loop (corpus
  * streamed once, probes broadcast — no shuffle of the big side) followed
  * by a per-probe window top-k. At 100 TB the all-pairs variant must be
  * bucketed first — graft.functions.AnnIndex implements the LSH/IVF
  * bucketing path (hash-seed-dependent, ScalaTest'd). The brute-force scan
  * here IS the right baseline: one pass, codegen'd HOF math, no UDF boxing.
  */
object SimilarityQueries extends QueryModule {

  /** dot(a,b) / (|a|*|b|) via the native codegen'd CosineSim expression
    * (graft.functions.NativeCosine) — one call per row from whole-stage
    * codegen into a JIT-compiled primitive loop, vs an interpreted
    * per-element HOF lambda. The
    * per-accumulator fold order is identical to the DuckDB mirror, so
    * doubles match bit-for-bit. */
  private def cosine(a: String, b: String): Column =
    call_function(graft.functions.NativeCosine.name, col(a), col(b))

  /** Identical arithmetic in DuckDB (index-walk instead of zip_with). */
  private def duckCosine(a: String, b: String): String =
    s"""(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (SQRT(LIST_SUM(LIST_TRANSFORM($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |  * SQRT(LIST_SUM(LIST_TRANSFORM($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
      .stripMargin

  override def queries: Map[String, Q] = Map(
    "q_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), cosine("embedding", "p").as("cos_raw"))
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), round(col("cos_raw"), 4).as("cos"))
    }),

    // Per-vector L2 norms + dims (embedding-table hygiene: catch
    // un-normalized or ragged vectors before any cosine math). Per-row
    // codegen'd fold, embarrassingly parallel; the fold order matches
    // DuckDB's LIST_SUM on these operands so doubles agree exactly.
    "q_vector_norm" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("label"),
          size(col("embedding")).as("dim"),
          pround4(sqrt(expr(
            """aggregate(embedding, 0D,
              |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
              .stripMargin))).as("l2"))
        .orderBy("vec_id")),

    "q_knn_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosine("embedding", "p").as("cos_raw"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("vec_id"),
          round(col("cos_raw"), 4).as("cos"))
        .orderBy("probe_id", "rn")
    }),

    // Embedding-cosine near-duplicate pairs — the vector-space member of
    // the dedup family (exact / MinHash / SimHash / n-gram Jaccard live in
    // DedupQueries). Round-8 re-scope (verdict task #4): the old contract
    // was ALL pairs a<b — quadratic in the corpus by its own output
    // definition (the last such anchor). The declared contract is now a
    // BOUNDED probe set (vec_id < 50) joined against the full corpus:
    // O(probes × corpus) — LINEAR in the corpus, the same plan shape a
    // production "audit these N documents against the corpus" pass has.
    // Probes broadcast; the corpus streams once through a codegen'd
    // CosineSim; Ann.nearDupPairs / CosineLsh.nearDuplicatePairs remain
    // the sublinear paths for the all-pairs problem. The 0.4 threshold
    // compares RAW doubles that are bit-identical cross-engine (same fold
    // order), so the predicate cannot flake.
    "q_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // the fixture parquet is one row-group → one scan task; spread the
      // STREAM (corpus) side so the nested-loop pair generation
      // parallelizes. The broadcast probe side stays whole on every task.
      val b = e.repartition(col("vec_id"))
        .select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      val a = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val cos = cosine("ea", "eb")
      // both predicates live IN the join condition, cheap one first: a
      // pushed-down filter lands AHEAD of the join's own condition, making
      // every pair pay the cosine before the id short-circuit — conjunct
      // order here skips the cosine for half the pairs. The projection
      // re-evaluates cosine only for the surviving pairs.
      b.join(broadcast(a), col("id_a") < col("id_b") && cos > 0.4)
        .select(col("id_a"), col("id_b"), round(cos, 4).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // Per-value quantization uses the portable floor round, NOT a decimal
    // CAST: floats can land exactly on 4th-decimal half-ties (any odd/32,
    // e.g. -0.09375) and Spark/DuckDB break decimal-cast ties differently.
    // FLOOR(x*1e4+0.5) as BIGINT is the same IEEE op sequence in both.
    "q_vector_mean" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("int").as("pos"),
          floor(col("col").cast("double") * 10000 + lit(0.5)).cast("long")
            .as("v"))
        .groupBy("label", "pos")
        .agg(pround4(sum(col("v")).cast("double") / 10000 / count(lit(1)))
          .as("mean_v"))
        .orderBy("label", "pos"))
,
    // Symmetric per-vector int8 quantization audit — the embedding-
    // compression step of a serving pipeline (4× smaller than float32,
    // 2× smaller than the PQ codes' float add): scale = amax/127,
    // code_i = round-half-up(x_i/scale) ∈ [-127, 127], and the
    // reconstruction error Σ(x − code·scale)² is scaled to exact BIGINTs
    // PER ELEMENT (×1e12, floored) before any cross-row sum, so the
    // label-level totals are integer-exact in both engines — no
    // summation-order hazard. Output per label: vector count, floored
    // mean squared error ×1e12, floored mean scale ×1e12 (all BIGINT).
    // Embarrassingly parallel row math + one bounded-output aggregate;
    // the HOF fold is interpreted, so a 100 TB deployment would lift it
    // to a native Expression exactly like NativeCosine.
    "q_vec_int8" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .repartition(col("vec_id"))
        .withColumn("sc", expr(
          "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127"))
        .withColumn("err_e12", when(col("sc") === 0, lit(0L)).otherwise(expr(
          """aggregate(embedding, CAST(0 AS BIGINT), (a, x) -> a +
            |  CAST(FLOOR(
            |    (CAST(x AS DOUBLE) - FLOOR(CAST(x AS DOUBLE) / sc + 0.5) * sc) *
            |    (CAST(x AS DOUBLE) - FLOOR(CAST(x AS DOUBLE) / sc + 0.5) * sc) *
            |    1e12 + 0.5) AS BIGINT))""".stripMargin.replace("\n", " "))))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          expr("SUM(err_e12) DIV SUM(size(embedding))").as("mse_e12"),
          expr("SUM(CAST(FLOOR(sc * 1e12 + 0.5) AS BIGINT)) DIV COUNT(*)")
            .as("scale_e12"))
        .orderBy("label"))
  )

  override def oracleSql: Map[String, String] = Map(
    "q_vector_norm" ->
      """SELECT vec_id, label, CAST(LEN(embedding) AS INT) AS dim,
        |  FLOOR(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10000 + 0.5)
        |    / 10000 AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_cosine_topk" ->
      s"""SELECT vec_id, ROUND(${duckCosine("embedding", "p")}, 4) AS cos
         |FROM embeddings
         |CROSS JOIN (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
         |WHERE vec_id <> 0
         |ORDER BY ${duckCosine("embedding", "p")} DESC, vec_id ASC
         |LIMIT 20""".stripMargin,

    "q_knn_join" ->
      s"""SELECT probe_id, rn, vec_id, cos FROM (
         |  SELECT p.probe_id, e.vec_id,
         |    ROUND(${duckCosine("e.embedding", "p.p")}, 4) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |      ORDER BY ${duckCosine("e.embedding", "p.p")} DESC, e.vec_id ASC) AS rn
         |  FROM embeddings e
         |  CROSS JOIN (SELECT vec_id AS probe_id, embedding AS p
         |              FROM embeddings WHERE vec_id < 20) p
         |  WHERE e.vec_id <> p.probe_id)
         |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin,

    "q_embed_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(${duckCosine("a.embedding", "b.embedding")}, 4) AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 50
         |  AND ${duckCosine("a.embedding", "b.embedding")} > 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_vector_mean" ->
      """SELECT label, CAST(i AS INT) AS pos,
        |  FLOOR(((CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / 10000 / COUNT(*))) * 10000 + 0.5) / 10000 AS mean_v
        |FROM embeddings CROSS JOIN RANGE(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    "q_vec_int8" ->
      """WITH q AS (SELECT label, LEN(embedding) AS dim,
        |    LIST_MAX(LIST_TRANSFORM(embedding,
        |      x -> ABS(CAST(x AS DOUBLE)))) / 127 AS sc,
        |    embedding
        |  FROM embeddings),
        |e AS (SELECT label, dim, sc,
        |    CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(LIST_SUM(LIST_TRANSFORM(embedding, x ->
        |        CAST(FLOOR(
        |          (CAST(x AS DOUBLE) - FLOOR(CAST(x AS DOUBLE) / sc + 0.5) * sc) *
        |          (CAST(x AS DOUBLE) - FLOOR(CAST(x AS DOUBLE) / sc + 0.5) * sc) *
        |          1e12 + 0.5) AS BIGINT))) AS BIGINT) END AS err_e12
        |  FROM q)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(CAST(SUM(err_e12) AS BIGINT) // CAST(SUM(dim) AS BIGINT)
        |    AS BIGINT) AS mse_e12,
        |  CAST(CAST(SUM(CAST(FLOOR(sc * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
        |    // COUNT(*) AS BIGINT) AS scale_e12
        |FROM e GROUP BY label ORDER BY label""".stripMargin
  )
}
