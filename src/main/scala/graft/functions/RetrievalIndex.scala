package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained SPARSE RETRIEVAL index — the
  * RollupRewrite/MinHashDedup.appendIndex discipline applied to the
  * BM25/inverted-index family (q_inverted_index / q_bm25 build these
  * relations from raw text on every call; a living corpus stores them
  * once and appends):
  *
  *   - `postings/`  (w, doc_id, tf): term-frequency posting rows — at
  *     warehouse scale stored bucketed by `w` so term lookups and df
  *     counts never reshuffle;
  *   - `doclens/`   (doc_id, dl): per-document token counts.
  *
  * Everything BM25 needs derives from the two stored relations with
  * mergeable aggregates: df(w) = COUNT per w over postings (posting rows
  * are per-(w, doc)), N = COUNT(doclens), avgdl = SUM(dl)/N. Because
  * every row is PER-DOC, the [[DocStore]] protocol applies: appending a
  * batch of NEW doc ids is exact, appendDocs(write(C), B) ≡ write(C ∪ B)
  * relation-for-relation (RetrievalIndexSpec pins it), so N daily
  * increments cost N batch tokenizations — the standing corpus is never
  * re-read — and an UPDATED document goes through the store's
  * delete+append compaction.
  */
object RetrievalIndex {

  /** The two stored relations. */
  final case class Index(postings: DataFrame, doclens: DataFrame)

  private def index(rels: Seq[DataFrame]): Index = {
    val Seq(postings, doclens) = rels
    Index(postings, doclens)
  }

  /** The store (family `retr`; kinds `base` for q_bm25_incr and `cmp`
    * for q_bm25_compact): both relations from ONE tokenize pass over
    * (doc_id, text). */
  private[graft] val store = new DocStore("retr", Seq("postings", "doclens"))(
    { docs =>
      val tok = Materialize(docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= ""))
      Seq(tok.groupBy("w", "doc_id").agg(count(lit(1)).as("tf")),
        tok.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    })

  /** Both relations of (doc_id, text) documents, unpersisted. */
  def build(docs: DataFrame): Index = index(store.derive(docs))

  /** Re-open a persisted index (healed first). */
  def read(spark: SparkSession, path: String): Index =
    index(store.read(spark, path))

  /** The stored index merged in memory with an arriving batch — what
    * `store.appendDocs` persists, for scoring an increment without
    * mutating the stored artifact. */
  def merged(base: Index, batch: DataFrame): Index =
    index(store.merged(Seq(base.postings, base.doclens), batch))

  /** BM25 top-`topK` documents for the index's own `nTerms` highest-df
    * terms — Robertson & Zaragoza 2009 with Lucene's idf, k1 = 1.2,
    * b = 0.75; per-term contributions integer-scaled (×1e10) before the
    * per-doc sum so the ranking never depends on float summation order.
    * IDENTICAL math to q_bm25, so an incremental-index query can ride
    * the same from-scratch DuckDB oracle. The stored relations are
    * touched once each: postings for df + tf, doclens for dl + the
    * 1-row stats aggregate. */
  def bm25TopDf(index: Index, nTerms: Int = 3, topK: Int = 10): DataFrame = {
    val stats = index.doclens
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = index.postings.groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(nTerms)
    val scored = index.postings.join(broadcast(qterms), Seq("w"))
      .join(index.doclens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor((log((col("n_docs") - col("df") + 0.5)
            / (col("df") + 0.5) + lit(1.0))
          * (col("tf") * lit(2.2)
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl")
                / (col("sum_dl").cast("double") / col("n_docs"))))))
          * lit(1e10) + lit(0.5)).cast("bigint").as("ti"))
      .groupBy("doc_id").agg(sum(col("ti")).as("si"))
    scored.orderBy(col("si").desc, col("doc_id")).limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("si").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"),
        (floor(col("si").cast("double") / lit(1e10) * 10000 + lit(0.5))
          / 10000).as("score"))
      .orderBy("rnk")
  }
}
