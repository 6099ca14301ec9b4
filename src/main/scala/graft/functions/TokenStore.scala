package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-once persisted WORD-GRAIN relation of a fixture corpus — the
  * GramStore discipline one grain down: q_tfidf, q_unigram_logprob,
  * q_token_entropy, q_cooccur_pmi, q_inverted_index and q_zipf_slope
  * each re-derived the same per-document term-frequency relation from
  * raw text per query (tokenize + a (doc, word)-grain aggregate — ~13 s
  * combined at sf1) while the retrieval family already persists exactly
  * that grain for itself (functions/RetrievalIndex postings). This
  * object promotes it to a first-class shared store:
  *
  *   - `tf/` (doc_id, lang, source, w, tf): one row per DISTINCT word
  *     per document with its occurrence count, INCLUDING empty-string
  *     tokens (split(text, ' ') emits them for repeated separators, and
  *     the consumers disagree on filtering: q_tfidf/q_cooccur_pmi count
  *     them, the rest drop them) — so every consumer's exact semantics
  *     derive from the stored rows: occurrences re-weight by `tf`,
  *     document frequency is a plain row count per `w` (rows are the
  *     (doc, w)-distinct grain), and the per-doc metadata (lang,
  *     source) rides along without a doc-grain join.
  *
  * Every row is PER-DOC, so the [[DocStore]] protocol applies: appending
  * a batch of new doc ids is exact, appendDocs(write(C), B) ≡ write(C ∪
  * B) row-for-row (TokenStoreSpec pins it), and an updated document goes
  * through the store's delete+append compaction.
  * The DuckDB oracles of all six consumers stay FROM-SCRATCH, so each
  * sweep's hash matches re-prove stored ≡ derived.
  *
  * Scale posture (100 TB): the artifact is the corpus's tokenize output
  * compressed to its (doc, word) grain — strictly fewer rows than the
  * token stream it replaces (the q_unigram_logprob materialization
  * argument), and every consumer's remaining work is one aggregate over
  * narrow rows, never a text re-scan. At warehouse scale store it
  * bucketed by `w` so df counts and term lookups run exchange-free
  * (the RetrievalIndex postings layout); the fixture artifact keeps
  * plain parquet. Cache keying: the dir tag folds the fixture's content
  * manifest (Artifacts.dirTag), so regenerating a fixture in place
  * invalidates the store automatically.
  */
object TokenStore {

  /** The (doc_id, lang, source, w, tf) relation — one tokenize pass.
    * Plain explode, NOT explode_outer: every consumer tokenizes with
    * explode(split(...)), which drops a null-text document entirely —
    * an outer generator would hand the store a (doc, null-w) row none
    * of them derives. (The explode_outer house convention exists to
    * stop inferred size filters re-inlining expensive gram transforms;
    * here the generator input is the bare split, and the build runs
    * once per corpus.) */
  private[graft] def buildTf(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "lang", "source", "w")
      .agg(count(lit(1)).as("tf"))

  /** The store: `tf/`, and its bucketed projection `tfb/` (catalog
    * `graft_tokens_<tag>`) — the scaladoc's "at warehouse scale store it
    * bucketed by w" claim, exercised: 8 buckets on `w`, so every
    * w-clustered stage of a consumer runs with NO Exchange on the stored
    * side: df counts (groupBy w), (lang, w) term frequencies
    * (HashPartitioning(w) satisfies clustering on the superset (lang,
    * w)), and the w-keyed join between the two aggregates.
    * TokenStoreSpec plan-asserts q_tfidf's only exchanges are the
    * per-lang window and the output sort. Kinds: `store` (the consumers
    * below), `base` (q_tfidf_incr), `cmp` (q_tfidf_compact). */
  private[graft] val store = new DocStore("tokens", Seq("tf"), Seq(
    DocStore.Projection("tf", "w",
      "doc_id BIGINT, lang STRING, source STRING, w STRING, tf BIGINT",
      "graft_tokens")))(docs => Seq(buildTf(docs)))

  /** The stored term-frequency relation of a fixture corpus. */
  def termFreq(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "tf")

  /** The stored word grain as the BUCKETED catalog relation. */
  def termFreqBucketed(s: SparkSession, dir: String): DataFrame =
    store.bucketed(s, dir, "tf")
}
