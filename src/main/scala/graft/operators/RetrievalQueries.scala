package graft.operators

import graft.QueryModule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 M — retrieval/curation primitives a training-data
  * pipeline runs between dedup and export:
  *
  *   - q_inverted_index: posting-list construction — the 20 highest-df
  *     tokens with their document frequency and the 5 smallest doc ids
  *     holding them (the seed of every sparse-retrieval/BM25 index, and
  *     the "which docs carry this term" audit).
  *   - q_novelty: first-occurrence n-gram novelty — per source, the mean
  *     share of a doc's distinct 3-token shingles NOT seen in any
  *     earlier doc (by doc_id). The marginal-contribution view of
  *     dedup: a corpus slice whose new docs are mostly old shingles is
  *     already covered.
  *   - q_sample_weighted: one-pass weighted sampling without replacement
  *     [Efraimidis & Spirakis 2006]: key = ln(u)/w with u a
  *     deterministic 48-bit md5 uniform and w = n_chars; the top-32 keys
  *     ARE a length-proportional sample — how a token-budgeted corpus
  *     sample is drawn in a single scan.
  *
  * Determinism: the E-S key uses u = (hv+1)/2⁴⁸ — hv < 2⁵³ so the
  * dividend is double-exact and the division by a power of two is exact;
  * ln/division follow the same IEEE sequence in both engines (q_log_odds
  * precedent), and doc_id breaks any residual tie. Posting lists are
  * sorted then pipe-joined (q_agg_collect precedent — the driver cannot
  * hash raw arrays).
  *
  * Scale notes (100 TB lens):
  *   - q_inverted_index shuffles distinct (token, doc_id) pairs once; the
  *     top-20 relation is broadcast back, so posting collection touches
  *     only the 20 winners' pairs. A full index build is the same plan
  *     minus the top-k filter, partitioned by term.
  *   - q_novelty is two shingle-grained aggregates (min doc per shingle —
  *     the same grain MinHashDedup shuffles) and one doc-grained roll-up;
  *     nothing is quadratic, no all-pairs.
  *   - q_sample_weighted is ONE scan + TakeOrderedAndProject (bounded
  *     per-partition heaps, merge of 32-row tops) — no global sort, no
  *     second pass; this is why E-S keys beat rejection sampling at scale.
  */
object RetrievalQueries extends QueryModule {

  /** 2⁴⁸ as an exact double (power of two). */
  private val Hex48 = 281474976710656.0

  /** Per-source mean first-occurrence shingle novelty over a distinct
    * (doc_id, source, sh) relation — the shared body of q_novelty and
    * its persisted-increment twin. n_new per doc falls straight out of
    * the first-occurrence relation (each shingle credits exactly its
    * minimum doc), so the two relations meet at DOC grain. */
  private def noveltyOf(sh: DataFrame): DataFrame = {
    val nSh = sh.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_sh"))
    val nNew = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_new"))
    nSh.join(nNew, col("doc_id") === col("first_doc"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        pround4(sum(coalesce(col("n_new"), lit(0L))).cast("double")
          / sum(col("n_sh"))).as("novelty"))
      .orderBy("source")
  }

  override def queries: Map[String, Q] = Map(
    // Top-20 df tokens with their 5 smallest doc ids (pipe-joined).
    "q_inverted_index" -> ((s, dir) => {
      // served from the write-once TokenStore artifact (round-11): the
      // stored rows ARE the distinct (w, doc_id) posting grain this
      // query built inline (tokenize + corpus-wide distinct, the
      // biggest shuffle here) — both consumers (df count, posting
      // collection) scan the artifact; the from-scratch oracle proves
      // stored ≡ derived on every sweep
      val tok = graft.functions.TokenStore.termFreq(s, dir)
        .filter(col("w") =!= "").select("w", "doc_id")
      val top = tok.groupBy("w").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("w")).limit(20)
      val post = tok.join(broadcast(top.select("w")), Seq("w"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("w").orderBy("doc_id")))
        .filter(col("rn") <= 5)
        .groupBy("w")
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), "|").as("posting"))
      top.join(post, Seq("w"))
        .select(col("w").as("token"), col("df"), col("posting"))
        .orderBy(col("df").desc, col("token"))
    }),

    // Per-source mean first-occurrence shingle novelty. n_new per doc
    // falls straight out of the first-occurrence relation (group ITS
    // first_doc — each shingle credits exactly its minimum doc), so the
    // two relations meet at DOC grain; the pre-round-9 shape joined the
    // full shingle relation back to `first` at SHINGLE grain (2.3M-row
    // join at sf1) to compute the same two counts.
    "q_novelty" -> ((s, dir) => {
      // served from the write-once GramStore artifact (round-11: the
      // shared persisted shingle relation — stored ≡ derived is proven
      // by this query's own from-scratch oracle hash match); the inline
      // derivation lives on as GramStore.buildSh3
      // BUCKETED read (round-12): the first-occurrence aggregate
      // (groupBy sh — the query's dominant shuffle) runs exchange-free
      // on the sh-clustered stored side (GramStoreSpec plan-asserts it)
      noveltyOf(graft.functions.GramStore.shingles3Bucketed(s, dir)
        .select("doc_id", "source", "sh"))
    }),

    // INCREMENTAL novelty over a persisted base shingle store (round-11;
    // the q_bm25_incr discipline applied to the GramStore family): the
    // standing 80% of the corpus persists its distinct (doc, source,
    // 3-gram) rows once; the measured operation is the ARRIVAL of the
    // remaining 20% — tokenize ONLY the batch (GramStore.buildSh3 on the
    // delta) and union in memory (per-doc rows with disjoint ids make
    // the union the exact full relation; re-runs stay idempotent). The
    // oracle is the FROM-SCRATCH q_novelty SQL over the full corpus, so
    // the hash match proves maintained ≡ rebuilt. The on-disk append
    // twin of this merge is the store's appendDocs (GramStoreSpec pins
    // append ≡ rebuild).
    "q_novelty_incr" -> ((s, dir) => {
      val store = graft.functions.GramStore.sh3Store
      val isDelta = graft.IncrementContract.isDelta(col("doc_id"))
      val Seq(sh3) = store.merged(store.read(s, store.ensureIncBase(s, dir)),
        t(s, dir, "documents").filter(isDelta))
      noveltyOf(sh3.select("doc_id", "source", "sh"))
    }),

    // COMPACTED novelty: the delete/update proof for the gram-store
    // family (round-12; with it, EVERY compactable store family carries
    // an oracle-gated compacted ≡ rebuilt proof). A full-corpus sh3
    // store takes the shared takedown/update split through the
    // touched-file rewrite, then novelty reads the compacted rows. The
    // oracle rebuilds from scratch over the post-compaction corpus.
    // Pre-built by the bench driver; re-runs are pure reads.
    "q_novelty_compact" -> ((s, dir) => {
      val path = graft.functions.GramStore.sh3Store.ensureCompacted(s, dir)
      noveltyOf(s.read.parquet(s"$path/sh3")
        .select("doc_id", "source", "sh"))
    }),

    // BM25 top-10 for the corpus's own 3 highest-df terms [Robertson &
    // Zaragoza 2009; Lucene's idf variant] — the sparse-retrieval scorer
    // over the q_inverted_index machinery. Per-term contributions are
    // scaled to BIGINTs before the per-doc sum so the ranking never
    // depends on float summation order.
    "q_bm25" -> ((s, dir) => {
      // served from the write-once TokenStore artifact (round-12): the
      // stored (doc, w, tf) rows ARE the posting grain this query built
      // inline — tokenize, the corpus-wide (w, doc) distinct AND the tf
      // re-count all collapse into scans of the stored relation (df is
      // a plain row count on the (doc, w)-distinct grain, dl = Σ tf per
      // doc). The BUCKETED read runs the df aggregate and the w-keyed
      // qterm join exchange-free (the q_tfidf machinery); the
      // from-scratch oracle re-proves stored ≡ derived on every sweep.
      val tk = graft.functions.TokenStore.termFreqBucketed(s, dir)
        .filter(col("w") =!= "").select("doc_id", "w", "tf")
      val dl = tk.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val dfw = tk.groupBy("w").agg(count(lit(1)).as("df"))
      val qterms = dfw.orderBy(col("df").desc, col("w")).limit(3)
      val tf = tk.join(broadcast(qterms), Seq("w"))
        .select(col("doc_id"), col("w"), col("df"), col("tf"))
      val scored = tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
        .select(col("doc_id"),
          floor((log((col("n_docs") - col("df") + 0.5)
              / (col("df") + 0.5) + lit(1.0))
            * (col("tf") * lit(2.2)
              / (col("tf") + lit(1.2) * (lit(0.25)
                + lit(0.75) * col("dl")
                  / (col("sum_dl").cast("double") / col("n_docs"))))))
            * lit(1e10) + lit(0.5)).cast("bigint").as("ti"))
        .groupBy("doc_id").agg(sum(col("ti")).as("si"))
      scored.orderBy(col("si").desc, col("doc_id")).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("si").desc, col("doc_id"))))
        .select(col("rnk"), col("doc_id"),
          pround4(col("si").cast("double") / lit(1e10)).as("score"))
        .orderBy("rnk")
    }),

    // INCREMENTAL BM25 over the persisted retrieval index (the
    // q_dedup_persist discipline applied to the retrieval family): the
    // standing 80% of the corpus is tokenized ONCE into the stored
    // postings/doclens tables (functions/RetrievalIndex — write-once,
    // dir-keyed); the measured operation is the arrival of the remaining
    // 20%: tokenize ONLY the batch, merge its per-doc rows (disjoint ids
    // make the union exact), and score BM25 from the merged relations.
    // The oracle is the FROM-SCRATCH q_bm25 SQL over the full corpus, so
    // the hash match proves the maintained index ranks identically to a
    // rebuild. The stored artifact itself is append-maintained via the
    // store's appendDocs (RetrievalIndexSpec pins append ≡ rebuild);
    // the query merges in memory so re-runs stay idempotent.
    "q_bm25_incr" -> ((s, dir) => {
      val ri = graft.functions.RetrievalIndex
      val isDelta = graft.IncrementContract.isDelta(col("doc_id"))
      ri.bm25TopDf(ri.merged(ri.read(s, ri.store.ensureIncBase(s, dir)),
        t(s, dir, "documents").filter(isDelta)))
    }),

    // COMPACTED BM25: the delete/update proof for the retrieval family
    // (round-11 verdict task #1). A FULL-corpus index is compacted once
    // (takedowns + delete/re-insert updates under the IncrementContract
    // split — CompactStore's touched-file rewrite of postings and
    // doclens), then BM25 scores from the compacted relations. The
    // oracle rebuilds FROM SCRATCH over the post-compaction corpus, so
    // the hash match proves compacted ≡ rebuilt. Pre-built by the bench
    // driver; re-runs are pure reads.
    "q_bm25_compact" -> ((s, dir) => {
      val path = graft.functions.RetrievalIndex.store.ensureCompacted(s, dir)
      graft.functions.RetrievalIndex.bm25TopDf(
        graft.functions.RetrievalIndex.read(s, path))
    }),

    // Length-weighted top-32 sample via Efraimidis-Spirakis keys.
    "q_sample_weighted" -> ((s, dir) => {
      val keyed = t(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (log((hv48(col("doc_id").cast("string")) + 1).cast("double")
            / lit(Hex48)) / col("n_chars")).as("k"))
      keyed.orderBy(col("k").desc, col("doc_id")).limit(32)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("k").desc, col("doc_id"))))
        .select(col("rnk"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("rnk")
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_inverted_index" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT w, doc_id
         |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w, doc_id
         |        FROM documents)
         |  WHERE w <> ''),
         |top AS (
         |  SELECT w, COUNT(*) AS df
         |  FROM tok GROUP BY w
         |  ORDER BY df DESC, w LIMIT 20),
         |post AS (
         |  SELECT w, LIST_AGGREGATE(LIST_SORT(LIST(doc_id))[1:5],
         |    'string_agg', '|') AS posting
         |  FROM (SELECT tok.w, tok.doc_id FROM tok JOIN top ON tok.w = top.w)
         |  GROUP BY w)
         |SELECT top.w AS token, top.df, post.posting
         |FROM top JOIN post ON top.w = post.w
         |ORDER BY df DESC, token""".stripMargin,

    "q_novelty" -> noveltyOracle,

    // the incremental twin rides the SAME from-scratch oracle: a hash
    // match proves the persisted-base + arriving-batch merge equals a
    // full rebuild of the shingle relation
    "q_novelty_incr" -> noveltyOracle,

    // the compaction twin rebuilds from scratch over the
    // post-compaction corpus
    "q_novelty_compact" -> noveltyCompactOracle,

    "q_bm25" -> bm25Oracle,

    // the incremental-index twin rides the SAME from-scratch oracle: a
    // hash match proves merged stored relations rank identically to a
    // full rebuild
    "q_bm25_incr" -> bm25Oracle,

    // the compaction twin rebuilds from scratch over the
    // post-compaction corpus (removed docs gone, updated text seen)
    "q_bm25_compact" -> bm25CompactOracle,


    "q_sample_weighted" -> {
      val hex12 = sqlHv48("h")
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, n_chars,
         |    LN((hv + 1) / 281474976710656.0) / n_chars AS k
         |  FROM (SELECT doc_id, lang, n_chars, $hex12 AS hv
         |        FROM (SELECT doc_id, lang, n_chars,
         |                md5(CAST(doc_id AS VARCHAR)) AS h
         |              FROM documents WHERE n_chars > 0)))
         |SELECT ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rnk,
         |  doc_id, lang, n_chars
         |FROM keyed ORDER BY k DESC, doc_id LIMIT 32""".stripMargin
    }
  )

  /** From-scratch first-occurrence novelty — the shared oracle of
    * q_novelty (stored-artifact read) and q_novelty_incr (persisted
    * base + arriving batch): both must hash-match the full rebuild. */
  private lazy val noveltyOracle: String = noveltySql("", "documents")

  /** The compaction proof's oracle: the SAME from-scratch novelty over
    * the post-compaction corpus (IncrementContract.compactedCorpusSql). */
  private lazy val noveltyCompactOracle: String = noveltySql(
    s"corpus AS (${graft.IncrementContract.compactedCorpusSql}),", "corpus")

  private def noveltySql(pre: String, src: String): String =
    s"""WITH $pre sh AS (
       |  SELECT DISTINCT doc_id, source, ARRAY_TO_STRING(t[i:i+2], ' ') AS sh
       |  FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t
       |        FROM $src),
       |    UNNEST(RANGE(1, LEN(t) - 1)) AS u(i)
       |  WHERE LEN(t) >= 3),
       |fst AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
       |per_doc AS (
       |  SELECT s.doc_id, s.source, COUNT(*) AS n_sh,
       |    COUNT(*) FILTER (WHERE f.first_doc = s.doc_id) AS n_new
       |  FROM sh s JOIN fst f ON s.sh = f.sh
       |  GROUP BY s.doc_id, s.source)
       |SELECT source, COUNT(*) AS n_docs,
       |  ${sqlRound4(
           "CAST(SUM(n_new) AS DOUBLE) / CAST(SUM(n_sh) AS BIGINT)")}
       |    AS novelty
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  /** From-scratch BM25 SQL — shared by q_bm25 (live build) and
    * q_bm25_incr (persisted index + arriving batch): both must
    * hash-match the full rebuild's ranking. */
  private lazy val bm25Oracle: String = bm25Sql("", "documents")

  /** The compaction proof's oracle: the SAME from-scratch BM25 over the
    * post-compaction corpus (IncrementContract.compactedCorpusSql). */
  private lazy val bm25CompactOracle: String = bm25Sql(
    s"corpus AS (${graft.IncrementContract.compactedCorpusSql}),", "corpus")

  private def bm25Sql(pre: String, src: String): String =
    s"""WITH $pre tok AS (
         |  SELECT doc_id, w
         |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
         |        FROM $src)
         |  WHERE w <> ''),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
         |dfw AS (
         |  SELECT w, COUNT(*) AS df
         |  FROM (SELECT DISTINCT w, doc_id FROM tok) GROUP BY w),
         |qterms AS (SELECT w, df FROM dfw ORDER BY df DESC, w LIMIT 3),
         |tf AS (
         |  SELECT tok.doc_id, tok.w, q.df, COUNT(*) AS tf
         |  FROM tok JOIN qterms q ON tok.w = q.w
         |  GROUP BY tok.doc_id, tok.w, q.df),
         |terms AS (
         |  SELECT tf.doc_id,
         |    CAST(FLOOR((LN((s.n_docs - tf.df + 0.5) / (tf.df + 0.5) + 1.0)
         |      * (tf.tf * 2.2
         |        / (tf.tf + 1.2 * (0.25
         |          + 0.75 * dl.dl
         |            / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))))
         |      * 1e10 + 0.5) AS BIGINT) AS ti
         |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
         |scored AS (
         |  SELECT doc_id, CAST(SUM(ti) AS BIGINT) AS si
         |  FROM terms GROUP BY doc_id)
         |SELECT ROW_NUMBER() OVER (ORDER BY si DESC, doc_id) AS rnk,
         |  doc_id, ${sqlRound4("CAST(si AS DOUBLE) / 1e10")} AS score
         |FROM scored ORDER BY si DESC, doc_id LIMIT 10""".stripMargin
}
