package graft.operators

import graft.QueryModule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 J — text analysis over `documents`: corpus statistics,
  * per-document token counting and quality scoring, and bigram top-n
  * (the training-data-pipeline text ops of the north star).
  *
  * Determinism: every ratio is integer/integer (token counts) so both
  * engines divide the exact same operands; doubles only appear at the
  * final ROUND(...,4).
  *
  * Scale notes: q_text_stats / q_quality_score are per-row codegen'd
  * expressions plus one bounded hash aggregate (5 langs). q_ngrams is the
  * word-count pattern over bigrams: explode → partial agg → one Exchange
  * on the bigram key → final agg; top-n is a total sort over the already
  * aggregated (vocabulary-bounded) result, not over the corpus.
  */
object TextStatsQueries extends QueryModule {

  /** Tiny in-vocabulary "stopword" list for the stopword-ratio metric. */
  private val stopwords = Seq("data", "processing", "the", "and", "of")

  /** TF-IDF top-5 terms per language over a (doc_id, lang, w, tf)
    * token relation — the shared body of q_tfidf (stored-artifact read)
    * and q_tfidf_incr (persisted base + arriving batch): both must
    * hash-match the from-scratch oracle. Document frequency is a plain
    * row count (the relation is the (doc, w)-distinct grain); ranking
    * uses the PORTABLY-ROUNDED score so a sub-ulp ln() drift between
    * engines cannot reorder rows, with exact ties broken on the term. */
  private[graft] def tfidfOf(tk: org.apache.spark.sql.DataFrame,
                             ndocs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfc = tk.groupBy("w").agg(count(lit(1)).as("dfc"))
    val tf = tk.groupBy("lang", "w").agg(sum(col("tf")).as("tf"))
    val wnd = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("w").asc)
    tf.join(dfc, "w")
      .crossJoin(broadcast(ndocs))
      .withColumn("score",
        pround4(col("tf") * log((col("n") + 1.0) / (col("dfc") + 1.0))))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("w").as("term"),
        col("tf"), col("score"))
      .orderBy("lang", "rn")
  }

  override def queries: Map[String, Q] = Map(
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          pround4(sum(col("n_toks")).cast("double") / count(lit(1)))
            .as("avg_toks"),
          pround4(sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    "q_quality_score" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nToks = size(toks)
      val nUniq = size(array_distinct(toks))
      val stopArr = array(stopwords.map(lit): _*)
      val nStop = size(filter(toks, x => array_contains(stopArr, x)))
      val ttr = nUniq.cast("double") / nToks
      val stopRatio = nStop.cast("double") / nToks
      t(s, dir, "documents")
        .filter(nToks >= 1)
        .select(col("doc_id"),
          nToks.as("n_toks"),
          nUniq.as("n_uniq"),
          pround4(ttr).as("ttr"),
          pround4(stopRatio).as("stop_ratio"),
          pround4(ttr * (lit(1.0) - stopRatio)
            * least(lit(1.0), nToks.cast("double") / 50)).as("quality"))
        .orderBy("doc_id")
    }),

    // Gopher-style intra-document repetition signals: per doc, the
    // fraction of bigram occurrences held by the single most frequent
    // bigram (top_frac) and by any repeated bigram (dup_frac), plus an
    // integer-exact keep rule (top_c·12 ≤ n_g AND dup_g·4 ≤ n_g — both
    // sides integers, so no float-boundary risk). Scale: explode → count
    // keyed by (doc_id, gram) → per-doc aggregate; both Exchanges are
    // per-doc keys (cardinality bounded by doc length — no corpus-wide
    // hot key possible), with map-side partial combine.
    "q_repetition" -> ((s, dir) => {
      // served from the write-once GramStore.gram2 artifact (round-11):
      // the stored (doc, w1, w2, c) rows ARE the per-doc bigram counts
      // this query aggregated to — (w1, w2) bijects with the joined
      // gram string, so the per-doc rollup is identical; the
      // from-scratch oracle proves stored ≡ derived on every sweep
      graft.functions.GramStore.grams2(s, dir)
        .groupBy("doc_id")
        .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_g"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_g"))
        .select(col("doc_id"), col("top_c"), col("n_g"),
          pround4(col("top_c").cast("double") / col("n_g")).as("top_frac"),
          pround4(col("dup_g").cast("double") / col("n_g")).as("dup_frac"),
          when(col("top_c") * 12 <= col("n_g") &&
            col("dup_g") * 4 <= col("n_g"), 1).otherwise(0)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // Per-source token-length histogram (corpus shape diagnostics before
    // packing/mixing): 32-token buckets and each bucket's share of its
    // source. Scale: one bounded hash aggregate (sources × buckets), then
    // the window runs over the already-aggregated tiny relation.
    "q_length_hist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("nt"))
        .groupBy(col("source"),
          floor(col("nt") / 32).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          pround4(col("n_docs").cast("double") /
            sum(col("n_docs")).over(Window.partitionBy("source"))))
        .orderBy("source", "bucket")
    }),

    // Word-pair co-occurrence PMI (the embedding-era corpus statistic):
    // top-20 most associated within-document word pairs with support ≥ 5.
    // Scale: pairs are generated INSIDE each row from the distinct-token
    // array (bounded by doc length² — no self-join, no doc_id shuffle);
    // the only Exchanges are the pair-count aggregate and the bounded
    // unigram count, which broadcasts back in. PMI's log runs on an
    // identical double ratio in both engines (integer counts) and the
    // top-k carries a full (w1, w2) tiebreak.
    "q_cooccur_pmi" -> ((s, dir) => {
      // served from the write-once TokenStore artifact (round-11): the
      // stored (doc, w) grain IS the distinct-token relation this query
      // derived inline (array_distinct(split) ≡ the store's per-doc
      // distinct rows, empty tokens included on both sides); the stored
      // parquet replaces the per-query tokenize + Materialize — both the
      // unigram counts and the two pair-join sides scan it directly
      val w = graft.functions.TokenStore.termFreq(s, dir)
        .select(col("doc_id"), col("w"))
      val cw = w.groupBy("w").agg(count(lit(1)).as("c"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      // in-doc pairs as a doc-keyed SELF-JOIN, not a nested O(tokens²)
      // lambda: tokens are per-doc distinct, so the a.w < b.w join emits
      // every unordered pair exactly once (≡ the old least/greatest
      // normalization) — in codegen'd join machinery instead of ~15M
      // interpreted struct allocations at sf1 (measured 1.6x), and the
      // pair aggregate's groups stay vocabulary²-bounded with map-side
      // combine, so the exchange is tiny either way.
      w.as("a").join(w.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .join(broadcast(cw.select(col("w").as("w1"), col("c").as("ca"))), "w1")
        .join(broadcast(cw.select(col("w").as("w2"), col("c").as("cb"))), "w2")
        .crossJoin(broadcast(nd))
        .select(col("w1"), col("w2"), col("c12"),
          pround4(log(col("c12").cast("double") * col("nd")
            / (col("ca") * col("cb")))).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "q_ngrams" -> ((s, dir) =>
      // stored GramStore.gram2 counts re-aggregated to corpus grain:
      // the bigram string reconstructs from the split pair (tokens are
      // space-free, so the forms biject) and occurrences re-weight by c
      graft.functions.GramStore.grams2(s, dir)
        .groupBy(concat(col("w1"), lit(" "), col("w2")).as("bigram"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(50)),

    // True generator coverage (§2.3 K): posexplode with ordinality — one
    // row per (doc, position, token). Per-row expansion inside codegen, no
    // shuffle except the output ORDER BY; bounded here to a doc_id slice
    // so the oracle diff stays small at every SF.
    "q_explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
          col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // Token counting, whitespace + BPE-ish: whitespace tokens, alnum-run
    // regex tokens, and a subword estimate (ceil(len/4) per token — the
    // ~4-chars-per-BPE-token heuristic). All integer arithmetic until the
    // final portable-rounded average; per-row codegen'd HOFs + one bounded
    // hash aggregate (5 langs) — embarrassingly parallel at any scale.
    "q_token_count" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      t(s, dir, "documents")
        .select(col("lang"),
          size(toks).as("nws"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("nal"),
          expr(
            """aggregate(transform(split(text, ' '),
              |  t -> cast(ceil(length(t) / 4.0) as bigint)),
              |  0L, (acc, x) -> acc + x)""".stripMargin).as("sub"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("nws").as("ws_toks"),
          sum("nal").as("alnum_toks"),
          sum("sub").as("subword_est"),
          pround4(sum("sub").cast("double") / count(lit(1)))
            .as("avg_subwords"))
        .orderBy("lang")
    }),

    // TF-IDF top terms per language. Both aggregates are the word-count
    // plan (partial agg → one Exchange on the term key); the corpus size
    // joins in as a broadcast single-row cross join (no driver count()).
    // Ranking uses the PORTABLY-ROUNDED score, so a sub-ulp ln() drift
    // between engines cannot reorder rows; residual exact-tie rank breaks
    // on the term. idf = ln((N+1)/(df+1)) — integer operands, one double
    // division, one ln, one multiply: identical on both sides.
    "q_tfidf" -> ((s, dir) =>
      // served from the write-once TokenStore artifact (round-11): the
      // stored rows are the (doc, w)-DISTINCT grain, so document
      // frequency collapses from a countDistinct expansion over every
      // token occurrence to a plain row count per w, and term frequency
      // re-weights by the stored tf — this query's from-scratch oracle
      // proves stored ≡ derived on every sweep. The BUCKETED read makes
      // both aggregates and their w-keyed join exchange-free
      // (TokenStoreSpec plan-asserts it).
      tfidfOf(graft.functions.TokenStore.termFreqBucketed(s, dir),
        t(s, dir, "documents").agg(count(lit(1)).as("n")))),

    // INCREMENTAL TF-IDF over a persisted token-store base (the
    // q_bm25_incr discipline applied to the TokenStore family): the
    // standing 80% of the corpus stores its (doc, w, tf) rows once; the
    // measured operation is the ARRIVAL of the remaining 20% — tokenize
    // ONLY the batch (TokenStore.buildTf on the delta) and union in
    // memory (per-doc rows with disjoint ids make the union the exact
    // full relation; re-runs stay idempotent). The oracle is the
    // FROM-SCRATCH q_tfidf SQL over the full corpus, so the hash match
    // proves maintained ≡ rebuilt. The on-disk append twin of this
    // merge is the store's appendDocs (TokenStoreSpec pins append ≡
    // rebuild); the streaming twin is the store's maintain.
    "q_tfidf_incr" -> ((s, dir) => {
      val store = graft.functions.TokenStore.store
      val isDelta = graft.IncrementContract.isDelta(col("doc_id"))
      val Seq(tf) = store.merged(store.read(s, store.ensureIncBase(s, dir)),
        t(s, dir, "documents").filter(isDelta))
      tfidfOf(tf, t(s, dir, "documents").agg(count(lit(1)).as("n")))
    }),

    // COMPACTED TF-IDF: the delete/update proof for the token-store
    // family (round-11 verdict task #1 — a living corpus takes
    // takedowns, not just appends). A FULL-corpus store is compacted
    // once (remove isRemoved docs, delete+re-insert isUpdated docs with
    // deterministically modified text — CompactStore's touched-file
    // rewrite), then TF-IDF reads the compacted rows. The oracle
    // rebuilds FROM SCRATCH over the post-compaction corpus, so the
    // hash match proves compacted ≡ rebuilt. Pre-built by the bench
    // driver (IncrementContract.prebuildBases); re-runs are pure reads.
    "q_tfidf_compact" -> ((s, dir) => {
      val path = graft.functions.TokenStore.store.ensureCompacted(s, dir)
      tfidfOf(s.read.parquet(s"$path/tf"),
        t(s, dir, "documents")
          .filter(!graft.IncrementContract.isRemoved(col("doc_id")))
          .agg(count(lit(1)).as("n")))
    }),

    // Zipf-law fit per language: regression slope of log2(freq) on
    // log2(rank) over the token frequency table, plus R² — the
    // vocabulary-health diagnostic (natural text ≈ -1 slope with high R²;
    // synthetic/templated text is flatter). Frequencies and ranks are
    // exact integers, log2-of-integer is the proven-portable transform
    // (q_token_entropy), and regr_slope/regr_r2 follow the q_agg_corr
    // idiom under the portable round. One corpus token aggregate
    // (vocabulary-bounded), then a per-lang window on the tiny freq
    // table — nothing downstream of the first aggregate scales with the
    // corpus.
    "q_zipf_slope" -> ((s, dir) => {
      // stored TokenStore rows re-weighted by tf (empty tokens filtered
      // on the scan, matching the inline w <> '' gate)
      val freq = graft.functions.TokenStore.termFreq(s, dir)
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(sum(col("tf")).as("n"))
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("w"))
      freq
        .withColumn("r", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_vocab"),
          pround4(regr_slope(log2(col("n").cast("double")),
            log2(col("r").cast("double")))).as("zipf_slope"),
          pround4(regr_r2(log2(col("n").cast("double")),
            log2(col("r").cast("double")))).as("r2"))
        .orderBy("lang")
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_cooccur_pmi" ->
      """WITH toks AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' '))
        |    AS t FROM documents),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |w AS (SELECT doc_id, UNNEST(t) AS w FROM toks),
        |cw AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        |pairs AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.w < b.w),
        |cp AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2)
        |SELECT w1, w2, c12,
        |  FLOOR(LN(CAST(c12 AS DOUBLE) * nd / (ca.c * cb.c)) * 10000 + 0.5)
        |    / 10000 AS pmi
        |FROM cp, n
        |JOIN cw ca ON ca.w = cp.w1 JOIN cw cb ON cb.w = cp.w2
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
        |    FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |grams AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(
        |    RANGE(1, LEN(t)), i -> ARRAY_TO_STRING(t[i : i + 1], ' '))) AS g
        |  FROM toks),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
        |sig AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_g,
        |    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_g
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(top_c AS BIGINT) AS top_c,
        |  CAST(n_g AS BIGINT) AS n_g,
        |  FLOOR((CAST(top_c AS DOUBLE) / n_g) * 10000 + 0.5) / 10000 AS top_frac,
        |  FLOOR((CAST(dup_g AS DOUBLE) / n_g) * 10000 + 0.5) / 10000 AS dup_frac,
        |  CAST(CASE WHEN top_c * 12 <= n_g AND dup_g * 4 <= n_g
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,

    "q_length_hist" ->
      """WITH n AS (SELECT source, LEN(STRING_SPLIT(text, ' ')) AS nt
        |    FROM documents),
        |b AS (SELECT source, CAST(FLOOR(nt / 32.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS n_docs FROM n GROUP BY source, bucket)
        |SELECT source, bucket, n_docs,
        |  FLOOR((CAST(n_docs AS DOUBLE) /
        |    SUM(n_docs) OVER (PARTITION BY source)) * 10000 + 0.5) / 10000
        |    AS share
        |FROM b ORDER BY source, bucket""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_toks,
        |  FLOOR((CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000 AS avg_toks,
        |  FLOOR((CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000 AS avg_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    LEN(toks) AS n_toks,
        |    LEN(LIST_DISTINCT(toks)) AS n_uniq,
        |    LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(
        |      ['data', 'processing', 'the', 'and', 'of'], x))) AS n_stop
        |  FROM d WHERE LEN(toks) >= 1)
        |SELECT doc_id, CAST(n_toks AS INT) AS n_toks, CAST(n_uniq AS INT) AS n_uniq,
        |  FLOOR((CAST(n_uniq AS DOUBLE) / n_toks) * 10000 + 0.5) / 10000 AS ttr,
        |  FLOOR((CAST(n_stop AS DOUBLE) / n_toks) * 10000 + 0.5) / 10000 AS stop_ratio,
        |  FLOOR(((CAST(n_uniq AS DOUBLE) / n_toks)
        |    * (1.0 - CAST(n_stop AS DOUBLE) / n_toks)
        |    * LEAST(CAST(1.0 AS DOUBLE), CAST(n_toks AS DOUBLE) / 50)) * 10000 + 0.5) / 10000 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_ngrams" ->
      """SELECT bigram, COUNT(*) AS cnt FROM (
        |  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM (SELECT STRING_SPLIT(text, ' ') AS toks FROM documents
        |        WHERE LEN(STRING_SPLIT(text, ' ')) >= 2))
        |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin,

    "q_explode_tokens" ->
      """SELECT doc_id, CAST(i AS INT) AS pos, tok FROM (
        |  SELECT doc_id, GENERATE_SUBSCRIPTS(toks, 1) AS i,
        |         UNNEST(toks) AS tok
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
        |        FROM documents WHERE doc_id < 30))
        |ORDER BY doc_id, pos""".stripMargin,

    "q_token_count" ->
      """WITH d AS (
        |  SELECT lang, text, STRING_SPLIT(text, ' ') AS toks FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(toks)) AS BIGINT) AS ws_toks,
        |  CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+'))) AS BIGINT) AS alnum_toks,
        |  CAST(SUM(CAST(LIST_SUM(LIST_TRANSFORM(toks,
        |    t -> CAST(CEIL(LEN(t) / 4.0) AS BIGINT))) AS BIGINT)) AS BIGINT) AS subword_est,
        |  FLOOR((CAST(SUM(CAST(LIST_SUM(LIST_TRANSFORM(toks,
        |    t -> CAST(CEIL(LEN(t) / 4.0) AS BIGINT))) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*)) * 10000 + 0.5) / 10000 AS avg_subwords
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q_tfidf" -> tfidfOracle,

    // the incremental twin rides the SAME from-scratch oracle: a hash
    // match proves the persisted-base + arriving-batch merge ranks
    // identically to a full rebuild of the token relation
    "q_tfidf_incr" -> tfidfOracle,

    // the compaction twin rebuilds from scratch over the
    // post-compaction corpus (removed docs gone, updated text seen)
    "q_tfidf_compact" -> tfidfCompactOracle,

    "q_zipf_slope" ->
      """WITH freq AS (SELECT lang, w, COUNT(*) AS n
        |  FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY lang, w),
        |rk AS (SELECT lang, w, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, w) AS r
        |  FROM freq)
        |SELECT lang, COUNT(*) AS n_vocab,
        |  FLOOR(REGR_SLOPE(LOG2(CAST(n AS DOUBLE)), LOG2(CAST(r AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS zipf_slope,
        |  FLOOR(REGR_R2(LOG2(CAST(n AS DOUBLE)), LOG2(CAST(r AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS r2
        |FROM rk GROUP BY lang ORDER BY lang""".stripMargin
  )

  /** From-scratch TF-IDF SQL — shared by q_tfidf (stored-artifact read)
    * and q_tfidf_incr (persisted base + arriving batch): both must
    * hash-match the full rebuild's ranking. */
  private lazy val tfidfOracle: String = tfidfSql("", "documents")

  /** The compaction proof's oracle: the SAME from-scratch TF-IDF, over
    * the post-compaction corpus (IncrementContract.compactedCorpusSql) —
    * a hash match proves the compacted store ranks identically to a
    * rebuild that never saw the removed docs and saw the updated text. */
  private lazy val tfidfCompactOracle: String = tfidfSql(
    s"corpus AS (${graft.IncrementContract.compactedCorpusSql}),", "corpus")

  private def tfidfSql(pre: String, src: String): String =
    s"""WITH $pre tok AS (
      |  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
      |  FROM $src),
      |dfq AS (SELECT w, COUNT(DISTINCT doc_id) AS dfc FROM tok GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM $src),
      |tf AS (SELECT lang, w, COUNT(*) AS tf FROM tok GROUP BY lang, w),
      |scored AS (
      |  SELECT lang, w, tf,
      |    FLOOR((tf * LN((n.n + 1.0) / (dfc + 1.0))) * 10000 + 0.5) / 10000
      |      AS score
      |  FROM tf JOIN dfq USING (w) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY score DESC, w ASC) AS rn
      |  FROM scored)
      |SELECT lang, rn, w AS term, tf, score FROM ranked
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin
}
