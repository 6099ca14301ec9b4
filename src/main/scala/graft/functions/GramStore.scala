package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-once persisted TOKENIZE→SHINGLE relations of a fixture corpus —
  * the round-10 verdict's "shared gram artifact" (task #2): q_novelty,
  * q_mix_knapsack, q_containment and q_span_dedup each re-derived the
  * same (doc, shingle) relation from raw text per query (~11.8 s combined
  * at sf1) while the minhash family already persisted its own gram store
  * (DedupQueries.ensureIncBase). This object promotes the two shingle
  * grains those consumers share to first-class stored relations under the
  * q_dedup_cluster read-path discipline: derive once per corpus, read
  * many; the DuckDB oracles stay FROM-SCRATCH, so every consumer's hash
  * match proves stored ≡ derived on every sweep.
  *
  *   - `sh3/`   (doc_id, source, sh, shh): DISTINCT 3-token shingles per
  *     doc — `sh` the shingle string (q_novelty / q_mix_knapsack group on
  *     it), `shh` its 60-bit md5-prefix BIGINT (stored so the md5 is
  *     paid once per corpus, not per query);
  *   - `sh3h/`  (doc_id, shh): the HASH-distinct projection — exactly
  *     q_containment's join input, stored so its shingle-grain distinct
  *     shuffle is paid once per corpus;
  *   - `span8/` (doc_id, span_h): ALL 8-token sliding-window span hashes
  *     (NOT distinct — q_span_dedup counts every span occurrence);
  *   - `gram5/` (doc_id, g): per-doc DISTINCT 5-token grams — the
  *     decontamination grain (q_decontaminate / q_curation_pipeline).
  *
  * Every relation holds PER-DOC ROWS, so the [[DocStore]] protocol
  * applies: appending a batch of new doc ids is exact, appendDocs(
  * write(C), B) ≡ write(C ∪ B) row-for-row (GramStoreSpec pins it), and
  * an updated document goes through the store's delete+append
  * compaction.
  *
  * Scale posture (100 TB): the artifact is the corpus's tokenize output
  * materialized once — every consumer's remaining work is shuffle-shaped
  * over narrow rows (string shingle + 8-byte hash), never a text re-scan.
  * At warehouse scale store sh3 bucketed by shh and span8 by span_h so
  * the grain-level aggregates run exchange-free on the stored side; the
  * fixture artifact keeps plain parquet (the consumers' one aggregate
  * shuffle each is the same they always paid — the saving is the
  * repeated tokenize+md5 CPU, the dominant term measured at sf1).
  * Cache keying: the dir tag folds the fixture's content manifest
  * (Artifacts.dirTag), so regenerating a fixture in place invalidates
  * the store automatically.
  */
object GramStore {

  /** The DISTINCT (doc_id, source, sh, shh) 3-token shingle relation —
    * byte-identical rows to what q_novelty/q_mix_knapsack derived inline
    * (they project sh, q_containment projects shh). explode_OUTER, same
    * reason as DedupQueries.simhashSigs: plain explode lets
    * InferFiltersFromGenerate re-run the whole gram build as a scan-side
    * filter; the size guard already excludes empty arrays. */
  private[graft] def buildSh3(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), explode_outer(
        WordGrams.grams(col("toks"), 3, distinct = false)).as("sh"))
      .distinct()
      .select(col("doc_id"), col("source"), col("sh"),
        conv(substring(md5(col("sh").cast("binary")), 1, 15), 16, 10)
          .cast("bigint").as("shh"))

  /** DISTINCT (doc_id, shh) 60-bit shingle-hash rows — q_containment's
    * exact input grain, DERIVED from [[buildSh3]] output (distinct on
    * the HASH: two in-doc shingles could md5-collide — ~2^-60/pair —
    * and the oracle de-dups on the hash, so the stored relation must
    * too). Stored separately so the biggest per-query shuffle of the
    * containment family (the shingle-grain distinct) is paid once per
    * corpus. This from-docs form is the SPEC's independent mirror; the
    * [[store]] derives sh3h from the already-materialized sh3 relation
    * instead — identical rows by construction (shh is a pure function of
    * sh), without re-running the tokenize+md5 pass the store exists to
    * amortize. */
  private[graft] def buildSh3h(docs: DataFrame): DataFrame =
    buildSh3(docs).select(col("doc_id"), col("shh")).distinct()

  /** Per-doc DISTINCT 5-token grams (doc_id, g) — the decontamination
    * grain (PipelineQueries.fiveGrams verbatim: per-doc array_distinct
    * ≡ distinct (doc_id, g) rows, the oracle's SELECT DISTINCT). */
  private[graft] def buildGram5(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode_outer(
        WordGrams.grams(col("t"), 5, distinct = true)).as("g"))

  /** Per-doc BIGRAM COUNTS (doc_id, w1, w2, c) — the bigram-family
    * grain (round-11 extension: q_repetition / q_ngrams /
    * q_bigram_logprob each re-derived it): counts per distinct in-doc
    * adjacent pair, UNFILTERED (q_repetition and q_ngrams keep
    * empty-string tokens; q_bigram_logprob drops them on read). The
    * (w1, w2) pair is stored split, not as the joined gram string —
    * tokens are space-split so the two forms biject, and the LM
    * consumer needs the components. Docs under 2 tokens have no rows
    * (mirrored by every consumer's size ≥ 2 gate or inner join). */
  private[graft] def buildGram2(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      // explode the POSITION sequence and project the pair components
      // in the same codegen stage (the q_char_trigrams discipline; the
      // struct-transform lambda ran interpreted per position).
      // explode_OUTER: see buildSh3 — the size guard excludes empty
      // position arrays, so the row sets are identical and no inferred
      // filter re-inlines the build
      .select(col("doc_id"), col("t"),
        explode_outer(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .groupBy(col("doc_id"), element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
      .agg(count(lit(1)).as("c"))

  /** ALL (doc_id, span_h) 8-token span hashes — q_span_dedup's span
    * relation verbatim (60-bit md5-prefix keys; a collision would be the
    * same collision in the oracle). */
  private[graft] def buildSpan8(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      // native gram build + md5 projected in the SAME codegen stage
      // (the interpreted lambda ran slice+join+md5 per position)
      .select(col("doc_id"), explode_outer(
        WordGrams.grams(col("toks"), 8, distinct = false)).as("span"))
      .select(col("doc_id"),
        conv(substring(md5(col("span").cast("binary")), 1, 15), 16, 10)
          .cast("bigint").as("span_h"))

  /** The five-grain store (kind `store`; bucketed projections `sh3b/`
    * on the shingle string and `span8b/` on the span hash, catalog
    * `graft_grams_{sh3,span8}_<tag>`). One derivation pass per doc set
    * (full-corpus build or arriving batch): sh3 materializes once and
    * also feeds the sh3h projection — the tokenize+md5+per-doc-distinct
    * is the store's dominant cost, and paying it twice per build/append
    * would halve the point of the artifact. span8/gram5/gram2 tokenize
    * separately (different window widths over the raw text). */
  private[graft] val store = new DocStore("grams",
    Seq("sh3", "sh3h", "span8", "gram5", "gram2"), Seq(
      DocStore.Projection("sh3", "sh",
        "doc_id BIGINT, source STRING, sh STRING, shh BIGINT",
        "graft_grams_sh3"),
      DocStore.Projection("span8", "span_h", "doc_id BIGINT, span_h BIGINT",
        "graft_grams_span8")))({ docs =>
    val sh3 = Materialize(buildSh3(docs))
    Seq(sh3, sh3.select(col("doc_id"), col("shh")).distinct(),
      buildSpan8(docs), buildGram5(docs), buildGram2(docs))
  })

  /** The novelty grain alone (family `grams`, kinds `base` for
    * q_novelty_incr and `cmp` for q_novelty_compact — the proof artifact
    * carries only the novelty grain; the five-grain store's compaction
    * is spec-pinned by CompactStoreSpec). */
  private[graft] val sh3Store =
    new DocStore("grams", Seq("sh3"))(docs => Seq(buildSh3(docs)))

  /** The stored sh3 relation of a fixture corpus (builds on first touch;
    * steady state: an exchange-free parquet scan). */
  def shingles3(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "sh3")

  /** sh3 bucketed+sorted on the shingle string — q_novelty's and
    * q_mix_knapsack's first-occurrence aggregates (groupBy sh, the
    * family's dominant shuffle) run exchange-free on the stored side. */
  def shingles3Bucketed(s: SparkSession, dir: String): DataFrame =
    store.bucketed(s, dir, "sh3")

  /** span8 bucketed+sorted on the span hash — q_span_dedup's span-grain
    * aggregate AND its join back to the span relation both cluster on
    * span_h, so neither exchanges the stored side. */
  def spans8Bucketed(s: SparkSession, dir: String): DataFrame =
    store.bucketed(s, dir, "span8")

  /** The stored distinct (doc_id, shh) hash relation. */
  def shingles3Hashed(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "sh3h")

  /** The stored span8 relation of a fixture corpus. */
  def spans8(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "span8")

  /** The stored per-doc-distinct 5-gram relation. */
  def grams5(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "gram5")

  /** The stored per-doc bigram-count relation. */
  def grams2(s: SparkSession, dir: String): DataFrame =
    store.stored(s, dir, "gram2")
}
