package graft.operators

import graft.QueryModule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 L — statistical corpus/stream analytics: information-
  * theoretic text quality (token entropy, unigram LM log-prob), daily
  * event-count anomaly z-scores, a salted skew-proof join proven equal to
  * the plain join, and integer-exact edit-distance near-dup verification.
  *
  * Determinism: entropy/log-prob use LOG2 over integer counts (continuous
  * outputs under the portable round, same class as the cosine/stddev
  * queries); z-scores compare on the ROUNDED value so the ±2 anomaly flag
  * can never flip on a cross-engine ulp; levenshtein is integer-exact in
  * both engines (cast to BIGINT — DuckDB returns int64, Spark int32).
  *
  * Scale notes (100 TB posture):
  *   - q_token_entropy / q_unigram_logprob are the word-count plan: the
  *     generator explodes inside codegen, partial aggregation runs map-side,
  *     and post-shuffle state is bounded by |vocab| × docs-per-partition.
  *     The unigram model (vocab, count) is vocabulary-bounded → broadcast;
  *     the corpus total is a 1-row broadcast. No join shuffles the corpus.
  *   - q_event_anomaly aggregates to (event_type × day) — bounded output —
  *     before any window; the windows run over the aggregated relation.
  *   - q_join_skew_salt is the skew recipe as a driver-gated equivalence:
  *     fact rows spread a hot key over 8 salt shards (pmod on a unique id),
  *     the dim side replicates ×8 via explode(sequence) — shuffle of the
  *     hot key divides by 8 while results stay bit-identical to the plain
  *     join the oracle runs. At 100 TB you'd gate the salting on observed
  *     key skew (AQE skew-join handles moderate cases for free).
  *   - q_agg_corr / q_source_hhi aggregate to bounded outputs in one pass;
  *     HHI is Σ n_i²/N² over exact integers — a single double division per
  *     row, bit-identical cross-engine before the round.
  *   - q_type_overlap dedups (type, user) first — the pair self-join runs
  *     on the deduped relation, and the 5×5 output is bounded by the type
  *     alphabet, not the stream.
  *   - q_char_trigrams generates grams INSIDE the row (transform over
  *     sequence) — the word-count plan; post-shuffle state is bounded by
  *     the trigram alphabet.
  *   - q_editdist_pairs blocks on (lang, 24-char prefix) so candidate
  *     fan-out is per-bucket quadratic only within tiny buckets (max 2 at
  *     the fixtures); levenshtein is O(len²) per PAIR, so the blocking key
  *     — not the verify — is the scale lever. At 100 TB swap the prefix
  *     block for MinHash bands (functions/MinHashDedup) and keep this
  *     verify stage unchanged.
  */
object AnalyticsQueries extends QueryModule {

  override def queries: Map[String, Q] = Map(
    // Per-document unigram token entropy (bits): H = log2(N) - Σ n·log2(n)/N
    // — a repetition/diversity quality signal (low entropy ⇒ boilerplate).
    "q_token_entropy" -> ((s, dir) => {
      // the stored TokenStore tf rows ARE the (doc, w, n) relation the
      // inline derivation aggregated to (empty tokens filtered on scan)
      graft.functions.TokenStore.termFreq(s, dir)
        .filter(col("w") =!= "")
        .select(col("doc_id"), col("w"), col("tf").as("n"))
        .groupBy("doc_id")
        .agg(
          sum(col("n")).as("n_toks"),
          pround4(log2(sum(col("n")).cast("double"))
            - sum(col("n").cast("double") * log2(col("n").cast("double")))
              / sum(col("n"))).as("entropy"))
        .orderBy("doc_id")
    }),

    // Unigram LM scoring (perplexity proxy): corpus unigram distribution →
    // per-doc mean log2 p(token). The LM side of quality filtering (docs
    // of improbable tokens score low). Vocab and corpus total broadcast.
    "q_unigram_logprob" -> ((s, dir) => {
      // The (doc, word, count) relation is the write-once TokenStore
      // artifact (round-11) — the per-query Materialize barrier existed
      // only to pay the tokenize + (doc, w) aggregate once for the two
      // consumers (model side, scoring side); the stored parquet is that
      // barrier made durable, and this query's from-scratch oracle
      // proves stored ≡ derived on every sweep.
      val dw = graft.functions.TokenStore.termFreq(s, dir)
        .filter(col("w") =!= "")
        .select(col("doc_id"), col("w"), col("tf").as("c_dw"))
      val vocab = dw.groupBy("w").agg(sum(col("c_dw")).as("c_w"))
      val tot = vocab.agg(sum(col("c_w")).as("c_tot"))
      dw.join(broadcast(vocab), Seq("w"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          sum(col("c_dw")).as("n_toks"),
          pround4(sum(col("c_dw").cast("double")
              * (log2(col("c_w").cast("double"))
                - log2(col("c_tot").cast("double"))))
            / sum(col("c_dw"))).as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Bigram LM scoring — the step past q_unigram_logprob and the exact
    // shape of perplexity-based quality filtering [Wenzek et al. 2020,
    // CCNet]: train an add-half-smoothed bigram model on the corpus,
    // score every doc by its mean log2 p(w2|w1), drop the tail. The
    // conditional is (c12+0.5)/(c1+0.5·V) with V the token vocabulary.
    // Per-(doc,bigram) contributions are scaled to BIGINTs before the
    // per-doc SUM (unlike the unigram's doc-local double sum, bigram
    // terms are numerous enough to hit reordering); the model join is
    // (w1,w2)-keyed — broadcast at fixture vocab, shuffle at web scale.
    "q_bigram_logprob" -> ((s, dir) => {
      // served from the write-once GramStore.gram2 artifact (round-11):
      // the stored per-doc bigram counts replace the per-query tokenize
      // + Materialize barrier (the rollup this query once avoided as a
      // per-query shuffle is exactly what the store pays once per
      // corpus), and per-occurrence BIGINT contributions re-weight by c
      // (c identical terms sum to c·ti exactly). The vocabulary count
      // reads the TokenStore word grain — no tokenize anywhere.
      val bi = graft.functions.GramStore.grams2(s, dir)
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val model = bi.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))
      val first = model.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val vocab = graft.functions.TokenStore.termFreq(s, dir)
        .filter(col("w") =!= "").agg(countDistinct(col("w")).as("v"))
      bi.join(model, Seq("w1", "w2"))
        .join(first, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("c"),
          floor((log2(col("c12") + 0.5) -
            log2(col("c1") + lit(0.5) * col("v"))) * lit(1e10) + lit(0.5))
            .cast("bigint").as("ti"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bi"), sum(col("c") * col("ti")).as("sti"))
        .select(col("doc_id"), col("n_bi"),
          pround4(col("sti").cast("double") / lit(1e10) / col("n_bi"))
            .as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Daily event-count anomaly detection: z-score of each (type, day)
    // count against that type's own daily distribution; |z| > 2 flags.
    // The flag is computed from the ROUNDED z on both sides.
    "q_event_anomaly" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
      // DATE-typed outputs diff as datetime.date vs Timestamp through
      // pandas — serialize to ISO string on both sides.
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("day"), col("n"),
          pround4((col("n") - avg(col("n")).over(w))
            / stddev_samp(col("n")).over(w)).as("z"))
        .withColumn("is_anomaly", (abs(col("z")) > 2).cast("int"))
        .orderBy("event_type", "day")
    }),

    // Salted skew-proof join, proven equal to the plain join: per-user
    // first-seen cohort dim × event fact, fact salted by pmod(event_id, 8),
    // dim replicated ×8. The oracle runs the UNSALTED join — identical
    // output is the correctness contract of the rewrite.
    "q_join_skew_salt" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("user_id")
        .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("first_day"))
        .select(col("user_id"), col("first_day"),
          explode(sequence(lit(0), lit(7))).as("salt"))
      val fact = ev.select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(8)).cast("int").as("salt"))
      fact.join(dim, Seq("user_id", "salt"))
        .groupBy("first_day")
        .agg(count(lit(1)).as("n_events"),
          pround4(sum(col("value").cast("decimal(18,4)")).cast("double"))
            .as("total_value"))
        .orderBy("first_day")
    }),

    // Correlation aggregates: Pearson corr + sample covariance of event
    // value vs hour-of-day, per type. corr/covar are the remaining
    // statistical aggregates §2.3 D didn't cover (stddev/variance are in
    // q_agg_stats); continuous outputs under the portable round.
    "q_agg_corr" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          hour(col("ts")).cast("double").as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          pround4(corr(col("value"), col("h"))).as("corr_vh"),
          pround4(covar_samp(col("value"), col("h"))).as("covar_vh"))
        .orderBy("event_type")
    }),

    // Audience-overlap matrix: Jaccard similarity of the distinct-user
    // sets of every event-type pair — the set-similarity operator applied
    // to behavioral segments (bounded 5×5 output). One user_id shuffle
    // for the distinct; the pair join runs on the deduped relation.
    "q_type_overlap" -> ((s, dir) => {
      // One distinct shuffle, three consumers (sizes + both self-join
      // sides) — materialize it once instead of re-scanning events 3×.
      val su = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .transform(graft.functions.Materialize(_))
      val sizes = su.groupBy("event_type")
        .agg(count(lit(1)).as("sz"))
      val inter = su.as("a").join(su.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("sz", "sz_a")), Seq("type_a"))
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("sz", "sz_b")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          pround4(col("n_both").cast("double")
            / (col("sz_a") + col("sz_b") - col("n_both"))).as("jaccard"))
        .orderBy("type_a", "type_b")
    }),

    // Corpus-mix concentration: per-source language Herfindahl index
    // (HHI = Σ share²). Computed as Σ n_i² / N² over exact integers —
    // ONE double division per row, so both engines produce bit-identical
    // doubles before the round (no accumulation-order drift at all).
    "q_source_hhi" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"),
          sum(col("n")).as("n_docs"),
          pround4(sum(col("n") * col("n")).cast("double")
            / (sum(col("n")) * sum(col("n")))).as("hhi"))
        .orderBy("source")
    }),

    // Character-trigram mining: corpus top-20 char 3-grams — the
    // character-level counterpart of q_ngrams (language/script profiling
    // signal). Trigrams are generated INSIDE the row (transform over
    // sequence), then the word-count plan; post-shuffle state is bounded
    // by the trigram alphabet.
    "q_char_trigrams" -> ((s, dir) => {
      // Codegen-friendly formulation: explode the POSITION sequence
      // (integers) and take the trigram with a plain substring projection
      // in the same stage. The transform-lambda flavor ran the whole
      // corpus through an interpreted HOF (13M lambda substrings at sf1
      // ≈ 16 s); with the scan spread this measures 5.7x faster, and the
      // exploded (text × position) grain streams — never materialized.
      // explode_OUTER so no size(sequence(...)) filter is inferred (it
      // would allocate the position array twice per row just to check
      // non-emptiness); length >= 3 guarantees at least one position.
      t(s, dir, "documents")
        // single-row-group fixture parquet = one scan task; spread the
        // cheap raw text BEFORE the 263x explode fan-out so the trigram
        // build parallelizes (the q_ngram_jaccard discipline)
        .repartition(col("doc_id"))
        .filter(length(col("text")) >= 3)
        .select(col("text"),
          explode_outer(sequence(lit(1), length(col("text")) - 2)).as("i"))
        .select(expr("substring(text, i, 3)").as("g"))
        .groupBy("g").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g"))
        .limit(20)
    }),

    // Edit-distance near-dup verification: block on (lang, 24-char prefix),
    // verify candidate pairs with integer-exact levenshtein ≤ 20. The
    // character-level member of the dedup family (catches small in-place
    // edits that token-set Jaccard dilutes). Two result-preserving
    // accelerations over the naive verify (AnalyticsSpec proves equality):
    // dist ≤ 20 implies |len(a)-len(b)| ≤ 20, so that cheap integer
    // predicate rides the JOIN and prunes candidates before any DP runs;
    // and the threshold form levenshtein(a,b,20) runs the banded O(n·20)
    // DP instead of the full O(n·m) table, returning -1 past the bound.
    // Boilerplate-prefix corpora make the blocking key Zipfian (every
    // scraped page opening with the same 24 chars lands in one block), so
    // the self-join is grid-salted exactly like q_ngram_jaccard/
    // q_fuzzy_pairs — identical result set, a hot block's |B|² DP work
    // spread over S² shuffle cells.
    "q_editdist_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 24).as("blk"), col("text"),
          length(col("text")).as("len"))
      val (a, b) = graft.functions.GridSalt.sides(d, col("doc_id"))
      // cheap predicates ONLY in the join; texts ride to the verify stage
      val cand = a.join(b,
          col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk")
            && graft.functions.GridSalt.cellMatch
            && col("a.doc_id") < col("b.doc_id")
            && abs(col("a.len") - col("b.len")) <= 20)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.text").as("ta"), col("b.text").as("tb"))
      // The banded-DP verify runs behind a per-pair AGGREGATE, not a
      // post-join filter: `.filter(dist >= 0)` over a projection is pushed
      // by Catalyst INTO the join condition and PREPENDED to it, so the
      // O(len·20) DP ran before the cheap doc_id</length conjuncts — on
      // every hash-colliding row pair including self-pairs and both
      // orders (measured: 23 s for 2.6k true candidates at sf1, ~20x the
      // verify's real cost). Pairs are unique, so min(dist) IS dist, and
      // filters never push through an aggregate — one DP per candidate,
      // by construction. The pair shuffle is candidate-bounded and narrow.
      cand.groupBy("doc_a", "doc_b")
        .agg(min(levenshtein(col("ta"), col("tb"), 20)).cast("long")
          .as("dist"))
        .filter(col("dist") >= 0)
        .orderBy("doc_a", "doc_b")
    }),

    // Fuzzy entity resolution over part names: block on the head noun
    // (last token — bounded buckets, adjective typos don't split blocks),
    // verify with the native codegen Jaro-Winkler kernel (JaroImpl is
    // bit-exact vs the oracle's jaro_winkler_similarity — A/B'd over 3000
    // random pairs in JaroSpec). Threshold compares the ROUNDED score so
    // a boundary ulp can never flip membership. Same shape as
    // q_editdist_pairs: the blocking key is the scale lever, the verify
    // is per-pair O(len²)-ish and embarrassingly parallel. Nouns are a
    // bounded Zipfian vocabulary, so the self-join is grid-salted exactly
    // like q_ngram_jaccard — via the shared GridSalt helper (identical
    // result set; a hot noun bucket's |B|² verify work spreads over S²
    // shuffle cells).
    "q_fuzzy_pairs" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
        .withColumn("noun", element_at(split(col("p_name"), " "), -1))
      val (a, b) = graft.functions.GridSalt.sides(names, col("p_name"))
      // verify behind a per-pair aggregate — same pushdown hazard as
      // q_editdist_pairs: a post-join filter on the scored projection is
      // pushed into the join condition AHEAD of the cheap name<
      // conjunct, running the O(len²) Jaro DP on both orders + self-pairs
      a.join(b,
          col("a.noun") === col("b.noun") &&
            graft.functions.GridSalt.cellMatch &&
            col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
        .groupBy("name_a", "name_b")
        .agg(pround4(min(expr("jaro_winkler(name_a, name_b)"))).as("jw"))
        .filter(col("jw") >= 0.7)
        .orderBy("name_a", "name_b")
    }),

    // 2-D skyline (Pareto frontier) of orders: minimize (o_totalprice,
    // o_orderdate) — "no other order was both cheaper and earlier".
    // Sort-based, NOT the quadratic NOT-EXISTS formulation: group to
    // (price, earliest date), one prefix-min over the price-sorted GROUP
    // relation (|distinct prices| rows, not |orders|), then join the
    // survivors back to the fact. Dominance is strict-in-one: equal
    // (price, date) twins co-survive; an equal-price earlier date
    // dominates via the group min; an equal-date cheaper price dominates
    // via the strict prefix-min comparison. At 100 TB the prefix-min
    // runs as per-range-partition minima + a broadcast running-offset
    // pass (the ShardExport two-phase shape) — the grouped relation is
    // already orders-of-magnitude smaller than the fact.
    "q_skyline" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val grp = o.groupBy(col("o_totalprice").as("price"))
        .agg(min(col("o_orderdate")).as("mind"))
      val w = Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = grp.withColumn("prevmin", min(col("mind")).over(w))
        .filter(col("prevmin").isNull || col("mind") < col("prevmin"))
        .select(col("price"), col("mind"))
      o.join(sky,
          o("o_totalprice") === sky("price") &&
            o("o_orderdate") === sky("mind"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // Robust outlier detection on the daily event-count series: flag days
    // beyond 3 median-absolute-deviations — the z-score's heavy-tail-safe
    // sibling (q_event_anomaly's mean/stddev gets dragged by the very
    // outliers it hunts; the median doesn't). ALL-INTEGER arithmetic:
    // the rank-formula median of counts is carried ×2 (lo+hi middle
    // values), deviations ×2, the MAD ×4, and the 3-MAD test multiplies
    // both sides out (4·|dev| > 3·mad_x4) — no division or double ever
    // appears, so the flag can't flip on an engine ulp. One corpus
    // aggregate to the calendar grain; medians rank the ~30-row daily
    // relation; at 100 TB the count-median swaps in a bottom-k/quantile
    // sketch (q_quantile_sketch) with the same comparison contract.
    "q_mad_outlier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      // med_x2 = n[lo] + n[hi] over the count-ranked days (lo = hi when
      // the day count is odd — the sum double-counts the single middle)
      val cnt = daily.agg(count(lit(1)).as("cnt"))
      val ranked = daily
        .withColumn("rn", row_number().over(Window.orderBy(col("n"), col("d"))))
        .crossJoin(broadcast(cnt))
      val med = ranked
        .agg((sum(when(col("rn") === expr("(cnt + 1) DIV 2"), col("n")))
          + sum(when(col("rn") === expr("(cnt + 2) DIV 2"), col("n"))))
          .as("med_x2"))
      val dev = daily.crossJoin(broadcast(med))
        .withColumn("dev_x2", abs(col("n") * 2 - col("med_x2")))
      val rankedDev = dev
        .withColumn("rn", row_number().over(
          Window.orderBy(col("dev_x2"), col("d"))))
        .crossJoin(broadcast(cnt))
      val mad = rankedDev
        .agg((sum(when(col("rn") === expr("(cnt + 1) DIV 2"), col("dev_x2")))
          + sum(when(col("rn") === expr("(cnt + 2) DIV 2"), col("dev_x2"))))
          .as("mad_x4"))
      dev.crossJoin(broadcast(mad))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n"), col("dev_x2"), col("mad_x4"),
          when(col("dev_x2") * 2 > col("mad_x4") * 3, 1L).otherwise(0L)
            .as("is_outlier"))
        .orderBy("day")
    }),

    // Market-basket association rules over order baskets: for every part
    // pair co-purchased in ≥2 orders, support/confidence/lift from exact
    // integer counts (the recommender-bootstrap table). The pair
    // generation is the triangle census's co-purchase self-join —
    // canonical a<b orientation, per-order fan-out bounded by basket
    // size², shuffles keyed on single part ids; item counts and the
    // order total are bounded side relations (the total a 1-row
    // broadcast). Ratios are single IEEE divisions of integers under
    // the portable round — bit-identical cross-engine.
    "q_market_basket" -> ((s, dir) => {
      // r13 A/B: materializing this distinct relation for its four
      // consumers measured 1.15× the CPU of re-derivation — the two
      // broadcast sides already reuse the distinct's exchange
      // (ReusedExchange in the executed plan), so the localCheckpoint
      // write+read only added cost; left as-is deliberately
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("item_a"), col("b.pk").as("item_b"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 2)
      val itemN = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val total = li.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .join(itemN.select(col("pk").as("item_a"), col("n_item").as("n_a")),
          "item_a")
        .join(itemN.select(col("pk").as("item_b"), col("n_item").as("n_b")),
          "item_b")
        .crossJoin(broadcast(total))
        .select(col("item_a"), col("item_b"), col("n_both"),
          pround4(col("n_both").cast("double") / col("n_orders"))
            .as("support"),
          pround4(col("n_both").cast("double") / col("n_a"))
            .as("confidence"),
          pround4(col("n_both").cast("double") * col("n_orders")
            / (col("n_a") * col("n_b"))).as("lift"))
        .orderBy("item_a", "item_b")
    }),

    // Two-proportion A/B z-test: users split by id parity, conversion =
    // a heavy purchaser (≥14 purchase events — the fixture median, so
    // both cells land strictly inside (0,1) and the pooled variance
    // can't ANSI-divide-by-zero); z = (pA−pB)/√(p̂(1−p̂)(1/nA+1/nB)).
    // The z itself is continuous math (identical op order both sides,
    // portable-rounded); the SIGNIFICANCE VERDICT compares the ×10⁴
    // INTEGER against 19600 so the |z| > 1.96 flag can never flip on an
    // ulp. One corpus aggregate to the user grain, then a 2-row variant
    // aggregate — the experimentation-readout pattern.
    "q_ab_test" -> ((s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("np"))
        .withColumn("converted", when(col("np") >= 14, 1).otherwise(0))
        .withColumn("variant",
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
      // both variant cells in ONE conditional aggregate — a single pass
      // over the user relation, no join in the plan at all
      val ab = users.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("converted").cast("bigint"))
          .otherwise(0L)).as("x_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("converted").cast("bigint"))
          .otherwise(0L)).as("x_b"))
      ab
        .withColumn("z_e4", floor(
          ((col("x_a").cast("double") / col("n_a")
            - col("x_b").cast("double") / col("n_b"))
            / sqrt(((col("x_a") + col("x_b")).cast("double")
                / (col("n_a") + col("n_b")))
              * (lit(1.0) - (col("x_a") + col("x_b")).cast("double")
                / (col("n_a") + col("n_b")))
              * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
            * 10000 + lit(0.5)).cast("bigint"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          pround4(col("x_a").cast("double") / col("n_a")).as("p_a"),
          pround4(col("x_b").cast("double") / col("n_b")).as("p_b"),
          col("z_e4"),
          when(abs(col("z_e4")) > 19600, 1L).otherwise(0L)
            .as("significant"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_token_entropy" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |    FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS n FROM tok
        |    WHERE LENGTH(w) > 0 GROUP BY doc_id, w)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_toks,
        |  FLOOR((LOG2(CAST(SUM(n) AS DOUBLE))
        |    - SUM(CAST(n AS DOUBLE) * LOG2(CAST(n AS DOUBLE))) / SUM(n))
        |    * 10000 + 0.5) / 10000 AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, w FROM (SELECT doc_id,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        |    WHERE LENGTH(w) > 0),
        |dw AS (SELECT doc_id, w, COUNT(*) AS c_dw FROM tok
        |    GROUP BY doc_id, w),
        |vocab AS (SELECT w, COUNT(*) AS c_w FROM tok GROUP BY w),
        |tot AS (SELECT SUM(c_w) AS c_tot FROM vocab)
        |SELECT doc_id, CAST(SUM(c_dw) AS BIGINT) AS n_toks,
        |  FLOOR((SUM(CAST(c_dw AS DOUBLE)
        |      * (LOG2(CAST(c_w AS DOUBLE)) - LOG2(CAST(c_tot AS DOUBLE))))
        |    / SUM(c_dw)) * 10000 + 0.5) / 10000 AS avg_logprob
        |FROM dw JOIN vocab USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bigram_logprob" ->
      """WITH bi AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
        |        FROM documents),
        |    UNNEST(RANGE(1, LEN(t))) AS u(i)
        |  WHERE t[u.i] <> '' AND t[u.i + 1] <> ''),
        |model AS (SELECT w1, w2, COUNT(*) AS c12
        |  FROM bi GROUP BY w1, w2),
        |fst AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
        |  FROM model GROUP BY w1),
        |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM
        |  (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |ti AS (SELECT doc_id,
        |    CAST(FLOOR((LOG2(c12 + 0.5) - LOG2(c1 + 0.5 * v))
        |      * 1e10 + 0.5) AS BIGINT) AS ti
        |  FROM bi JOIN model USING (w1, w2) JOIN fst USING (w1)
        |  CROSS JOIN vocab)
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  FLOOR(CAST(SUM(ti) AS DOUBLE) / 1e10 / COUNT(*) * 10000 + 0.5)
        |    / 10000 AS avg_logprob
        |FROM ti GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_event_anomaly" ->
      """WITH d AS (SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day,
        |    COUNT(*) AS n FROM events GROUP BY event_type, day),
        |z AS (SELECT event_type, day, n,
        |    FLOOR(((n - AVG(n) OVER w) / STDDEV_SAMP(n) OVER w)
        |      * 10000 + 0.5) / 10000 AS z
        |  FROM d WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, day, n, z,
        |  CAST(ABS(z) > 2 AS INT) AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin,

    "q_join_skew_salt" ->
      """WITH dim AS (SELECT user_id, STRFTIME(MIN(ts), '%Y-%m-%d')
        |      AS first_day
        |    FROM events GROUP BY user_id)
        |SELECT dim.first_day, COUNT(*) AS n_events,
        |  FLOOR(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
        |    * 10000 + 0.5) / 10000 AS total_value
        |FROM events e JOIN dim ON e.user_id = dim.user_id
        |GROUP BY dim.first_day ORDER BY dim.first_day""".stripMargin,

    "q_agg_corr" ->
      """SELECT event_type, COUNT(*) AS n,
        |  FLOOR(CORR(value, CAST(HOUR(ts) AS DOUBLE)) * 10000 + 0.5)
        |    / 10000 AS corr_vh,
        |  FLOOR(COVAR_SAMP(value, CAST(HOUR(ts) AS DOUBLE)) * 10000 + 0.5)
        |    / 10000 AS covar_vh
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_type_overlap" ->
      """WITH su AS (SELECT DISTINCT event_type, user_id FROM events),
        |sizes AS (SELECT event_type, COUNT(*) AS sz FROM su
        |    GROUP BY event_type),
        |inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM su a JOIN su b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY type_a, type_b)
        |SELECT type_a, type_b, n_both,
        |  FLOOR((CAST(n_both AS DOUBLE) / (sa.sz + sb.sz - n_both))
        |    * 10000 + 0.5) / 10000 AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "q_source_hhi" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents
        |    GROUP BY source, lang)
        |SELECT source, COUNT(*) AS n_langs,
        |  CAST(SUM(n) AS BIGINT) AS n_docs,
        |  FLOOR((CAST(SUM(n * n) AS DOUBLE) / (SUM(n) * SUM(n)))
        |    * 10000 + 0.5) / 10000 AS hhi
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q_char_trigrams" ->
      """WITH g AS (SELECT UNNEST(LIST_TRANSFORM(
        |    RANGE(1, LENGTH(text) - 1), i -> SUBSTRING(text, i, 3))) AS g
        |  FROM documents WHERE LENGTH(text) >= 3)
        |SELECT g, COUNT(*) AS n FROM g GROUP BY g
        |ORDER BY n DESC, g LIMIT 20""".stripMargin,

    "q_editdist_pairs" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  LEVENSHTEIN(a.text, b.text) AS dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang
        |  AND SUBSTRING(a.text, 1, 24) = SUBSTRING(b.text, 1, 24)
        |  AND a.doc_id < b.doc_id
        |WHERE LEVENSHTEIN(a.text, b.text) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_fuzzy_pairs" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |k AS (SELECT p_name, STRING_SPLIT(p_name, ' ')[-1] AS noun
        |  FROM names),
        |p AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    FLOOR(JARO_WINKLER_SIMILARITY(a.p_name, b.p_name)
        |      * 10000 + 0.5) / 10000 AS jw
        |  FROM k a JOIN k b ON a.noun = b.noun AND a.p_name < b.p_name)
        |SELECT name_a, name_b, jw FROM p WHERE jw >= 0.7
        |ORDER BY name_a, name_b""".stripMargin,

    "q_skyline" ->
      """WITH grp AS (SELECT o_totalprice AS price,
        |    MIN(o_orderdate) AS mind
        |  FROM orders GROUP BY o_totalprice),
        |sky AS (SELECT price, mind,
        |    MIN(mind) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmin
        |  FROM grp)
        |SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
        |FROM orders o JOIN sky s
        |  ON o.o_totalprice = s.price AND o.o_orderdate = s.mind
        |WHERE s.prevmin IS NULL OR s.mind < s.prevmin
        |ORDER BY o.o_orderkey""".stripMargin,

    "q_mad_outlier" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        |  FROM events GROUP BY CAST(ts AS DATE)),
        |c AS (SELECT COUNT(*) AS cnt FROM daily),
        |rk AS (SELECT d, n, ROW_NUMBER() OVER (ORDER BY n, d) AS rn,
        |    (SELECT cnt FROM c) AS cnt FROM daily),
        |med AS (SELECT
        |    CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 THEN n END)
        |    + SUM(CASE WHEN rn = (cnt + 2) // 2 THEN n END) AS BIGINT)
        |      AS med_x2
        |  FROM rk),
        |dev AS (SELECT d, n,
        |    CAST(ABS(n * 2 - (SELECT med_x2 FROM med)) AS BIGINT) AS dev_x2
        |  FROM daily),
        |rk2 AS (SELECT d, dev_x2,
        |    ROW_NUMBER() OVER (ORDER BY dev_x2, d) AS rn,
        |    (SELECT cnt FROM c) AS cnt FROM dev),
        |mad AS (SELECT
        |    CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 THEN dev_x2 END)
        |    + SUM(CASE WHEN rn = (cnt + 2) // 2 THEN dev_x2 END) AS BIGINT)
        |      AS mad_x4
        |  FROM rk2)
        |SELECT STRFTIME(d, '%Y-%m-%d') AS day, n, dev_x2,
        |  (SELECT mad_x4 FROM mad) AS mad_x4,
        |  CASE WHEN dev_x2 * 2 > (SELECT mad_x4 FROM mad) * 3
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_outlier
        |FROM dev ORDER BY day""".stripMargin,

    "q_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (SELECT a.pk AS item_a, b.pk AS item_b, COUNT(*) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
        |itemn AS (SELECT pk, COUNT(*) AS n_item FROM li GROUP BY pk),
        |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li)
        |SELECT item_a, item_b, n_both,
        |  FLOOR(CAST(n_both AS DOUBLE) / n_orders * 10000 + 0.5) / 10000
        |    AS support,
        |  FLOOR(CAST(n_both AS DOUBLE) / na.n_item * 10000 + 0.5) / 10000
        |    AS confidence,
        |  FLOOR(CAST(n_both AS DOUBLE) * n_orders / (na.n_item * nb.n_item)
        |    * 10000 + 0.5) / 10000 AS lift
        |FROM pairs
        |JOIN itemn na ON na.pk = item_a
        |JOIN itemn nb ON nb.pk = item_b
        |CROSS JOIN tot
        |ORDER BY item_a, item_b""".stripMargin,

    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |v AS (SELECT variant, COUNT(*) AS n_users,
        |    CAST(SUM(converted) AS BIGINT) AS n_conv
        |  FROM u GROUP BY variant),
        |a AS (SELECT n_users AS n_a, n_conv AS x_a FROM v
        |  WHERE variant = 'A'),
        |b AS (SELECT n_users AS n_b, n_conv AS x_b FROM v
        |  WHERE variant = 'B'),
        |z AS (SELECT n_a, x_a, n_b, x_b,
        |    CAST(FLOOR(
        |      (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
        |      / SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |        * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b))
        |      * 10000 + 0.5) AS BIGINT) AS z_e4
        |  FROM a CROSS JOIN b)
        |SELECT n_a, x_a, n_b, x_b,
        |  FLOOR(CAST(x_a AS DOUBLE) / n_a * 10000 + 0.5) / 10000 AS p_a,
        |  FLOOR(CAST(x_b AS DOUBLE) / n_b * 10000 + 0.5) / 10000 AS p_b,
        |  z_e4,
        |  CASE WHEN ABS(z_e4) > 19600 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS significant
        |FROM z""".stripMargin
  )
}
