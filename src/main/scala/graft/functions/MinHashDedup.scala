package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (SURVEY.md §2.3 J, q_minhash_dedup;
  * the scale path behind the oracle-checked blocking join q_ngram_jaccard).
  *
  * Pipeline (all DataFrame-native, codegen'd, no UDFs):
  *   1. shingle: token n-grams per document (distinct set);
  *   2. signature: K minhashes — min over shingles of xxhash64(shingle, i)
  *      for K independent hash slots;
  *   3. bands: split the signature into B bands of R rows (K = B*R), hash
  *      each band → (band_idx, band_hash) keys;
  *   4. candidates: self-join documents sharing any band bucket (this is
  *      the ONLY join, and it is key-equality on band hash — a shuffled
  *      hash/sort-merge join on bounded buckets, never a cross join);
  *   5. verify: exact Jaccard on the shingle sets of candidate pairs only.
  *
  * At 100 TB: step 4's shuffle is proportional to B × corpus (small, fixed
  * B), and bucket sizes are bounded by hash uniformity for DISTINCT
  * content — but boilerplate corpora break uniformity: one band key shared
  * by c near-identical documents yields c²/2 clique candidates, the one
  * quadratic hazard of the pipeline. `maxBucket` bounds it: a bucket over
  * the cap contributes a sorted id-chain of c−1 edges instead of the
  * clique (`chainHotBuckets=true`, default) or is dropped outright
  * (`false`). The chain preserves CONNECTED-COMPONENT reachability — every
  * member of an over-cap bucket still reaches every other through the
  * chain, so `dedup`/DedupClusters still collapse the whole cluster, which
  * for the dominant mega-bucket cause (exact/near-exact boilerplate, every
  * chain edge verifies at Jaccard ≈ 1) is result-identical to the clique —
  * while individual PAIR recall inside an over-cap bucket is reduced when
  * a chain edge fails the verify threshold (the documented trade; the
  * clique's c² verify work is unpayable at corpus scale either way).
  * Truncation is never silent: `hotBuckets` is the monitoring relation.
  * Jaccard-similar pairs collide in ≥1 band with probability 1-(1-s^R)^B
  * (the standard S-curve).
  */
object MinHashDedup {

  /** Default per-(band, bucket) document cap. Hash-uniform buckets stay in
    * the low single digits even at 100 TB, so anything over this is
    * boilerplate/degenerate content, not a statistical accident; the cap
    * bounds per-bucket candidate volume at maxBucket × c instead of c². */
  val DefaultMaxBucket: Int = 4096

  /** Distinct token n-gram shingles of a text column. Documents shorter
    * than n tokens yield an empty shingle set (guarded: Spark's
    * sequence(1, 0) counts DOWN, which would index out of bounds). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    if (n == 1) array_distinct(toks)
    else when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(typedlit(Seq.empty[String]))
  }

  /** K-slot minhash signature over a shingle-array column. */
  def signature(sh: Column, k: Int): Column =
    array((0 until k).map(i => array_min(transform(sh, s => xxhash64(s, lit(i))))): _*)

  /** The SINGLE definition of the band-key hash: per band b, xxhash64 of
    * the band's signature slots with b mixed in (disjoint keyspaces per
    * band). Every producer of band keys — the batch index, the streaming
    * bucket state, the stream-static verify — derives from THIS column,
    * so the formula cannot silently fork (a forked copy would make the
    * equi-joins return zero hits with no error). Returns an array of
    * (band_idx, band_hash) structs. */
  private[graft] def bandKeyStructs(sig: Column, bands: Int,
                                    rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        xxhash64((slice(sig, b * rows + 1, rows) +: Seq(lit(b))): _*)
          .as("band_hash"))
    }: _*)

  /** The per-doc distinct shingle relation (sh_id, sh) — the ONE text
    * scan every downstream derivation (signatures, band keys, verify)
    * should share. Docs with no shingles (shorter than the shingle
    * width) can't be near-dup candidates — and would otherwise collide
    * into one hot all-null band bucket (and 0/0 under ANSI in verify). */
  private[graft] def shingleRel(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("sh_id"),
        shingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Banded keys derived from an existing shingle relation — lets a
    * caller that already materialized [[shingleRel]] avoid a second
    * text scan (the dedupIncremental hot path). */
  private[graft] def bandedKeysFromShingles(sh: DataFrame, bands: Int,
                                            rows: Int): DataFrame =
    sh.select(col("sh_id").as("mh_id"),
        signature(col("sh"), bands * rows).as("sig"))
      .select(col("mh_id"),
        explode(bandKeyStructs(col("sig"), bands, rows)).as("bk"))
      .select(col("mh_id"), col("bk.band_idx").as("band_idx"),
        col("bk.band_hash").as("band_hash"))

  /** The banded (mh_id, band_idx, band_hash) LSH key relation. */
  private def bandedKeys(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, bands: Int, rows: Int): DataFrame =
    bandedKeysFromShingles(shingleRel(df, idCol, textCol, shingleN),
      bands, rows)

  /** Over-cap band buckets (band_idx, band_hash, n_docs) — the truncation
    * monitoring relation. `candidatePairs` chains or drops exactly these
    * buckets; count/inspect them so the cap is observable, never silent.
    * By construction ≤ corpus/maxBucket rows — always broadcastable. */
  def hotBuckets(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 2, bands: Int = 4, rows: Int = 4,
                 maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedKeys(df, idCol, textCol, shingleN, bands, rows)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Candidate near-dup pairs (idCol pairs, a < b) via banded LSH, with
    * the hot-bucket cap applied (see the object scaladoc). */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 2, bands: Int = 4, rows: Int = 4,
                     maxBucket: Int = DefaultMaxBucket,
                     chainHotBuckets: Boolean = true): DataFrame =
    candidatePairsFromBanded(
      bandedKeys(df, idCol, textCol, shingleN, bands, rows),
      maxBucket, chainHotBuckets)

  /** [[candidatePairs]] over an already-derived banded key relation —
    * shared by the from-text path and the incremental path (which reuses
    * its materialized batch keys). */
  private[graft] def candidatePairsFromBanded(banded0: DataFrame,
                                              maxBucket: Int,
                                              chainHotBuckets: Boolean,
                                              preMaterialized: Boolean = false): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must allow at least a pair, got $maxBucket")
    // three consumers (bucket counts + both self-join sides): materialize
    // once — the production analog writes the banded relation to storage.
    // spread: a one-file corpus arrives as ONE partition, and if the
    // planner broadcasts one side of the self-join below, the stream side
    // (and every banded-verify row with it) inherits that single task —
    // see Materialize.spread (the CosineLsh fix, same shape).
    // preMaterialized: a caller that already checkpointed a spread banded
    // relation (StreamingCuration shares one across its gates) skips the
    // redundant second localCheckpoint here.
    val banded =
      if (preMaterialized) banded0
      else Materialize(Materialize.spread(banded0))
    // the over-cap key set is tiny by construction (≤ corpus/maxBucket),
    // so both the anti-join and the chain semi-join broadcast it; the
    // full banded relation is never shuffled a second time for the cap.
    val hot = banded.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") > maxBucket)
      .select("band_idx", "band_hash")
    val kept = banded.join(broadcast(hot), Seq("band_idx", "band_hash"),
      "left_anti")
    val a = kept.alias("a")
    val b = kept.alias("b")
    val clique = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.mh_id") < col("b.mh_id"))
      .select(col("a.mh_id").as("a_id"), col("b.mh_id").as("b_id"))
    if (!chainHotBuckets) clique.distinct()
    else {
      // over-cap buckets: emit the sorted id-chain (c−1 edges) — linear
      // candidate volume, full component reachability. The per-bucket sort
      // is c·log c on one reducer (vs the clique's c² verify), and the
      // bucket count is ≤ corpus/maxBucket, so chains parallelize across
      // buckets.
      val w = Window.partitionBy("band_idx", "band_hash").orderBy("mh_id")
      val chains = banded
        .join(broadcast(hot), Seq("band_idx", "band_hash"), "left_semi")
        .withColumn("nxt", lead("mh_id", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("mh_id").as("a_id"), col("nxt").as("b_id"))
      clique.unionAll(chains).distinct()
    }
  }

  /** Verified near-duplicate pairs: LSH candidates filtered by exact
    * Jaccard >= threshold on the shingle sets. */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleN: Int = 2,
                         bands: Int = 4, rows: Int = 4,
                         maxBucket: Int = DefaultMaxBucket,
                         chainHotBuckets: Boolean = true): DataFrame = {
    val sh = shingleRel(df, idCol, textCol, shingleN)
    val cands = candidatePairsFromBanded(
      bandedKeysFromShingles(sh, bands, rows), maxBucket, chainHotBuckets)
    verifyPairs(cands, sh, threshold)
  }

  /** Exact-Jaccard verify of (a_id, b_id) candidates against a shingle
    * relation — the shared tail of every near-dup path. */
  private[graft] def verifyPairs(cands: DataFrame, sh: DataFrame,
                                 threshold: Double): DataFrame = {
    NativeJaccard.register(sh.sparkSession)
    val jac = call_function(NativeJaccard.name, col("sa.sh"), col("sb.sh"))
    cands
      .join(sh.alias("sa"), col("a_id") === col("sa.sh_id"))
      .join(sh.alias("sb"), col("b_id") === col("sb.sh_id"))
      .select(col("a_id"), col("b_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dedup: drop every document that near-duplicates a lower-id survivor.
    * (Greedy min-id survivor — one pass, no iterative connected
    * components; at 100 TB chains longer than one hop are rare for high
    * thresholds and can be closed by re-running to a fixpoint.) */
  def dedup(df: DataFrame, idCol: String, textCol: String,
            threshold: Double, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val dupIds = nearDuplicatePairs(df, idCol, textCol, threshold,
      maxBucket = maxBucket)
      .select(col("b_id").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The standing corpus's dedup index — the artifact a LIVING corpus
    * maintains across increments instead of re-deriving signatures from
    * raw text every day: `keys` is the banded LSH key relation
    * (mh_id, band_idx, band_hash), `shingles` the per-doc shingle sets
    * the verify step reads. At 100 TB both are stored tables (keys
    * bucketed by (band_idx, band_hash), shingles by id); after an
    * increment, append the kept batch's rows to both. */
  final case class Index(keys: DataFrame, shingles: DataFrame)

  /** Build the [[Index]] of a corpus (one pass over the text; the caller
    * persists the two relations). */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 2, bands: Int = 4, rows: Int = 4): Index = {
    val sh = shingleRel(corpus, idCol, textCol, shingleN)
    Index(bandedKeysFromShingles(sh, bands, rows), sh)
  }

  /** APPEND an accepted batch to a standing [[Index]] WITHOUT rebuilding
    * (round-8 verdict task #3): one text scan over the batch derives its
    * shingles + banded keys, unioned onto the index relations.
    * Invariant (spec-pinned): updateIndex(buildIndex(C), B) is
    * relation-identical to buildIndex(C ∪ B) — so N successive daily
    * increments cost N batch scans, never N corpus rebuilds. Pass the
    * KEPT rows from [[dedupIncremental]] (appending dropped near-dups
    * would poison future verifies with documents the corpus rejected).
    * Use the same shingleN/bands/rows the index was built with — the
    * band-key formula must not fork mid-index. The caller re-persists
    * (checkpoint or [[appendIndex]] for the on-disk flavor). */
  def updateIndex(index: Index, accepted: DataFrame, idCol: String,
                  textCol: String, shingleN: Int = 2, bands: Int = 4,
                  rows: Int = 4): Index = {
    val sh = shingleRel(accepted, idCol, textCol, shingleN)
    Index(index.keys.unionByName(bandedKeysFromShingles(sh, bands, rows)),
      index.shingles.unionByName(sh))
  }

  /** Persist an [[Index]] as two parquet tables under `path` (keys/ and
    * shingles/) — the stored artifact a living corpus maintains. At
    * 100 TB, write keys bucketed by (band_idx, band_hash) and shingles
    * by id so increments join without reshuffling the standing side. */
  def writeIndex(index: Index, path: String): Unit = {
    index.keys.write.mode("overwrite").parquet(s"$path/keys")
    index.shingles.write.mode("overwrite").parquet(s"$path/shingles")
  }

  /** Re-open a persisted index. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): Index =
    Index(spark.read.parquet(s"$path/keys"),
      spark.read.parquet(s"$path/shingles"))

  /** The on-disk twin of [[updateIndex]]: derive the accepted batch's
    * delta relations in ONE materialized text scan and parquet-APPEND
    * them to the stored tables — the standing corpus is never read, let
    * alone rebuilt. */
  def appendIndex(path: String, accepted: DataFrame, idCol: String,
                  textCol: String, shingleN: Int = 2, bands: Int = 4,
                  rows: Int = 4): Unit = {
    val sh = Materialize(shingleRel(accepted, idCol, textCol, shingleN))
    // staged-rename commits: each relation appends crash-atomically (a
    // crash between the two leaves keys appended and shingles not —
    // treat as a rebuild signal, same multi-relation caveat as
    // DocStore.appendDocs)
    StagedCommit.commitAppend(s"$path/keys",
      bandedKeysFromShingles(sh, bands, rows))
    StagedCommit.commitAppend(s"$path/shingles", sh)
  }

  /** DELETE compaction of a stored index: drop every key and shingle
    * row of `removeIds` documents. Both relations are per-doc, so the
    * deletion is exact; an updated doc composes compactIndex +
    * appendIndex. A crash between the two relations re-runs
    * idempotently (pure deletions). */
  def compactIndex(path: String, removeIds: DataFrame): Unit =
    FsUtil.withWriterLock(path) {
      CompactStore.compactRelation(s"$path/keys", "mh_id",
        removeIds.select(col(removeIds.columns.head).as("mh_id")), None)
      CompactStore.compactRelation(s"$path/shingles", "sh_id",
        removeIds.select(col(removeIds.columns.head).as("sh_id")), None)
    }

  /** INCREMENTAL dedup — the operation a living 100 TB corpus actually
    * runs: a new batch arrives and must be deduped (a) against the
    * standing corpus and (b) within itself, WITHOUT ever re-pairing the
    * standing corpus against itself. The existing×existing quadrant —
    * the overwhelming bulk of a full re-dedup — is structurally absent:
    * the corpus participates only through its precomputed [[Index]], in
    * a key-equality join against the (small) batch side, so the daily
    * increment's new work scales with the batch, not the corpus.
    *
    * Kept invariant: returns the batch rows to APPEND — batch docs are
    * dropped when they near-duplicate (exact Jaccard ≥ threshold) any
    * existing doc, or a lower-id batch doc (the [[dedup]] greedy rule).
    * Hot existing buckets (> maxBucket members) are excluded from the
    * cross join — a batch doc touching the corpus ONLY through boilerplate
    * mega-buckets is not chained cross-corpus (monitor via [[hotBuckets]]
    * on the corpus; same drop semantics as `chainHotBuckets = false`). */
  def dedupIncremental(index: Index, batch: DataFrame, idCol: String,
                       textCol: String, threshold: Double, shingleN: Int = 2,
                       bands: Int = 4, rows: Int = 4,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    NativeJaccard.register(batch.sparkSession)
    // ONE text scan over the batch: the materialized shingle relation
    // feeds the band keys, the cross-corpus verify, and the inner dedup
    // (pre-review this path re-derived shingles/signatures four times)
    val bSh = Materialize(Materialize.spread(
      shingleRel(batch, idCol, textCol, shingleN)))
    val bKeys = Materialize(bandedKeysFromShingles(bSh, bands, rows))
    // over-cap corpus buckets: tiny by construction (≤ corpus/maxBucket),
    // computed from the key table alone — no text is touched
    val eHot = index.keys.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band_idx", "band_hash")
    val eKept = index.keys.join(broadcast(eHot),
      Seq("band_idx", "band_hash"), "left_anti")
    val crossCand = bKeys.alias("b")
      .join(eKept.alias("e"), Seq("band_idx", "band_hash"))
      .select(col("b.mh_id").as("b_id"), col("e.mh_id").as("e_id"))
      .distinct()
    val jac = call_function(NativeJaccard.name, col("sb.sh"), col("se.sh"))
    val crossDrop = crossCand
      .join(bSh.alias("sb"), col("b_id") === col("sb.sh_id"))
      .join(index.shingles.alias("se"), col("e_id") === col("se.sh_id"))
      .filter(jac >= threshold)
      .select(col("b_id").as(idCol)).distinct()
    val innerDrop = verifyPairs(
      candidatePairsFromBanded(bKeys, maxBucket, chainHotBuckets = true),
      bSh, threshold)
      .select(col("b_id").as(idCol)).distinct()
    batch.join(crossDrop.unionAll(innerDrop).distinct(), Seq(idCol),
      "left_anti")
  }

  /** [[dedupIncremental]] building the corpus [[Index]] on the fly —
    * correctness-equivalent, but it re-derives the corpus signatures, so
    * it forfeits the incremental cost win (SCALE.md "Incremental dedup"
    * records the gap);
    * use the Index overload with persisted relations in production. */
  def dedupIncremental(existing: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, threshold: Double): DataFrame = {
    val idx = buildIndex(existing, idCol, textCol)
    dedupIncremental(
      Index(Materialize(idx.keys), idx.shingles), batch, idCol, textCol,
      threshold)
  }
}
