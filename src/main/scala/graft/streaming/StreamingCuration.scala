package graft.streaming

import graft.functions.MinHashDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming curation CAPSTONE — the continuous twin of the batch
  * q_curation_pipeline: arriving documents pass three gates before they
  * may enter a training corpus:
  *
  *   1. QUALITY — the C4-style keep rules (min length, type-token ratio,
  *      stopword ratio), shared verbatim with q_quality_filter via
  *      [[qualityKeep]]: pure per-row codegen, no state;
  *   2. NEAR-DUP — two sub-gates sharing one LSH machinery: (a) vs the
  *      STANDING corpus — the arriving doc's banded MinHash keys probe
  *      the persisted [[MinHashDedup.Index]] (stream-static key-equality
  *      join), candidates verify with exact Jaccard
  *      ([[StreamingLsh.againstIndex]]); any hit drops the doc; (b)
  *      WITHIN the batch — two near-duplicates arriving in the same
  *      micro-batch both miss the standing index, so the batch also
  *      self-joins through [[MinHashDedup.nearDuplicatePairs]] and the
  *      higher-id side of each verified pair drops (greedy min-id
  *      survivor, the MinHashDedup.dedup rule);
  *   3. DECONTAMINATION — the doc shares no distinct 5-gram with the
  *      broadcast eval-gram set (the q_decontaminate /
  *      StreamingDecontaminate rule, one gram implementation).
  *
  * Composition shape: gates 1 and 3 are stateless filters, but gate 2's
  * verdict is "NO verified index match for this doc" — an any-match
  * aggregation over the doc's band rows, which Structured Streaming
  * cannot express as a stream-derived anti-join (stream-stream left-anti
  * is unsupported) and a streaming aggregate would hold per-doc state
  * forever in append mode. The idiomatic Spark answer is foreachBatch:
  * each micro-batch runs the ONE shared batch composition
  * ([[curateBatch]] — also the API batch pipelines call directly), whose
  * anti-joins are ordinary bounded batch joins. NO streaming state at
  * all (the StreamingDecontaminate discipline): restart = offset replay,
  * exactly-once end-to-end when the sink is idempotent per batchId (the
  * standard foreachBatch contract).
  *
  * 100 TB lens: per-batch work is scan-shaped (tokenize + gram probes)
  * plus one key-equality join against the stored, bucket-partitioned
  * index tables; drop-id sets are batch-bounded → broadcast anti-joins.
  * The standing index is maintained by MinHashDedup.appendIndex /
  * DedupClusters.refreshAppended as accepted batches land — nothing here
  * re-derives corpus state.
  */
object StreamingCuration {

  /** The shared quality predicate — q_quality_filter's keep rule over a
    * `text` column (integer×integer comparisons, engine-portable). */
  private[graft] def qualityKeep: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val stopArr = array(
      graft.operators.PipelineQueries.stopwords.map(lit): _*)
    val n = size(toks)
    val nu = size(array_distinct(toks))
    val ns = size(filter(toks, x => array_contains(stopArr, x)))
    n >= 15 && nu * 10 >= n * 3 && ns * 8 <= n
  }

  /** The distinct eval-gram relation (g) a curation job derives ONCE from
    * its eval documents (doc_id, text) and feeds to every batch. */
  def evalGrams(evalDocs: DataFrame): DataFrame =
    graft.operators.PipelineQueries.fiveGrams(evalDocs)
      .select("g").distinct()

  /** One micro-batch (or any batch relation) through all three gates.
    * `docs` needs (doc_id: Long, text: String) plus any carry-along
    * columns; returns the surviving rows unchanged.
    *
    * `shingleN`/`bands`/`rows` MUST match the model the standing index
    * was built with (the MinHashDedup.updateIndex contract — a forked
    * model makes the equi-joins silently return no hits); gates 2a and
    * 2b share ONE materialized shingle/key scan of the batch (the
    * dedupIncremental discipline) under that one model. REPLAY SAFETY:
    * unlike dedupIncremental, gate 2a EXCLUDES self-matches — a
    * replayed doc id already in the standing index must curate to the
    * same verdict as its first delivery (foreachBatch re-delivers whole
    * batches; if the first delivery's sink already appended the doc to
    * the index, a self-match would flip it to "duplicate" and an
    * overwrite-by-batchId sink would lose it). */
  def curateBatch(docs: DataFrame, index: MinHashDedup.Index,
                  evGrams: DataFrame, threshold: Double = 0.5,
                  shingleN: Int = 2, bands: Int = 4,
                  rows: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.NativeJaccard.register(spark)
    val q = docs.filter(qualityKeep)
    // ONE shingle + band-key scan feeds both near-dup gates
    val bSh = graft.functions.Materialize(graft.functions.Materialize.spread(
      MinHashDedup.shingleRel(q, "doc_id", "text", shingleN)))
    val bKeys = graft.functions.Materialize(
      MinHashDedup.bandedKeysFromShingles(bSh, bands, rows))
    // gate 2a: verified near-dups of the standing corpus (batch-bounded;
    // key-equality probe of the stored index, exact-Jaccard verify)
    val jac = call_function(graft.functions.NativeJaccard.name,
      col("sb.sh"), col("se.sh"))
    val dupIds = bKeys.as("b")
      .join(index.keys.as("e"), Seq("band_idx", "band_hash"))
      .filter(col("b.mh_id") =!= col("e.mh_id")) // replay guard, see above
      .select(col("b.mh_id").as("b_id"), col("e.mh_id").as("e_id"))
      .distinct()
      .join(bSh.as("sb"), col("b_id") === col("sb.sh_id"))
      .join(index.shingles.as("se"), col("e_id") === col("se.sh_id"))
      .filter(jac >= threshold)
      .select(col("b_id").as("doc_id")).distinct()
    // gate 2b: INTRA-batch near-dups — both sides of a same-batch pair
    // miss the standing index, so the batch self-pairs through the same
    // materialized keys and the higher-id side drops (greedy min-id
    // survivor; the kept side may still fall to gate 2a/3 — the
    // MinHashDedup.dedupIncremental inner pass)
    val intraDupIds = MinHashDedup.verifyPairs(
        MinHashDedup.candidatePairsFromBanded(bKeys,
          MinHashDedup.DefaultMaxBucket, chainHotBuckets = true,
          // bKeys is already checkpointed above (and derives from the
          // spread bSh), so the shared scan is not re-materialized
          preMaterialized = true),
        bSh, threshold)
      .select(col("b_id").as("doc_id")).distinct()
    // gate 3: docs sharing any distinct 5-gram with the eval set
    val contamIds = graft.operators.PipelineQueries.fiveGrams(q)
      .join(broadcast(evGrams), "g").select("doc_id").distinct()
    q.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
      .join(broadcast(intraDupIds), Seq("doc_id"), "left_anti")
      .join(broadcast(contamIds), Seq("doc_id"), "left_anti")
  }

  /** Continuous curation of a streaming `docs` relation: every
    * micro-batch runs [[curateBatch]] and hands the curated rows to
    * `sink(curated, batchId)` — write parquet-append, upsert a table
    * keyed by batchId for idempotence, or append to the corpus AND
    * update the index (MinHashDedup.appendIndex) in the same callback. */
  def curateStream(docs: DataFrame, index: MinHashDedup.Index,
                   evGrams: DataFrame, checkpointDir: String,
                   threshold: Double = 0.5, shingleN: Int = 2,
                   bands: Int = 4, rows: Int = 4)
                  (sink: (DataFrame, Long) => Unit): StreamingQuery =
    StreamOps.checkpointed(docs, checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the model params plumb through — an index built with a
        // non-default model would otherwise silently equi-join to
        // nothing in gate 2a (see the curateBatch contract above)
        sink(curateBatch(batch, index, evGrams, threshold, shingleN,
          bands, rows), batchId)
      }
      .start()
}
