package graft.streaming

import graft.functions.{CosineLsh, DedupClusters, GramStore, RetrievalIndex, SimHash, TokenStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous TAKEDOWN maintenance of the persisted stores — the delete
  * twin of the per-doc stores' DocStore.maintain (round-12: a living
  * corpus's removal feed — takedown requests, licensing revocations,
  * contamination discoveries — arrives as a stream just like its
  * documents do). Every micro-batch of doc ids compacts the store
  * through the touched-files rewrite (CompactStore): the REWRITE is ∝
  * the files physically holding the removed rows, and the locate step
  * pushes takedown-sized batches down as a literal id filter so
  * parquet row-group statistics skip non-matching row groups (on an
  * id-clustered layout, whole files). Batch removal feeds upstream
  * when arrival rates are high — each micro-batch pays one locate pass.
  *
  * Round 13 covers ALL SIX persisted-artifact families (round-12
  * verdict task #2 — only TokenStore and RetrievalIndex had streaming
  * legs; GramStore, the dedup cluster artifact and the SimHash /
  * vector-LSH indexes took deletions batch-only): each maintainer wraps
  * the family's own oracle-proven batch compaction in the same
  * removal-feed foreachBatch.
  *
  * Unlike the APPEND maintainers, deletions need NO exactly-once
  * ledger: removing an already-removed id finds no touched file and
  * no-ops, so at-least-once replay is idempotent by the operation's own
  * algebra (removal is idempotent under repetition) — the checkpoint's
  * native guarantee suffices, and there is no batch-id ↔ store epoch to
  * bind. This holds for the cluster artifact too: a replayed
  * compactRemoved finds no pair touching the already-removed ids and
  * recomputes zero affected clusters. The composition holds zero
  * streaming state (foreachBatch over a stateless batch transform).
  *
  * SINGLE WRITER per store: the per-batch compaction takes the store's
  * `_writer.lock`, so a takedown stream and a batch appender must not
  * run concurrently on one artifact (schedule removal feeds and append
  * feeds through one maintainer or alternate them — the same contract
  * every batch mutator documents).
  */
object StreamingTakedown {

  /** The shared removal-feed shape: ids in the stream's FIRST column,
    * one idempotent store compaction per non-empty micro-batch. */
  private def removalSink(removals: DataFrame, checkpointDir: String)(
      apply: DataFrame => Unit): StreamingQuery =
    StreamOps.checkpointed(removals, checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) apply(batch)
      }
      .start()

  /** Apply every arriving micro-batch of removal doc ids to the
    * TokenStore at `storePath`. */
  def maintainTokenStore(removals: DataFrame, storePath: String,
                         checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(
      TokenStore.store.compactRemove(storePath, _))

  /** Apply every arriving micro-batch of removal doc ids to the
    * RetrievalIndex at `indexPath`. */
  def maintainRetrievalIndex(removals: DataFrame, indexPath: String,
                             checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(
      RetrievalIndex.store.compactRemove(indexPath, _))

  /** Apply every arriving micro-batch of removal doc ids to the
    * five-grain GramStore at `storePath`. */
  def maintainGramStore(removals: DataFrame, storePath: String,
                        checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(
      GramStore.store.compactRemove(storePath, _))

  /** Apply every arriving micro-batch of removal doc ids to the
    * persisted dedup cluster artifact at `artifactPath` — pairs
    * touching the ids rewrite out and ONLY the clusters that held them
    * recompute (DedupClusters.compactRemoved's affected-clusters-only
    * contract), so per-batch cost is ∝ the takedown's cluster
    * footprint, not the corpus. */
  def maintainDedupClusters(removals: DataFrame, artifactPath: String,
                            checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(batch =>
      DedupClusters.compactRemoved(batch.sparkSession, artifactPath,
        batch): Unit)

  /** Apply every arriving micro-batch of removal doc ids to a stored
    * SimHash signature index at `indexPath`. */
  def maintainSimHashIndex(removals: DataFrame, indexPath: String,
                           checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(
      SimHash.compactIndex(indexPath, _))

  /** Apply every arriving micro-batch of removal vector ids to a stored
    * cosine-LSH index at `indexPath`. */
  def maintainCosineLshIndex(removals: DataFrame, indexPath: String,
                             checkpointDir: String): StreamingQuery =
    removalSink(removals, checkpointDir)(
      CosineLsh.compactIndex(indexPath, _))
}
