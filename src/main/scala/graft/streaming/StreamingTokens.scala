package graft.streaming

import graft.functions.TokenStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous maintenance of the persisted word-grain token store — the
  * streaming twin of [[TokenStore.appendDocs]] (the StreamingRetrieval
  * discipline): every micro-batch tokenizes ONLY the arriving documents
  * and parquet-appends their per-doc (doc_id, lang, source, w, tf) rows
  * to the stored artifact. The standing corpus is never re-read, and
  * the composition holds NO streaming state (foreachBatch over a
  * stateless batch transform): restart = offset replay, and the append
  * commits through [[AppendLedger.appendOnce]] — a replayed batchId is
  * a no-op, so the stored (doc, w)-unique grain survives at-least-once
  * delivery (EXACTLY-once, not just the documented-contract kind).
  *
  * 100 TB lens: per-batch work is one tokenize + one (doc, w) aggregate
  * over the batch alone; the stored relation stays bucketed-by-term at
  * warehouse scale (TokenStore scaladoc), so every consumer reads the
  * maintained grain exactly as if freshly built — StreamingSpec's
  * s_tokens leg pins stream-maintained ≡ from-scratch TF-IDF ranking
  * row-for-row.
  */
object StreamingTokens {

  /** Append every arriving micro-batch of (doc_id, lang, source, text)
    * documents to the TokenStore at `storePath`. Arriving ids must be
    * disjoint from the stored corpus (the appendDocs contract — route
    * updates through a rebuild/compaction instead). */
  def maintainStore(docs: DataFrame, storePath: String,
                    checkpointDir: String): StreamingQuery = {
    // fail FAST on a checkpoint/store lifetime mismatch (a fresh
    // checkpoint against a maintained store would replay-skip every new
    // batch — the round-11 advice data-loss path)
    AppendLedger.bindEpoch(checkpointDir, Seq(s"$storePath/tf"))
    StreamOps.checkpointed(docs, checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // invalidate the derived bucketed projection UNCONDITIONALLY
          // (idempotent local delete): gating it on a fresh commit would
          // leave tfb stale forever if the JVM died between a replayed
          // batch's rename-commit and its invalidation
          TokenStore.invalidateBucketed(storePath)
          AppendLedger.appendOnce(s"$storePath/tf", batchId,
            TokenStore.buildTf(batch)): Unit
        }
      }
      .start()
  }
}
