package graft.streaming

import graft.functions.RetrievalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous maintenance of the persisted sparse-retrieval index — the
  * streaming twin of [[RetrievalIndex.appendDocs]] (round-10 verdict
  * task #5, the StreamingCuration discipline): every micro-batch
  * tokenizes ONLY the arriving documents and parquet-appends their
  * per-doc posting/doclen rows to the stored artifact. The standing
  * corpus is never re-read, and the composition holds NO streaming
  * state (foreachBatch over a stateless batch transform): restart =
  * offset replay, and both relations commit through
  * [[AppendLedger.appendOnce]] — a replayed batchId no-ops per
  * relation, so at-least-once delivery cannot double posting rows
  * (exactly-once; a crash between the two relation commits replays into
  * one no-op and one commit).
  *
  * 100 TB lens: per-batch work is one tokenize + two per-doc aggregates
  * over the batch alone; the stored postings stay bucketed-by-term at
  * warehouse scale (RetrievalIndex scaladoc), so BM25 scoring reads the
  * maintained relations exactly as if freshly built —
  * StreamingSpec's s_bm25 leg pins stream-maintained ≡ from-scratch
  * ranking row-for-row.
  */
object StreamingRetrieval {

  /** Append every arriving micro-batch of (idCol, textCol) documents to
    * the RetrievalIndex at `indexPath`. Arriving ids must be disjoint
    * from the stored corpus (the appendDocs contract — route updates
    * through a rebuild/compaction instead). */
  def maintainIndex(docs: DataFrame, indexPath: String,
                    checkpointDir: String, idCol: String = "doc_id",
                    textCol: String = "text"): StreamingQuery = {
    // fail FAST on a checkpoint/store lifetime mismatch (the round-11
    // advice data-loss path); both relations bind to one epoch
    AppendLedger.bindEpoch(checkpointDir,
      Seq(s"$indexPath/postings", s"$indexPath/doclens"))
    StreamOps.checkpointed(docs, checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = RetrievalIndex.build(batch, idCol, textCol)
          AppendLedger.appendOnce(s"$indexPath/postings", batchId,
            delta.postings)
          AppendLedger.appendOnce(s"$indexPath/doclens", batchId,
            delta.doclens): Unit
        }
      }
      .start()
  }
}
