package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Continuous retrieval-index maintenance: the incremental posting-
  * index append (q87's discipline) mounted as a streaming sink, so the
  * serving index tracks an unbounded document stream — the "crawl
  * lands, becomes searchable" loop, closed.
  *
  * `foreachBatch` is the integration point, and the sink is
  * EFFECTIVELY-ONCE, by two independent mechanisms:
  *
  *  1. the write itself is the idempotent versioned upsert
  *     ([[TextOps.upsertPostingIndexBatch]] with `b = batchId`):
  *     dynamic partition overwrite keyed by the batch, so redelivering
  *     a batch — including one whose earlier attempt failed PARTWAY
  *     through — replaces that batch's partitions with identical
  *     content rather than appending duplicates; any replay converges
  *     to the same store state;
  *  2. a committed-batch marker ([[BatchStore.commit]], written AFTER
  *     the batch's artifacts) turns redelivery of a completed batch
  *     into a metadata-only no-op — and fences a replayed producer
  *     from re-creating a batch that a retention fold
  *     ([[foldPostingIndex]]) has already absorbed
  *     into the base snapshot (which is why folds keep the markers).
  *
  * A crash between the artifact writes and the marker is the case
  * mechanism 1 exists for: the redelivered batch rewrites its own
  * partitions byte-equivalently and then places the marker. The law —
  * replaying ANY prefix of applied batches leaves every read of the
  * index identical — is pinned in IndexStreamSpec.
  *
  * Scale shape: each micro-batch pays O(batch) tokenize + one
  * partitioned write + one marker; the standing store is never read,
  * let alone rewritten — identical economics to the q87 batch loop,
  * just driven by a trigger instead of a scheduler. Query side is
  * unchanged (bm25TopKIndexed reads the versioned layout with or
  * without an as-of cut), which is the point: readers cannot tell
  * whether a scheduler or a stream maintains their index.
  */
object IndexStream {

  /** Apply one micro-batch: skip if committed, else idempotent
    * versioned upsert, then the marker ([[BatchStore.applyOnce]]).
    * Public so a recovery path (or a spec) can replay delivery exactly
    * as the running stream would. Batch ids start at 0: the index has
    * no seed. */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 path: String, parts: Int, batchId: Long): Unit =
    BatchStore.applyOnce(batch, path, batchId) {
      TextOps.upsertPostingIndexBatch(batch, idCol, textCol, path, parts,
        batchId)
    }(_ => ())

  /** Retention fold for a stream-maintained index: the fold-safety
    * fence every batch store shares ([[BatchStore.fence]], over the
    * `b=` directories of `postings` and `dfreq` under their `tp=`
    * partitions and of `stats`), then
    * [[TextOps.foldPostingIndexVersions]]. Without the fence a fold
    * over a crashed batch (artifacts written, marker missing) labels
    * its partial rows `b = upTo`, and the redelivery's dynamic
    * overwrite of that same partition then replaces the whole folded
    * history; a fold point above the last committed batch goes the
    * same way when that batch arrives. Scheduler-built versioned
    * stores carry no markers and call TextOps directly. */
  def foldPostingIndex(s: SparkSession, path: String, upTo: Long): Unit = {
    BatchStore.fence(s, path, upTo, "foldPostingIndex",
      Seq("postings", "dfreq", "stats"))
    TextOps.foldPostingIndexVersions(s, path, upTo)
  }

  /** Start the maintenance query. Documents must carry `idCol` +
    * `textCol`; batches must be doc-disjoint (the upstream keep-first
    * dedup — DocumentStreams/KeepLastStream — is the usual guard). */
  def maintainPostingIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String, parts: Int,
                           checkpoint: String): StreamingQuery =
    BatchStore.foreachBatch(docs, checkpoint, localCheckpoint = false) {
      (batch, batchId) =>
        applyBatch(batch, idCol, textCol, path, parts, batchId)
    }
}
