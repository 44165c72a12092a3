package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Continuous boilerplate curation over a stream of crawl batches —
  * the store-maintenance lifecycle ([[SpanStream]]/[[PhashStream]]/
  * [[SimhashStream]]) on the segment document-frequency store, whose
  * merge is a COUNT SUM rather than a set union: each micro-batch of
  * documents is served against the df accumulated over every PRIOR
  * batch (`b < id` — the redelivery fence), its cut verdicts land
  * under `served/b=<id>`, and its own per-segment distinct-doc counts
  * absorb under `segdf/b=<id>` so later batches see the corpus-wide
  * frequency grow. All writes are idempotent dynamic partition
  * overwrites (a redelivered batch recomputes the same deterministic
  * partial counts); the commit marker is last. The store is one
  * (segment, count) row per batch per distinct segment — it never
  * rescans history text, and folding compacts the count partitions by
  * summing them, which the serve's own SUM makes read-invisible.
  */
object SegDfStream {

  /** Seed the store: history's segment dfs under b=0. */
  def init(histDocs: DataFrame, idCol: String, textCol: String,
           segLen: Int, path: String): Unit = {
    val s = histDocs.sparkSession
    TextOps.writeSegmentDf(histDocs, idCol, textCol, segLen, path,
      batchId = 0L)
    BatchStore.commit(s, path, 0L)
  }

  /** Serve + absorb one micro-batch of documents; skip if committed.
    * The serve cuts against the SUMMED history df behind the fence;
    * absorption adds the batch's own counts so the next batch's
    * threshold test sees them. Crash points for the segdfcrash storm:
    * `-Dgraft.segdf.crashAfterServe=<b>` halts right after batch b's
    * verdict write, `-Dgraft.segdf.crashAfterAbsorb=<b>` after its
    * count absorption ([[BatchStore.applyOnce]]). */
  def applyBatch(batchDocs: DataFrame, idCol: String, textCol: String,
                 segLen: Int, minDf: Int, path: String,
                 batchId: Long): Unit = {
    val s = batchDocs.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batchDocs, path, batchId,
        Some("graft.segdf.crashAfterServe"),
        Some("graft.segdf.crashAfterAbsorb")) {
      BatchStore.writeBatch(TextOps.serveSegmentCut(s, path, batchDocs,
          idCol, textCol, segLen, minDf, batchCut = Some(batchId)),
        batchId, s"$path/served")
    } { _ =>
      TextOps.writeSegmentDf(batchDocs, idCol, textCol, segLen, path,
        batchId = batchId)
    }
  }

  /** Retention fold for the count store: partitions `b ≤ upTo` compact
    * into one snapshot labeled `b = upTo`. The count store's
    * fold-crash hazard is one the set-union stores don't have: a crash
    * between the merged write and the source-partition deletes leaves
    * the fold snapshot COEXISTING with its sources, and a naive
    * summed-merge rerun (or read) would double-count. The fix is
    * structural: rows keep their originating batch in the `src` DATA
    * column, the fold preserves (segment, src, df) granularity —
    * partition compaction, never row aggregation — and every read
    * dedups (segment, src) before summing ([[graft.operators.TextOps
    * .serveSegmentCut]]), so any overlap between folded and unfolded
    * state collapses to the exact counts. Read-invisibility for any
    * fence then holds trivially: the fence keys on `src`, which the
    * fold never rewrites. [[BatchStore.fold]] runs it, behind the
    * fold-safety fence every store shares. */
  def foldSegDf(s: SparkSession, path: String, upTo: Long): Unit =
    BatchStore.fold(s, path, upTo, "foldSegDf",
      BatchStore.Folded("segdf", Seq("__seg", "src"),
        shuffle = Some("__seg"), project = Seq("__seg", "df", "src")))

  /** The real streaming loop: one [[applyBatch]] per micro-batch of
    * (idCol, textCol) rows. */
  def maintain(rows: DataFrame, idCol: String, textCol: String,
               segLen: Int, minDf: Int, path: String, checkpoint: String,
               batchIdOffset: Long = 1L): StreamingQuery =
    BatchStore.foreachBatch(rows, checkpoint, localCheckpoint = true) {
      (batch, batchId) =>
        applyBatch(batch, idCol, textCol, segLen, minDf, path,
          batchId + batchIdOffset)
    }
}
