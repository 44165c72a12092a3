package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SpanDedup

/** Continuous exact-substring span dedup over a stream of crawl
  * batches — [[CurationStream]]'s absorb-as-you-serve discipline
  * applied to the gram store: each micro-batch is cut against every
  * PRIOR batch's grams (never its own — the batchCut redelivery
  * fence), its cleaned docs land under `clean/b=<id>`, and the grams
  * of the CLEAN text (the corpus as stored, including seams the cut
  * created) absorb under `grams/b=<id>` so any later batch that
  * repeats a surviving passage loses it. All writes are idempotent
  * dynamic partition overwrites; the commit marker is last; a crashed
  * attempt redelivers to a bit-identical store.
  *
  * The bloom sketch's coverage stays where the last
  * [[SpanDedup.writeGramBloom]] sweep put it — freshly absorbed
  * batches serve through the residual plain semi-join until the next
  * sweep, so absorption never blocks on a corpus-sized aggregate. */
object SpanStream {

  /** Seed the store: history's grams under b=0, bloom swept to 0. */
  def init(histDocs: DataFrame, idCol: String, textCol: String,
           k: Int, path: String): Unit = {
    val s = histDocs.sparkSession
    SpanDedup.writeGramStore(s, histDocs, idCol, textCol, k, path)
    BatchStore.commit(s, path, 0L)
  }

  /** Serve + absorb one micro-batch; skip if committed (redelivery).
    * Crash points for the spancrash storm (Stress mode "spancrash"):
    * `-Dgraft.spans.crashAfterClean=<b>` halts the JVM right after
    * batch b's clean write, `-Dgraft.spans.crashAfterAbsorb=<b>` after
    * its gram absorption. */
  def applyBatch(batchDocs: DataFrame, idCol: String, textCol: String,
                 k: Int, path: String, batchId: Long): Unit = {
    val s = batchDocs.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batchDocs, path, batchId,
        Some("graft.spans.crashAfterClean"),
        Some("graft.spans.crashAfterAbsorb")) {
      val cleaned = SpanDedup.serveSpanCut(s, path, batchDocs,
          idCol, textCol, k, batchCut = Some(batchId))
        .localCheckpoint(eager = true)
      BatchStore.writeBatch(cleaned, batchId, s"$path/clean")
      cleaned
    } { cleaned =>
      SpanDedup.appendGrams(
        cleaned.select(col(idCol), col("clean_text").as(textCol)),
        idCol, textCol, k, path, batchId)
    }
  }

  /** Retention fold for the gram store — [[BatchStore.fold]] on the
    * one artifact the serve path reads: every `grams` batch `b ≤ upTo`
    * merges into one snapshot labeled `b = upTo`, deduped on `__gh`.
    * The bloom re-sweeps to the fold point last (a crash before that
    * leaves the previous, still-correct sketch — its covered slice is
    * exactly the fold's content). Read-invisibility:
    * [[SpanDedup.serveSpanCut]] with `batchCut = c > upTo` sees the
    * identical gram set either way. */
  def foldGrams(s: SparkSession, path: String, upTo: Long): Unit = {
    BatchStore.fold(s, path, upTo, "foldGrams",
      BatchStore.Folded("grams", Seq("__gh"), shuffle = Some("__gh")))
    SpanDedup.writeGramBloom(s, path, coveredUpTo = upTo)
  }

  /** The real streaming loop: one [[applyBatch]] per micro-batch. */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
               k: Int, path: String, checkpoint: String,
               batchIdOffset: Long = 1L): StreamingQuery =
    BatchStore.foreachBatch(docs, checkpoint, localCheckpoint = true) {
      (batch, batchId) =>
        applyBatch(batch.select(col(idCol), col(textCol)),
          idCol, textCol, k, path, batchId + batchIdOffset)
    }
}
