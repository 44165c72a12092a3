package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal

/** Continuous media dedup over a stream of crawl batches —
  * [[SpanStream]]'s absorb-as-you-serve discipline applied to the
  * perceptual-hash index: each micro-batch of images serves against
  * every PRIOR batch's hashes (never its own — the batchCut redelivery
  * fence), its verdicts land under `served/b=<id>`, and its FRESH
  * keepers' hashes absorb under `phash/b=<id>` so a later re-encode of
  * a surviving image is caught. All writes are idempotent dynamic
  * partition overwrites; the commit marker is last; a crashed attempt
  * redelivers to a bit-identical store. The index rows are 16 bytes per
  * image — the media binaries are hashed once on arrival and never
  * travel again.
  */
object PhashStream {

  /** Seed the store: history's hashes under b=0. */
  def init(histMedia: DataFrame, width: Int, path: String): Unit = {
    val s = histMedia.sparkSession
    Multimodal.writePhashStore(histMedia, width, path)
    BatchStore.commit(s, path, 0L)
  }

  /** Serve + absorb one micro-batch of media; skip if committed.
    * Crash points for the phashcrash storm:
    * `-Dgraft.phash.crashAfterServe=<b>` halts right after batch b's
    * verdict write, `-Dgraft.phash.crashAfterAbsorb=<b>` after its hash
    * absorption ([[BatchStore.applyOnce]]).
    *
    * `absorbFull` selects WHAT absorbs (round-18, from the round-17
    * recall note at [[Multimodal.appendPhash]]): the default keeper-
    * only mode indexes each batch's FRESH survivors — the store stays
    * one 16-byte row per *surviving* image, but Hamming distance is
    * not transitive, so a later re-encode that drifted ≤ maxDist from
    * a DROPPED copy while landing > maxDist from its keeper is missed.
    * `absorbFull = true` absorbs every decodable batch hash (keepers
    * AND dropped dups): the drift chain is then caught at the cost of
    * one store row per *arriving* image — on a crawl with duplicate
    * fraction f, a 1/(1−f)× larger index (the verdict table is
    * unaffected either way). PhashStreamSpec plants the chain and pins
    * the containment law: keeper-mode matches ⊆ full-mode matches. */
  def applyBatch(batchMedia: DataFrame, width: Int, maxDist: Int,
                 path: String, batchId: Long,
                 absorbFull: Boolean = false): Unit = {
    val s = batchMedia.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batchMedia, path, batchId,
        Some("graft.phash.crashAfterServe"),
        Some("graft.phash.crashAfterAbsorb")) {
      val served = Multimodal.servePhashDedup(s, path, batchMedia,
          width, maxDist, batchCut = Some(batchId))
        .localCheckpoint(eager = true) // feeds the persist AND the absorb
      BatchStore.writeBatch(served, batchId, s"$path/served")
      served
    } { served =>
      val batchHashes = Multimodal.perceptualHash(batchMedia, width)
      Multimodal.appendPhash(
        if (absorbFull) batchHashes
        else batchHashes
          .join(served.filter(col("is_fresh")).select("media_id"),
            Seq("media_id"), "left_semi"),
        path, batchId)
    }
  }

  /** Retention fold for the hash index — [[BatchStore.fold]] on the
    * one artifact the serve reads: batches `b ≤ upTo` merge into one
    * snapshot labeled `b = upTo`, deduped on `media_id`;
    * read-invisibility for any `batchCut > upTo`. */
  def foldPhash(s: SparkSession, path: String, upTo: Long): Unit =
    BatchStore.fold(s, path, upTo, "foldPhash",
      BatchStore.Folded("phash", Seq("media_id"), shuffle = Some("dhash")))

  /** The real streaming loop: one [[applyBatch]] per micro-batch of
    * (idCol, payloadCol) rows, wrapped through the media-table
    * contract on arrival. */
  def maintain(rows: DataFrame, idCol: String, payloadCol: String,
               format: String, width: Int, maxDist: Int,
               path: String, checkpoint: String,
               batchIdOffset: Long = 1L,
               absorbFull: Boolean = false): StreamingQuery =
    BatchStore.foreachBatch(rows, checkpoint, localCheckpoint = true) {
      (batch, batchId) =>
        applyBatch(
          Multimodal.asMediaTable(batch, idCol, payloadCol, format),
          width, maxDist, path, batchId + batchIdOffset,
          absorbFull = absorbFull)
    }
}
