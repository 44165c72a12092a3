package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Continuous near-dup TEXT dedup over a stream of crawl batches — the
  * [[PhashStream]] lifecycle on the SimHash fingerprint lens (one
  * shared serve core: [[graft.operators.Hamming.serveDedupCore]]):
  * each micro-batch of documents serves against every PRIOR batch's
  * fingerprints (never its own — the batchCut redelivery fence), its
  * verdicts land under `served/b=<id>`, and its FRESH keepers'
  * fingerprints absorb under `simhash/b=<id>` so a later light rewrite
  * of a surviving page is still caught. All writes are idempotent
  * dynamic partition overwrites; the commit marker is last; a crashed
  * attempt redelivers to a bit-identical store. The index rows are two
  * longs per document — the texts are sketched once on arrival and
  * never travel again, which is what makes the store serveable at
  * crawl scale (a 100 TB crawl's index is ~16 bytes/doc).
  */
object SimhashStream {

  /** Seed the store: history's fingerprints under b=0. (No distance
    * parameter on purpose — the store is raw fingerprints; maxDist is
    * a SERVE-time choice, review fix round 19.) */
  def init(histDocs: DataFrame, idCol: String, textCol: String,
           path: String): Unit = {
    val s = histDocs.sparkSession
    TextOps.writeSimhashStore(histDocs, idCol, textCol, path)
    BatchStore.commit(s, path, 0L)
  }

  /** Serve + absorb one micro-batch of documents; skip if committed.
    * Crash points for the simhashcrash storm:
    * `-Dgraft.simhash.crashAfterServe=<b>` halts right after batch b's
    * verdict write, `-Dgraft.simhash.crashAfterAbsorb=<b>` after its
    * fingerprint absorption ([[BatchStore.applyOnce]]).
    *
    * `absorbFull` selects WHAT absorbs ([[PhashStream.applyBatch]]'s
    * option on the text lens): keeper-only keeps the store at one row
    * per SURVIVING doc but Hamming distance is not transitive — a
    * later rewrite ≤ maxDist from a DROPPED copy yet > maxDist from
    * its keeper is a recall miss; `absorbFull = true` absorbs every
    * batch fingerprint and catches the chain at 1/(1−f)× the store
    * rows on duplicate fraction f. Verdict tables are identical either
    * way — the option changes what the store REMEMBERS, never which
    * docs get served. */
  def applyBatch(batchDocs: DataFrame, idCol: String, textCol: String,
                 maxDist: Int, path: String, batchId: Long,
                 absorbFull: Boolean = false): Unit = {
    val s = batchDocs.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batchDocs, path, batchId,
        Some("graft.simhash.crashAfterServe"),
        Some("graft.simhash.crashAfterAbsorb")) {
      val served = TextOps.serveSimhashDedup(s, path, batchDocs,
          idCol, textCol, maxDist, batchCut = Some(batchId))
        .localCheckpoint(eager = true) // feeds the persist AND the absorb
      BatchStore.writeBatch(served, batchId, s"$path/served")
      served
    } { served =>
      val batchHashes = TextOps.simhash(batchDocs, idCol, textCol)
      TextOps.appendSimhash(
        if (absorbFull) batchHashes
        else batchHashes
          .join(served.filter(col("is_fresh")).select(idCol),
            Seq(idCol), "left_semi"),
        idCol, path, batchId)
    }
  }

  /** Retention fold for the fingerprint index — [[BatchStore.fold]] on
    * the text lens: batches `b ≤ upTo` merge into one snapshot labeled
    * `b = upTo`, deduped on `idCol`; read-invisibility for any
    * `batchCut > upTo`. */
  def foldSimhash(s: SparkSession, path: String, idCol: String,
                  upTo: Long): Unit =
    BatchStore.fold(s, path, upTo, "foldSimhash",
      BatchStore.Folded("simhash", Seq(idCol), shuffle = Some("simhash")))

  /** The real streaming loop: one [[applyBatch]] per micro-batch of
    * (idCol, textCol) rows. */
  def maintain(rows: DataFrame, idCol: String, textCol: String,
               maxDist: Int, path: String, checkpoint: String,
               batchIdOffset: Long = 1L,
               absorbFull: Boolean = false): StreamingQuery =
    BatchStore.foreachBatch(rows, checkpoint, localCheckpoint = true) {
      (batch, batchId) =>
        applyBatch(batch, idCol, textCol, maxDist, path,
          batchId + batchIdOffset, absorbFull = absorbFull)
    }
}
