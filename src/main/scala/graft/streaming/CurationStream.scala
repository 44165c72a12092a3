package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Clustering, Curation, Sampling, Similarity, TextOps}

/** Continuous curation: [[graft.operators.Curation]]'s frozen-artifact
  * serve loop maintained by a document stream — the production shape of
  * the whole engine. Each micro-batch is (1) CURATED against the store
  * as it stood before the batch (exact + semantic dedup vs absorbed
  * history, frozen-NB quality, frozen-BPE/DSIR annotations — the
  * certified q147 serve path, batchCut-fenced), then (2) its SURVIVORS
  * are ABSORBED: their routed vectors join the sem members, their
  * content hashes join the hash log, and the curated rows land under
  * `curated/b=<batchId>` — so the next crawl batch dedups against
  * everything curated before it. The classifier-family models (NB, BPE,
  * DSIR) stay frozen by contract: retraining is a scheduled offline
  * move (q146/q144's writers), never a per-batch one, exactly like the
  * frozen k-means centroids.
  *
  * Effectively-once by the IndexStream/SemStream mechanisms: every
  * batch artifact lives under a `b=<batchId>` partition written with
  * dynamic partition overwrite, a committed-batch marker makes
  * redelivery of a completed batch a metadata no-op, and the batchCut
  * fence makes redelivery of a CRASHED batch (survivors absorbed,
  * marker missing) serve against exactly the pre-batch store — so the
  * rewrite is byte-equal instead of the batch deduping against itself
  * (law in CurationStreamSpec, including the worst-ordered crash).
  *
  * Determinism contract: serving is a pure function of the frozen
  * models and the absorbed prefix, so the stream's `curated/b=k`
  * equals the SEQUENTIAL serve+absorb loop over the same batches —
  * HOW the crawl was micro-batched is unobservable (the q58/SemStream
  * law at the curation level; q149's oracle replays the whole chain).
  *
  * Store layout under `path/`:
  *   sem/      — [[SemStream.init]]'s stream layout: frozen centroids +
  *               members under (b, cluster)
  *   hashes/   — content hashes under b= (b=0 seeds the history)
  *   curated/  — the output: served rows under b=
  *   nb/ bpe/ dsir/ — the frozen per-doc models
  *   the batch markers of [[BatchStore]] */
object CurationStream {

  /** Build the stream-layout curation store: every frozen model trained
    * on history ONLY, history's members/hashes seeded under b=0.
    * Batches then start at id 1. */
  def init(histDocs: DataFrame, histVecs: DataFrame,
           idCol: String, vecCol: String, labelCol: String,
           textCol: String, k: Int, iters: Int,
           numMerges: Int, maxWords: Int,
           dsirTarget: Column, dsirBuckets: Int,
           path: String, seed: String = "graft"): Unit = {
    val s = histDocs.sparkSession
    SemStream.init(histVecs, idCol, vecCol, k, iters, s"$path/sem")
    histDocs
      .select(md5(TextOps.normalizeText(col(textCol))).as("content_hash"))
      .distinct()
      .withColumn("b", lit(0L))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/hashes")
    Curation.writeHashBloom(s, path, coveredUpTo = 0L)
    TextOps.writeNbModel(histDocs, labelCol, textCol, s"$path/nb")
    TextOps.writeBpeMerges(s,
      TextOps.bpeLearnMerges(histDocs, textCol, numMerges, maxWords),
      s"$path/bpe")
    Sampling.writeDsirWeights(histDocs, idCol, textCol, dsirTarget,
      dsirBuckets, s"$path/dsir", seed)
    BatchStore.commit(s, path, 0L)
  }

  /** Apply one micro-batch: skip if committed; else SERVE against the
    * pre-batch store (batchCut fence), write the curated rows, absorb
    * the survivors' routed vectors and hashes — all idempotent dynamic
    * overwrites — then the marker. Crash points for the curcrash storm
    * (Stress mode "curcrash"): `-Dgraft.curation.crashAfterCurated=<b>`
    * halts the JVM right after batch b's curated write,
    * `-Dgraft.curation.crashAfterAbsorb=<b>` after its full absorption
    * ([[BatchStore.applyOnce]]).
    *
    * `lexicalLane` is [[graft.operators.Curation.serveBatch]]'s opt-in
    * passed through: vectorless keepers curate through the no-vector
    * stages and land in `curated/` with `cluster = null`. Absorption
    * composes unchanged — every survivor's hash joins the log (so a
    * later exact copy of a LEXICAL survivor drops in any later batch),
    * and the member absorption's inner join on `batchVecs` naturally
    * contributes no member row for a vectorless survivor (nothing to
    * route; later batches cannot near-dup against a vector that does
    * not exist). */
  def applyBatch(batchDocs: DataFrame, batchVecs: DataFrame,
                 idCol: String, vecCol: String, labelCol: String,
                 srcCol: String, textCol: String,
                 path: String, thrNum: Long, thrDen: Long,
                 clusterCap: Long, seed: String, batchId: Long,
                 lexicalLane: Boolean = false): Unit = {
    val s = batchDocs.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batchDocs, path, batchId,
        Some("graft.curation.crashAfterCurated"),
        Some("graft.curation.crashAfterAbsorb")) {
      // materialize the serve ONCE: three artifacts derive from it,
      // and a lazy plan would re-run the whole serve per write
      val served = Curation.serveBatch(s, path, batchDocs, batchVecs,
          idCol, vecCol, labelCol, srcCol, textCol,
          thrNum, thrDen, clusterCap, seed, batchCut = Some(batchId),
          lexicalLane = lexicalLane)
        .localCheckpoint(eager = true)
      BatchStore.writeBatch(served, batchId, s"$path/curated")
      served
    } { served =>
      val survivors = served.select(col(idCol))
      BatchStore.writeBatch(Clustering.assignToCentroidsKeepVec(
          batchVecs.join(survivors, Seq(idCol)), idCol, vecCol,
          Similarity.readSemCents(s, s"$path/sem")),
        batchId, s"$path/sem/members", "cluster")
      BatchStore.writeBatch(batchDocs.join(survivors, Seq(idCol))
          .select(md5(TextOps.normalizeText(col(textCol))).as("content_hash"))
          .distinct(),
        batchId, s"$path/hashes")
    }
  }

  /** Retention fold for the curation store — [[SemStream.foldSemStore]]'s
    * move applied to the artifacts the SERVE PATH reads: merge every
    * `sem/members` and `hashes` batch `b ≤ upTo` into one snapshot
    * labeled `b = upTo`, leaving later batches untouched. Both folds
    * are pure relabel-unions deduped on their unique key (member `id`,
    * `content_hash`), so a crash between overwrite and stale-dir
    * delete re-runs to the clean fold bit-for-bit. `curated/` is NOT
    * folded: its `b` is the output's batch identity, not probe state —
    * retention there belongs to the consumer.
    *
    * Read-invisibility: [[graft.operators.Curation.serveBatch]] with
    * `batchCut = c > upTo` sees the same hash set and the same member
    * rows before and after (the cut keeps `b = upTo`), so serving is
    * IDENTICAL across the fold — q150 certifies exactly that through
    * the driver oracle, which replays the 3-batch chain with no idea a
    * fold happened between batches 2 and 3.
    *
    * [[BatchStore.fold]]'s fence checks both artifacts: every batch
    * with rows at or below the fold point must carry its commit marker,
    * and the fold point must not sit above the last committed batch. */
  def foldStore(s: SparkSession, path: String, upTo: Long): Unit = {
    BatchStore.fold(s, path, upTo, "foldStore",
      BatchStore.Folded("sem/members", Seq("id"), more = Seq("cluster"),
        shuffle = Some("cluster")),
      BatchStore.Folded("hashes", Seq("content_hash")))
    // rebuild the serve path's hash-log bloom over the folded snapshot
    // (Curation.writeHashBloom): between rebuilds the sketch is
    // stale-but-correct — serve runs b > covered_up_to through a plain
    // exact anti-join — and a crash between the fold and this rebuild
    // just leaves the previous (still-correct) sketch in place
    Curation.writeHashBloom(s, path, coveredUpTo = upTo)
  }

  /** Start the curation query over a document stream whose rows carry
    * (idCol, srcCol, labelCol, textCol, vecCol). `batchIdOffset`
    * shifts foreachBatch's 0-based ids past the b=0 seed. */
  def maintain(docs: DataFrame, idCol: String, vecCol: String,
               labelCol: String, srcCol: String, textCol: String,
               path: String, thrNum: Long, thrDen: Long,
               clusterCap: Long, seed: String, checkpoint: String,
               batchIdOffset: Long = 1L,
               lexicalLane: Boolean = false): StreamingQuery =
    BatchStore.foreachBatch(docs, checkpoint, localCheckpoint = true) {
      (b, batchId) =>
        applyBatch(
          b.select(col(idCol), col(srcCol), col(labelCol), col(textCol)),
          b.select(col(idCol), col(vecCol)),
          idCol, vecCol, labelCol, srcCol, textCol,
          path, thrNum, thrDen, clusterCap, seed, batchId + batchIdOffset,
          lexicalLane = lexicalLane)
    }
}
