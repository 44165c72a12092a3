package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Clustering, Similarity}

/** Continuous semantic dedup: the persisted sem store (q127's
  * discipline) maintained by a vector stream — each micro-batch is
  * (1) DEDUP-PROBED against the store as it stood before the batch
  * (near-dup pairs land in `path/pairs/b=<batchId>`), then
  * (2) routed through the frozen centroids and added to the members —
  * the "crawl lands, gets semantically deduped against everything
  * before it" loop, closed.
  *
  * Effectively-once, by the IndexStream mechanisms: every artifact of
  * a batch lives under a `b=<batchId>` partition written with DYNAMIC
  * partition overwrite (a redelivered batch — including one whose
  * earlier attempt failed partway — replaces its own partitions with
  * identical content), and a committed-batch marker turns redelivery
  * of a completed batch into a metadata no-op. Replaying ANY prefix of
  * batches leaves members AND pairs identical (law in SemStreamSpec).
  *
  * Store layout: [[init]] writes the frozen centroids and the seed
  * corpus's members under `b=0`; stream batches add `b=1, 2, …`
  * (members partitioned (b, cluster)). [[Similarity.probeSemStore]]
  * reads either layout — it selects columns, never the partition
  * scheme — so the batch probe API serves stream-built stores
  * unchanged. The trade vs the batch store's cluster-first layout:
  * purge prunes by batch rather than by cluster here; a retention
  * fold (the q115 move) re-layouts when history grows.
  *
  * Determinism contract: routing and pairing are pure per-row
  * functions of the frozen centroids, so the final members equal the
  * batch build over the union, and each batch's pairs equal a batch
  * probe against the prior members — HOW the stream was micro-batched
  * is unobservable in any result (the law SemStreamSpec pins).
  */
object SemStream {

  /** Build the stream-layout store: frozen centroids trained on the
    * seed corpus, members under b=0. Batches then start at id 1
    * (foreachBatch ids start at 0 — pass `batchIdOffset = 1` below,
    * the default). */
  def init(corpus: DataFrame, idCol: String, vecCol: String,
           k: Int, iters: Int, path: String): Unit = {
    val s = corpus.sparkSession
    val (av, cents) = Clustering.kmeansQuantized(corpus, idCol, vecCol,
      k, iters, keepVec = true)
    import s.implicits._
    cents.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    av.withColumn("b", lit(0L))
      .write.mode("overwrite").partitionBy("b", "cluster")
      .parquet(s"$path/members")
    BatchStore.commit(s, path, 0L)
  }

  /** Apply one micro-batch: skip if committed; else probe the batch
    * against the members of batches BEFORE it (`batchCut = batchId` —
    * pairs → `pairs/b=`), route it and add its member rows
    * (`members/b=`), both idempotent dynamic overwrites, then the
    * marker. The batch cut is the redelivery fence: a crashed attempt
    * may have landed its own `b=batchId` member rows before the
    * marker, and an unfenced re-probe would pair the batch against
    * itself (self-pairs at cosine 1) — with the cut, the re-probe sees
    * exactly the prior members and rewrites `pairs/b=` with identical
    * content (law in SemStreamSpec, including the marker-missing
    * crash window). Within-batch duplicates are not paired (they
    * arrive together); the upstream keep-first guard is the usual
    * answer, same contract as IndexStream. Empty batches commit their
    * marker only. */
  def applyBatch(batch: DataFrame, idCol: String, vecCol: String,
                 path: String, thrNum: Long, thrDen: Long,
                 clusterCap: Long, seed: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.applyOnce(batch, path, batchId) {
      BatchStore.writeBatch(
        Similarity.probeSemStore(s, path, batch, idCol, vecCol,
          thrNum, thrDen, clusterCap, seed, batchCut = Some(batchId)),
        batchId, s"$path/pairs")
    } { _ =>
      BatchStore.writeBatch(Clustering.assignToCentroidsKeepVec(batch,
          idCol, vecCol, Similarity.readSemCents(s, path)),
        batchId, s"$path/members", "cluster")
    }
  }

  /** Retention fold for the stream-maintained sem store — the q115
    * lifecycle move ported to the (b, cluster) layout: merge every
    * members/pairs batch `b ≤ upTo` into ONE base snapshot labeled
    * `b = upTo`, leaving batches `> upTo` untouched. Batches hold
    * doc-disjoint rows routed through the SAME frozen centroids, so
    * folding is a pure relabel-union — no recompute, no re-route — and
    * every read that doesn't cut below the fold point is IDENTICAL
    * before and after (law in SemStreamSpec): the un-cut
    * [[Similarity.probeSemStore]], and any `batchCut > upTo`. History
    * BELOW the fold point is forfeited by contract (a cut ≤ upTo sees
    * only batches that escaped folding), same retention semantics as
    * the posting-index fold.
    *
    * The fold keeps the `b=` level (members fold INTO `b=upTo/
    * cluster=…`) rather than dropping to the batch store's bare
    * cluster-first layout: later stream batches keep writing
    * `b=<id>/…` next to it, and mixing a bare layout with partitioned
    * directories under one root is exactly the corruption the posting
    * store's legacy-layout fence exists to refuse. Committed-batch
    * markers are KEPT for folded batches — they fence a redelivering
    * producer from re-applying a batch the fold already absorbed.
    *
    * Crash recovery is exact here, BETTER than the posting fold's
    * double-count window: a failure between the overwrite and the
    * stale-dir delete leaves the folded rows present twice (under
    * `b=upTo` and under their stale dirs), but members dedupe by `id`
    * and pairs by their full row — both unique keys whose payloads are
    * deterministic — so the re-run converges to the clean fold
    * bit-for-bit instead of summing duplicates. */
  def foldSemStore(s: SparkSession, path: String, upTo: Long): Unit =
    BatchStore.fold(s, path, upTo, "foldSemStore",
      BatchStore.Folded("members", Seq("id"), more = Seq("cluster"),
        shuffle = Some("cluster")),
      BatchStore.Folded("pairs", Seq("cluster", "store_id", "batch_id")))

  /** Start the maintenance query over a vector stream. `batchIdOffset`
    * shifts foreachBatch's 0-based ids past the b=0 seed. */
  def maintainSemStore(vecs: DataFrame, idCol: String, vecCol: String,
                       path: String, thrNum: Long, thrDen: Long,
                       clusterCap: Long, seed: String,
                       checkpoint: String,
                       batchIdOffset: Long = 1L): StreamingQuery =
    BatchStore.foreachBatch(vecs, checkpoint, localCheckpoint = false) {
      (batch, batchId) =>
        applyBatch(batch, idCol, vecCol, path, thrNum, thrDen,
          clusterCap, seed, batchId + batchIdOffset)
    }
}
