package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Clustering

case class Vec(vec_id: Long, embedding: Array[Float])

/** The stream-maintained semantic-dedup store must be
  * indistinguishable from the batch composition over the same
  * vectors: final members ≡ routing the union through the frozen
  * centroids, each batch's pairs ≡ a batch probe against the members
  * that preceded it, and replaying any prefix changes nothing. */
class SemStreamSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private val (thrNum, thrDen, cap, seed) = (49L, 400L, 32L, "graft")

  private def memberRows(path: String) = spark.read
    .parquet(s"$path/members")
    .select(col("id"), col("cluster").cast("int"), col("dist"))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def pairRows(path: String) = spark.read
    .parquet(s"$path/pairs")
    .select(col("b").cast("long"), col("cluster"), col("store_id"),
      col("batch_id"))
    .collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("streamed sem store ≡ batch composition, whatever the " +
       "micro-batch boundaries; pairs see exactly the prior members") {
    implicit val ctx = spark.sqlContext
    val e = fixture
    val seedCorpus = e.filter(col("vec_id") % 3 === 0)
    val streamRows = e.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().toSeq.sortBy(_.vec_id)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semstream").toString
    SemStream.init(seedCorpus, "vec_id", "embedding",
      k = 4, iters = 2, s"$dir/store")
    val in = MemoryStream[Vec]
    val q = SemStream.maintainSemStore(in.toDF(), "vec_id", "embedding",
      s"$dir/store", thrNum, thrDen, cap, seed, s"$dir/ckpt")
    val (b1, b2) = streamRows.splitAt(streamRows.size / 2)
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      q.processAllAvailable() // empty epoch: marker only
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // members ≡ routing the union through the frozen centroids
    val (_, cents) = Clustering.kmeansQuantized(
      seedCorpus, "vec_id", "embedding", k = 4, iters = 2)
    val want = Clustering.assignToCentroidsKeepVec(
        seedCorpus.unionByName(e.filter(col("vec_id") % 3 =!= 0)),
        "vec_id", "embedding", cents)
      .select(col("id"), col("cluster"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(memberRows(s"$dir/store") == want,
      "streamed members drifted from the routed union")
    // each batch's pairs = batch probe against the PRIOR store only:
    // replay the lifecycle batch-wise and compare
    val replayDir = java.nio.file.Files
      .createTempDirectory("graft-semreplay").toString
    SemStream.init(seedCorpus, "vec_id", "embedding",
      k = 4, iters = 2, s"$replayDir/store")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      SemStream.applyBatch(b.toDF(), "vec_id", "embedding",
        s"$replayDir/store", thrNum, thrDen, cap, seed, i + 1L)
    }
    assert(pairRows(s"$dir/store") == pairRows(s"$replayDir/store"))
    assert(pairRows(s"$dir/store").nonEmpty, "pair law vacuous")
    // effectively-once: replaying any prefix of applied batches is a
    // no-op for members AND pairs
    val before = (memberRows(s"$replayDir/store"),
      pairRows(s"$replayDir/store"))
    SemStream.applyBatch(b1.toDF(), "vec_id", "embedding",
      s"$replayDir/store", thrNum, thrDen, cap, seed, 1L)
    assert((memberRows(s"$replayDir/store"),
      pairRows(s"$replayDir/store")) == before,
      "replayed batch mutated the store")
    Seq(dir, replayDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("crash window: redelivery after members landed but before the " +
       "marker rewrites pairs with identical content") {
    // The worst-ordered crash: applyBatch wrote pairs AND members for
    // b=2, died before the marker. Redelivery re-probes — without the
    // b < batchId fence it would pair the batch against its OWN landed
    // members (self-pairs at cosine 1); with it, the rewrite is
    // byte-equivalent and the store converges to the clean lifecycle.
    val e = fixture
    val seedCorpus = e.filter(col("vec_id") % 3 === 0)
    val rest = e.filter(col("vec_id") % 3 =!= 0)
    val b1 = rest.filter(col("vec_id") % 2 === 0)
    val b2 = rest.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semcrash").toString
    val path = s"$dir/store"
    SemStream.init(seedCorpus, "vec_id", "embedding", k = 4, iters = 2, path)
    SemStream.applyBatch(b1, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 1L)
    SemStream.applyBatch(b2, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 2L)
    val (wantMembers, wantPairs) = (memberRows(path), pairRows(path))
    assert(wantPairs.exists(_._1 == 2L), "crash-window law vacuous: " +
      "batch 2 produced no pairs")
    // simulate the crash: erase only the b=2 marker, leave all data
    val marker = new org.apache.hadoop.fs.Path(s"$path/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(!BatchStore.committed(spark, path, 2L))
    SemStream.applyBatch(b2, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 2L) // redelivery against a dirty store
    assert(BatchStore.committed(spark, path, 2L))
    assert(memberRows(path) == wantMembers,
      "redelivered batch changed the members")
    assert(pairRows(path) == wantPairs,
      "redelivered batch changed the pairs — the batch saw its own rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("fold fence: refuses an uncommitted batch below the fold point " +
       "and a fold point above the last committed batch") {
    // If the fold absorbed a crashed batch's partial rows into b=upTo,
    // the kept markers would no longer fence its redelivery and the
    // batch's docs would land TWICE (b=k and b=upTo) — so the fold must
    // refuse marker-less batches outright, and refuse folding "ahead"
    // of the last committed batch (relabeling history to a partition
    // future batchCuts exclude).
    val e = fixture
    val seedCorpus = e.filter(col("vec_id") % 3 === 0)
    val rest = e.filter(col("vec_id") % 3 =!= 0)
    val b1 = rest.filter(col("vec_id") % 2 === 0)
    val b2 = rest.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semfoldfence").toString
    val path = s"$dir/store"
    SemStream.init(seedCorpus, "vec_id", "embedding", k = 4, iters = 2, path)
    SemStream.applyBatch(b1, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 1L)
    SemStream.applyBatch(b2, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 2L)
    // crash window: data landed for b=2, marker gone
    val marker = new org.apache.hadoop.fs.Path(s"$path/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    val ex = intercept[IllegalArgumentException] {
      SemStream.foldSemStore(spark, path, upTo = 2L)
    }
    assert(ex.getMessage.contains("no commit marker"), ex.getMessage)
    // redelivery completes the batch; the fold is legal again —
    // but never above the last committed id
    SemStream.applyBatch(b2, "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 2L)
    val ex2 = intercept[IllegalArgumentException] {
      SemStream.foldSemStore(spark, path, upTo = 5L)
    }
    assert(ex2.getMessage.contains("above the last committed"), ex2.getMessage)
    val before = memberRows(path)
    SemStream.foldSemStore(spark, path, upTo = 2L)
    assert(memberRows(path) == before, "legal fold changed the members")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("retention fold: probes and replay-any-prefix survive the fold; " +
       "stale batch dirs vanish; idempotent") {
    val e = fixture
    val seedCorpus = e.filter(col("vec_id") % 4 === 0)
    val batches = (1 to 3).map(r => e.filter(col("vec_id") % 4 === r))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semfold").toString
    val path = s"$dir/store"
    SemStream.init(seedCorpus, "vec_id", "embedding", k = 4, iters = 2, path)
    batches.zipWithIndex.foreach { case (b, i) =>
      SemStream.applyBatch(b, "vec_id", "embedding", path,
        thrNum, thrDen, cap, seed, i + 1L)
    }
    // a future batch's probe (the read that must survive): un-cut and
    // cut-above-the-fold-point variants
    val nextBatch = e.filter(col("vec_id") % 4 === 0)
      .limit(20).select(col("vec_id"), col("embedding"))
    def probe(cut: Option[Long]) = graft.operators.Similarity
      .probeSemStore(spark, path, nextBatch, "vec_id", "embedding",
        thrNum, thrDen, cap, seed, batchCut = cut)
      .collect().map(_.toString).sorted.toSeq
    val wantMembers = memberRows(path)
    val wantPairs = pairRows(path)
    val wantProbe = probe(None)
    val wantProbeCut = probe(Some(3L))
    assert(wantProbe.nonEmpty, "fold law vacuous: probe found no pairs")
    def bDirs(sub: String): Set[Long] = {
      val root = new java.io.File(s"$path/$sub")
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("b="))
        .map(_.getName.stripPrefix("b=").toLong).toSet
    }
    assert(bDirs("members") == Set(0L, 1L, 2L, 3L))
    SemStream.foldSemStore(spark, path, upTo = 2L)
    assert(memberRows(path) == wantMembers, "fold changed the members")
    assert(pairRows(path).map(p => (p._2, p._3, p._4)) ==
      wantPairs.map(p => (p._2, p._3, p._4)),
      "fold changed a pair's content (b relabeling aside)")
    assert(probe(None) == wantProbe, "fold changed the un-cut probe")
    assert(probe(Some(3L)) == wantProbeCut,
      "fold changed a probe cut above the fold point")
    assert(bDirs("members") == Set(2L, 3L), s"members dirs: ${bDirs("members")}")
    assert(!bDirs("pairs").exists(_ < 2L), s"pairs dirs: ${bDirs("pairs")}")
    // markers kept: a redelivered folded batch stays a no-op
    (1L to 3L).foreach(b => assert(BatchStore.committed(spark, path, b)))
    SemStream.applyBatch(batches(0), "vec_id", "embedding", path,
      thrNum, thrDen, cap, seed, 1L)
    assert(memberRows(path) == wantMembers,
      "redelivered folded batch mutated the store")
    // idempotent: nothing left to merge
    SemStream.foldSemStore(spark, path, upTo = 2L)
    assert(memberRows(path) == wantMembers && probe(None) == wantProbe)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
