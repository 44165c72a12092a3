package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class CrawlDoc(doc_id: Long, source: String, lang: String,
                    text: String, embedding: Array[Float])

/** Continuous-curation laws. Curation output legitimately DEPENDS on
  * micro-batch boundaries (within-batch dedup is batch-scoped by
  * design), so the streamed law is not boundary-invariance but
  * machinery-invisibility: the real readStream path must equal the
  * sequential serve+absorb loop over the same batch sequence, batch
  * for batch — plus the SemStream redelivery discipline (committed
  * no-op; crash-window redelivery byte-equal via the batchCut fence,
  * without which a redelivered batch would exact-drop and
  * near-dup-drop against its own absorbed survivors). */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val (thrNum, thrDen, cap, seed) = (49L, 400L, 48L, "graft-mix")
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("doc_id"), col("embedding"))

  private def initStore(path: String): Unit =
    CurationStream.init(
      docs.filter(col("doc_id") % 4 <= 1),
      vecs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, path = path, seed = seed)

  private def applySeq(path: String): Unit =
    Seq((2, 1L), (3, 2L)).foreach { case (m, b) =>
      CurationStream.applyBatch(
        docs.filter(col("doc_id") % 4 === m),
        vecs.filter(col("doc_id") % 4 === m),
        "doc_id", "embedding", "lang", "source", "text",
        path, thrNum, thrDen, cap, seed, batchId = b)
    }

  private def curated(path: String): Seq[String] = spark.read
    .parquet(s"$path/curated")
    .select(col("b").cast("long"), col("doc_id"), col("source"),
      col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score"))
    .collect().map(_.toString).sorted.toSeq

  private def hashRows(path: String): Set[(Long, String)] = spark.read
    .parquet(s"$path/hashes")
    .select(col("b").cast("long"), col("content_hash"))
    .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def memberRows(path: String): Set[(Long, Long, Int)] = spark.read
    .parquet(s"$path/sem/members")
    .select(col("b").cast("long"), col("id"), col("cluster").cast("int"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("real readStream path ≡ the sequential serve+absorb loop, " +
       "batch for batch") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    initStore(seqPath); applySeq(seqPath)
    initStore(strPath)
    val rows = docs.join(vecs, Seq("doc_id"))
      .select("doc_id", "source", "lang", "text", "embedding")
      .as[CrawlDoc].collect()
    val stream = MemoryStream[CrawlDoc]
    val q = CurationStream.maintain(stream.toDF(), "doc_id", "embedding",
      "lang", "source", "text", strPath, thrNum, thrDen, cap, seed,
      checkpoint = s"$dir/ckpt")
    stream.addData(rows.filter(_.doc_id % 4 == 2).toSeq)
    q.processAllAvailable()
    stream.addData(rows.filter(_.doc_id % 4 == 3).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(curated(strPath).nonEmpty, "stream law vacuous: nothing curated")
    assert(curated(strPath) == curated(seqPath),
      "streamed curated rows diverge from the sequential loop")
    assert(hashRows(strPath) == hashRows(seqPath))
    assert(memberRows(strPath) == memberRows(seqPath))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("lexical lane through the stream: real readStream lane-on ≡ the " +
       "sequential lane-on loop, and a later exact copy of a LEXICAL " +
       "survivor drops on the absorbed hash") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curlexstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    initStore(seqPath); initStore(strPath)
    // half of every batch is vectorless (vecs restricted to %8)
    val b1d = docs.filter(col("doc_id") % 4 === 2)
    val b1v = vecs.filter(col("doc_id") % 8 === 2)
    // find a batch-1 LEXICAL survivor deterministically, then plant its
    // exact text in batch 2 under a fresh id: the copy must drop on the
    // hash its lane-crossing absorption left in the log
    val probe = graft.operators.Curation.serveBatch(spark, seqPath, b1d, b1v,
        "doc_id", "embedding", "lang", "source", "text",
        thrNum, thrDen, cap, seed, batchCut = Some(1L), lexicalLane = true)
      .filter(col("cluster").isNull).select("doc_id")
      .orderBy("doc_id").limit(1)
      .collect()
    assert(probe.nonEmpty, "lane law vacuous: batch 1 has no lexical survivor")
    val lexId = probe.head.getLong(0)
    val copy = docs.filter(col("doc_id") === lexId)
      .select(lit(40000001L).as("doc_id"), col("source"), col("lang"),
        col("text"), col("n_chars"))
    val b2d = docs.filter(col("doc_id") % 4 === 3).unionByName(copy)
    val b2v = vecs.filter(col("doc_id") % 8 === 3)
    def applyLane(path: String, d: org.apache.spark.sql.DataFrame,
                  v: org.apache.spark.sql.DataFrame, b: Long): Unit =
      CurationStream.applyBatch(d, v, "doc_id", "embedding", "lang",
        "source", "text", path, thrNum, thrDen, cap, seed, batchId = b,
        lexicalLane = true)
    applyLane(seqPath, b1d, b1v, 1L); applyLane(seqPath, b2d, b2v, 2L)
    def rowsOf(d: org.apache.spark.sql.DataFrame,
               v: org.apache.spark.sql.DataFrame): Seq[CrawlDoc] = {
      val vv = v.select(col("doc_id").as("__vid"), col("embedding"))
      d.join(vv, col("doc_id") === col("__vid"), "left")
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("embedding"))
        .as[CrawlDoc].collect().toSeq
    }
    val stream = MemoryStream[CrawlDoc]
    val q = CurationStream.maintain(stream.toDF(), "doc_id", "embedding",
      "lang", "source", "text", strPath, thrNum, thrDen, cap, seed,
      checkpoint = s"$dir/ckpt", lexicalLane = true)
    stream.addData(rowsOf(b1d, b1v)); q.processAllAvailable()
    stream.addData(rowsOf(b2d, b2v)); q.processAllAvailable()
    q.stop()
    val want = curated(seqPath)
    assert(want == curated(strPath),
      "streamed lane-on curated rows diverge from the sequential loop")
    assert(hashRows(strPath) == hashRows(seqPath))
    assert(memberRows(strPath) == memberRows(seqPath))
    // both lanes present in both batches, and nothing routes a
    // vectorless doc (a lexical row's cluster is null — here encoded in
    // the row string)
    Seq(1L, 2L).foreach { b =>
      assert(want.exists(r => r.startsWith(s"[$b,") && r.contains("null")),
        s"batch $b has no lexical survivor")
      assert(want.exists(r => r.startsWith(s"[$b,") && !r.contains("null")),
        s"batch $b has no vectored survivor")
    }
    // lane-crossing dedup: the planted copy of batch 1's lexical
    // survivor never survives batch 2
    assert(!want.exists(_.contains("40000001")),
      "an exact copy of a lexical survivor escaped the absorbed hash")
    // and vectorless survivors left no member rows to near-dup against
    val givenVecIds = b1v.unionByName(b2v)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(memberRows(seqPath).filter(_._1 > 0L).map(_._2)
        .forall(givenVecIds),
      "a vectorless survivor absorbed a member row")
    // the epoch layer's pass-through serves the same lane: an epoch-0
    // store trained on the same history, batch 1 applied through
    // applyBatchEpoch(lexicalLane = true), matches the direct loop
    val root = s"$dir/epochroot"
    CurationEpochs.initEpoch(
      docs.filter(col("doc_id") % 4 <= 1), vecs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, epoch = 0L, seed = seed)
    CurationEpochs.applyBatchEpoch(b1d, b1v, "doc_id", "embedding",
      "lang", "source", "text", root, thrNum, thrDen, cap, seed,
      batchId = 1L, lexicalLane = true)
    assert(curated(CurationEpochs.epochPath(root, 0L)) ==
      want.filter(_.startsWith("[1,")),
      "epoch-layer lexicalLane pass-through diverged from the direct loop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("foldStore is invisible to later serves, idempotent, and fences " +
       "uncommitted batches and future fold points") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curfold").toString
    val (ctl, fld) = (s"$dir/control", s"$dir/folded")
    def applyB(path: String, m: Int, r: Int, b: Long): Unit =
      CurationStream.applyBatch(
        docs.filter(col("doc_id") % m === r),
        vecs.filter(col("doc_id") % m === r),
        "doc_id", "embedding", "lang", "source", "text",
        path, thrNum, thrDen, cap, seed, batchId = b)
    Seq(ctl, fld).foreach { p =>
      initStore(p); applyB(p, 4, 2, 1L); applyB(p, 8, 3, 2L)
    }
    CurationStream.foldStore(spark, fld, upTo = 2L)
    // the serve-path artifacts fold to ONE batch label with identical
    // content (the b column is layout, not meaning, below the fold)
    assert(hashRows(fld).map(_._2) == hashRows(ctl).map(_._2))
    assert(memberRows(fld).map(m => (m._2, m._3)) ==
      memberRows(ctl).map(m => (m._2, m._3)))
    assert(hashRows(fld).map(_._1) == Set(2L),
      s"hash batch dirs after fold: ${hashRows(fld).map(_._1)}")
    // batch 3 serves IDENTICALLY against the folded and unfolded store
    applyB(ctl, 8, 7, 3L); applyB(fld, 8, 7, 3L)
    assert(curated(fld) == curated(ctl),
      "the fold changed a later batch's serve")
    assert(curated(fld).exists(_.startsWith("[3,")),
      "fold law vacuous: batch 3 curated nothing")
    // idempotent: nothing below the fold point remains to merge
    CurationStream.foldStore(spark, fld, upTo = 2L)
    assert(curated(fld) == curated(ctl) &&
      hashRows(fld).map(_._2) == hashRows(ctl).map(_._2))
    // fences: a marker-less batch below the fold point refuses; a fold
    // point above the last committed batch refuses
    val marker = new org.apache.hadoop.fs.Path(s"$fld/_committed/3")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    val ex = intercept[IllegalArgumentException] {
      CurationStream.foldStore(spark, fld, upTo = 3L)
    }
    assert(ex.getMessage.contains("no commit marker"), ex.getMessage)
    applyB(fld, 8, 7, 3L) // redelivery completes batch 3
    val ex2 = intercept[IllegalArgumentException] {
      CurationStream.foldStore(spark, fld, upTo = 9L)
    }
    assert(ex2.getMessage.contains("above the last committed"), ex2.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("epoch swap: atomic publish, unpublished epoch invisible, " +
       "post-swap serve ≡ serve against the fresh store, redelivery " +
       "honors the pin across a swap") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curepoch").toString
    val root = s"$dir/root"
    def initE(epoch: Long, pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      CurationEpochs.initEpoch(
        docs.filter(pred(col("doc_id"))), vecs.filter(pred(col("doc_id"))),
        "doc_id", "embedding", "lang", "text",
        k = 8, iters = 2, numMerges = 16, maxWords = 100000,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 64, root = root, epoch = epoch, seed = seed)
    def applyE(m: Int, r: Int, b: Long): Long =
      CurationEpochs.applyBatchEpoch(
        docs.filter(col("doc_id") % m === r),
        vecs.filter(col("doc_id") % m === r),
        "doc_id", "embedding", "lang", "source", "text",
        root, thrNum, thrDen, cap, seed, batchId = b)
    initE(0L, _ % 4 <= 1)
    assert(CurationEpochs.currentEpoch(spark, root) == 0L)
    assert(applyE(4, 2, 1L) == 0L, "batch 1 must serve from epoch 0")
    // publishing a half-built epoch must refuse (the atomicity fence)
    intercept[IllegalArgumentException] {
      CurationEpochs.publish(spark, root, 7L)
    }
    // crash-mid-swap window: epoch 1's store is COMPLETE on disk but
    // the marker create never happened — the swap is invisible and the
    // next batch serves entirely from epoch 0
    CurationStream.init(
      docs.filter(col("doc_id") % 4 <= 2), vecs.filter(col("doc_id") % 4 <= 2),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, path = CurationEpochs.epochPath(root, 1L), seed = seed)
    assert(CurationEpochs.currentEpoch(spark, root) == 0L,
      "an unpublished epoch leaked into the serving pointer")
    assert(applyE(8, 3, 2L) == 0L,
      "a batch served from an unpublished epoch — mixed-epoch window")
    // the swap: one marker create; the NEXT batch picks it up
    CurationEpochs.publish(spark, root, 1L)
    assert(CurationEpochs.currentEpoch(spark, root) == 1L)
    assert(applyE(8, 7, 3L) == 1L, "post-swap batch stayed on the old epoch")
    // post-swap serve ≡ serveBatch against the freshly-trained store
    // directly (batchCut excludes the batch's own absorption)
    val direct = graft.operators.Curation.serveBatch(
        spark, CurationEpochs.epochPath(root, 1L),
        docs.filter(col("doc_id") % 8 === 7),
        vecs.filter(col("doc_id") % 8 === 7),
        "doc_id", "embedding", "lang", "source", "text",
        thrNum, thrDen, cap, seed, batchCut = Some(3L))
      .collect().map(_.toString).sorted.toSeq
    val streamed = spark.read
      .parquet(s"${CurationEpochs.epochPath(root, 1L)}/curated")
      .filter(col("b").cast("long") === 3L)
      .select("doc_id", "source", "lang", "cluster", "bpe_tokens",
        "dsir_score")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty, "epoch law vacuous: batch 3 curated nothing")
    assert(streamed == direct,
      "post-swap serve diverges from serving the fresh store directly")
    // readCurated carries the serving epoch per row: b=1,2 → epoch 0,
    // b=3 → epoch 1
    val epochOfB = CurationEpochs.readCurated(spark, root)
      .select(col("b").cast("long"), col("epoch"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(epochOfB == Map(1L -> 0L, 2L -> 0L, 3L -> 1L), s"$epochOfB")
    // redelivery across the swap: batch 2 crashed (marker deleted) and
    // is redelivered AFTER the pointer moved to epoch 1 — the pin must
    // keep it on epoch 0 and the rewrite must be byte-equal
    val e0 = CurationEpochs.epochPath(root, 0L)
    val want = (curated(e0), hashRows(e0), memberRows(e0))
    val marker = new org.apache.hadoop.fs.Path(s"$e0/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(applyE(8, 3, 2L) == 0L,
      "redelivery of a pre-swap batch jumped to the new epoch")
    assert((curated(e0), hashRows(e0), memberRows(e0)) == want,
      "pinned redelivery across the swap was not byte-equal")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("drift-gated retrain: below threshold is a no-op with the " +
       "decision on record; at threshold it publishes the new epoch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curgate").toString
    val root = s"$dir/root"
    CurationEpochs.initEpoch(
      docs.filter(col("doc_id") % 4 <= 1), vecs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, epoch = 0L, seed = seed)
    def gate(thr: Long, seq: Long): (Long, Boolean) =
      CurationEpochs.retrainIfDrifted(
        docs.filter(col("doc_id") % 4 <= 2), vecs.filter(col("doc_id") % 4 <= 2),
        "doc_id", "embedding", "lang", "text",
        k = 8, iters = 2, numMerges = 16, maxWords = 100000,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 64, root = root, newEpoch = 1L,
        thresholdBp = thr, gateSeq = seq, seed = seed)
    // 10001 bp is unreachable (drift ≤ 10000 by construction): no-op
    val (d1, p1) = gate(10001L, 1L)
    assert(!p1 && d1 >= 0 && d1 <= 10000)
    assert(CurationEpochs.currentEpoch(spark, root) == 0L,
      "a below-threshold gate moved the serving pointer")
    assert(!new java.io.File(CurationEpochs.epochPath(root, 1L)).exists(),
      "a below-threshold gate built a store")
    // threshold 0 always publishes; the signal is identical both times
    val (d2, p2) = gate(0L, 2L)
    assert(p2 && d2 == d1, s"gate signal not deterministic: $d1 vs $d2")
    assert(CurationEpochs.currentEpoch(spark, root) == 1L,
      "an at-threshold gate did not publish")
    // the decision log carries both ticks verbatim
    val log = spark.read.parquet(s"$root/_gate")
      .select("gate_seq", "threshold_bp", "drift_bp", "published",
        "serving_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(log == Set((1L, 10001L, d1, 0L, 0L), (2L, 0L, d1, 1L, 1L)),
      s"decision log diverged: $log")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("foldEpochs is invisible through readCurated, survives both " +
       "crash windows, refuses the serving epoch, and is idempotent") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curefold").toString
    val root = s"$dir/root"
    def initE(epoch: Long, pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      CurationEpochs.initEpoch(
        docs.filter(pred(col("doc_id"))), vecs.filter(pred(col("doc_id"))),
        "doc_id", "embedding", "lang", "text",
        k = 8, iters = 2, numMerges = 16, maxWords = 100000,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 64, root = root, epoch = epoch, seed = seed)
    def applyE(m: Int, r: Int, b: Long): Long =
      CurationEpochs.applyBatchEpoch(
        docs.filter(col("doc_id") % m === r),
        vecs.filter(col("doc_id") % m === r),
        "doc_id", "embedding", "lang", "source", "text",
        root, thrNum, thrDen, cap, seed, batchId = b)
    initE(0L, _ % 4 <= 1); assert(applyE(4, 2, 1L) == 0L)
    initE(1L, _ % 4 <= 2); assert(applyE(8, 3, 2L) == 1L)
    initE(2L, _ % 8 =!= 7)
    def snap() = CurationEpochs.readCurated(spark, root)
      .select(col("epoch").cast("long"), col("b").cast("long"),
        col("doc_id"), col("source"), col("lang"), col("cluster"),
        col("bpe_tokens"), col("dsir_score"))
      .collect().map(_.toString).sorted.toSeq
    val before = snap()
    assert(before.nonEmpty, "fold law vacuous: nothing curated")
    // crash window A (mid-archive-write, marker absent): a partial
    // epoch-0 partition in the archive must be invisible — the live
    // store is still the copy readCurated serves, exactly once
    spark.read.parquet(s"${CurationEpochs.epochPath(root, 0L)}/curated")
      .limit(1).withColumn("epoch", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(s"$root/curated_archive")
    assert(snap() == before,
      "an unmarked (crash-window) archive partition leaked into reads")
    // keep must cover the serving epoch
    intercept[IllegalArgumentException] {
      CurationEpochs.foldEpochs(spark, root, keep = 0)
    }
    // the fold: retire epoch 0 (keep serving + 1); the re-run of the
    // crashed step 1 overwrites the partial partition byte-identically
    CurationEpochs.foldEpochs(spark, root, keep = 2)
    assert(snap() == before, "foldEpochs changed what readCurated returns")
    assert(!new java.io.File(CurationEpochs.epochPath(root, 0L)).exists(),
      "retired epoch's store not deleted")
    assert(CurationEpochs.publishedEpochs(spark, root) == Seq(1L, 2L))
    assert(CurationEpochs.archivedEpochs(spark, root) == Seq(0L))
    assert(CurationEpochs.currentEpoch(spark, root) == 2L)
    // crash window B (marker created, store drop lost): re-marking is a
    // no-op and the fold is idempotent — a second fold with the same
    // keep retires nothing further and reads are unchanged
    CurationEpochs.foldEpochs(spark, root, keep = 2)
    assert(snap() == before, "re-folding was not a read no-op")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("gate crash window: a logged publish with an unmoved pointer " +
       "keeps the old epoch serving and is completed by reconcileGate") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-gaterec").toString
    val root = s"$dir/root"
    CurationEpochs.initEpoch(
      docs.filter(col("doc_id") % 4 <= 1), vecs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, epoch = 0L, seed = seed)
    // simulate the crash-after-gate-append window: candidate store
    // COMPLETE, decision row in the log, marker create never ran
    CurationStream.init(
      docs.filter(col("doc_id") % 4 <= 2), vecs.filter(col("doc_id") % 4 <= 2),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, path = CurationEpochs.epochPath(root, 1L), seed = seed)
    spark.range(1).select(
        lit(1L).as("gate_seq"), lit(0L).as("threshold_bp"),
        lit(5L).as("drift_bp"), lit(1L).as("published"),
        lit(1L).as("serving_epoch"))
      .write.mode("append").parquet(s"$root/_gate")
    assert(CurationEpochs.currentEpoch(spark, root) == 0L,
      "the crash window itself must leave the old epoch serving")
    CurationEpochs.reconcileGate(spark, root)
    assert(CurationEpochs.currentEpoch(spark, root) == 1L,
      "reconcileGate did not complete the logged publish")
    // idempotent: a second reconcile (and one with nothing pending)
    // changes nothing
    CurationEpochs.reconcileGate(spark, root)
    assert(CurationEpochs.publishedEpochs(spark, root) == Seq(0L, 1L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("epoch swap against a LIVE maintain query: a publish between " +
       "micro-batches takes effect at the next batch boundary, no restart") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curepochlive").toString
    val root = s"$dir/root"
    CurationEpochs.initEpoch(
      docs.filter(col("doc_id") % 4 <= 1), vecs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, epoch = 0L, seed = seed)
    val rows = docs.join(vecs, Seq("doc_id"))
      .select("doc_id", "source", "lang", "text", "embedding")
      .as[CrawlDoc].collect()
    val stream = MemoryStream[CrawlDoc]
    val q = CurationEpochs.maintain(stream.toDF(), "doc_id", "embedding",
      "lang", "source", "text", root, thrNum, thrDen, cap, seed,
      checkpoint = s"$dir/ckpt")
    stream.addData(rows.filter(_.doc_id % 8 == 2).toSeq)
    q.processAllAvailable() // batch 1 → epoch 0
    // the retrain + swap happen while the query RUNS — no restart
    CurationEpochs.initEpoch(
      docs.filter(col("doc_id") % 4 <= 2), vecs.filter(col("doc_id") % 4 <= 2),
      "doc_id", "embedding", "lang", "text",
      k = 8, iters = 2, numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, epoch = 1L, seed = seed)
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable() // batch 2 → epoch 1
    q.stop()
    val epochOfB = CurationEpochs.readCurated(spark, root)
      .select(col("b").cast("long"), col("epoch"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(epochOfB == Map(1L -> 0L, 2L -> 1L),
      s"live swap not picked up at the batch boundary: $epochOfB")
    // and the post-swap batch equals serving the fresh store directly
    val direct = graft.operators.Curation.serveBatch(
        spark, CurationEpochs.epochPath(root, 1L),
        docs.filter(col("doc_id") % 8 === 3),
        vecs.filter(col("doc_id") % 8 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        thrNum, thrDen, cap, seed, batchCut = Some(2L))
      .collect().map(_.toString).sorted.toSeq
    val streamed = spark.read
      .parquet(s"${CurationEpochs.epochPath(root, 1L)}/curated")
      .select("doc_id", "source", "lang", "cluster", "bpe_tokens",
        "dsir_score")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == direct,
      "live post-swap batch diverges from serving the fresh store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("drift-GATED swap against a LIVE maintain query: the tick " +
       "publishes mid-stream, the next batch pins the new epoch, and " +
       "redelivery honors its pin across the gate-driven swap") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curgatelive").toString
    val root = s"$dir/root"
    def train(hd: DataFrame, hv: DataFrame, root: String, e: Long): Unit =
      CurationEpochs.initEpoch(hd, hv, "doc_id", "embedding", "lang",
        "text", k = 8, iters = 2, numMerges = 16, maxWords = 100000,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 64, root = root, epoch = e, seed = seed)
    train(docs.filter(col("doc_id") % 4 <= 1),
      vecs.filter(col("doc_id") % 4 <= 1), root, 0L)
    val rows = docs.join(vecs, Seq("doc_id"))
      .select("doc_id", "source", "lang", "text", "embedding")
      .as[CrawlDoc].collect()
    val stream = MemoryStream[CrawlDoc]
    val q = CurationEpochs.maintain(stream.toDF(), "doc_id", "embedding",
      "lang", "source", "text", root, thrNum, thrDen, cap, seed,
      checkpoint = s"$dir/ckpt")
    stream.addData(rows.filter(_.doc_id % 8 == 2).toSeq)
    q.processAllAvailable() // batch 1 → epoch 0
    // the retrain decision + swap run through the GATE while the query
    // is live — the q156 fixture (corpus grew to %4<=2), threshold 1bp
    val (drift, published) = CurationEpochs.retrainIfDrifted(
      docs.filter(col("doc_id") % 4 <= 2), vecs.filter(col("doc_id") % 4 <= 2),
      "doc_id", "embedding", "lang", "text", k = 8, iters = 2,
      numMerges = 16, maxWords = 100000,
      dsirTarget = col("source").isin("src0", "src1"),
      dsirBuckets = 64, root = root, newEpoch = 1L, thresholdBp = 1L,
      gateSeq = 1L, seed = seed)
    assert(published && drift >= 1L, s"gate fixture weak: ($drift, $published)")
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable() // batch 2 → epoch 1, no restart
    q.stop()
    val epochOfB = CurationEpochs.readCurated(spark, root)
      .select(col("b").cast("long"), col("epoch"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(epochOfB == Map(1L -> 0L, 2L -> 1L),
      s"gate-driven swap not picked up at the batch boundary: $epochOfB")
    // pinned redelivery across the swap: even with a NEWER epoch
    // published meanwhile, batch 2 replays against its pinned epoch 1
    val e1 = CurationEpochs.epochPath(root, 1L)
    val want = curated(e1)
    train(docs.filter(col("doc_id") % 4 <= 2),
      vecs.filter(col("doc_id") % 4 <= 2), root, 2L)
    assert(CurationEpochs.currentEpoch(spark, root) == 2L)
    val marker = new org.apache.hadoop.fs.Path(s"$e1/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false) // simulate the crash window
    val servedEpoch = CurationEpochs.applyBatchEpoch(
      docs.filter(col("doc_id") % 8 === 3), vecs.filter(col("doc_id") % 8 === 3),
      "doc_id", "embedding", "lang", "source", "text",
      root, thrNum, thrDen, cap, seed, batchId = 2L)
    assert(servedEpoch == 1L,
      s"redelivery re-chose epoch $servedEpoch over its pin (1)")
    assert(curated(e1) == want,
      "pinned redelivery across the gate-driven swap changed the rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("redelivery: committed batch is a no-op; crash-window (artifacts " +
       "absorbed, marker missing) rewrites byte-equal — the batchCut fence") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curcrash").toString
    val path = s"$dir/store"
    initStore(path); applySeq(path)
    val (wantCur, wantH, wantM) =
      (curated(path), hashRows(path), memberRows(path))
    assert(wantCur.exists(_.startsWith("[2,")),
      "crash law vacuous: batch 2 curated nothing")
    def redeliver2(): Unit = CurationStream.applyBatch(
      docs.filter(col("doc_id") % 4 === 3),
      vecs.filter(col("doc_id") % 4 === 3),
      "doc_id", "embedding", "lang", "source", "text",
      path, thrNum, thrDen, cap, seed, batchId = 2L)
    // committed: metadata no-op
    redeliver2()
    assert(curated(path) == wantCur && hashRows(path) == wantH &&
      memberRows(path) == wantM, "committed redelivery mutated the store")
    // crash window: batch 2's survivors are absorbed (hashes + members
    // under b=2) but the marker is gone — the re-serve must see only
    // b < 2 (the fence) or it would drop the whole batch against itself
    val marker = new org.apache.hadoop.fs.Path(s"$path/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(!BatchStore.committed(spark, path, 2L))
    redeliver2()
    assert(BatchStore.committed(spark, path, 2L))
    assert(curated(path) == wantCur,
      "crash-window redelivery changed the curated rows — the batch " +
        "served against its own absorbed survivors")
    assert(hashRows(path) == wantH && memberRows(path) == wantM,
      "crash-window redelivery changed the absorbed artifacts")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
