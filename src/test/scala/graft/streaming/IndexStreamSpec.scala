package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.TextOps

/** The streaming-maintained posting index must be indistinguishable,
  * to its readers, from a batch-built one over the same documents —
  * the law that lets a stream replace the 15-minute scheduler loop
  * without touching the query side. */
class IndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    Doc(1L, "spark shuffle join broadcast"),
    Doc(2L, "hash join partition prune"),
    Doc(3L, "stream window watermark state"),
    Doc(4L, "spark state store checkpoint"),
    Doc(5L, "broadcast variable partition"),
    Doc(6L, "window aggregate spark shuffle"))
  private val parts = 4

  private def queriesDf = Seq(
    (100L, "spark shuffle"), (200L, "partition state"))
    .toDF("query_id", "qtext")

  private def probe(path: String) =
    TextOps.bm25TopKIndexed(spark, path, parts, queriesDf,
        "query_id", "qtext", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet

  test("streamed appends converge to the batch-built index, " +
       "whatever the micro-batch boundaries") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxstream").toString
    val in = MemoryStream[Doc]
    val q = IndexStream.maintainPostingIndex(in.toDF(), "doc_id", "text",
      s"$dir/store", parts, s"$dir/ckpt")
    try {
      // three uneven arrival batches, including one empty trigger
      in.addData(corpus.take(1): _*)
      q.processAllAvailable()
      in.addData(corpus.slice(1, 4): _*)
      q.processAllAvailable()
      q.processAllAvailable() // empty epoch: must not write anything
      in.addData(corpus.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft-idxbatch").toString
    TextOps.writePostingIndex(corpus.toDF(), "doc_id", "text",
      s"$batchDir/store", parts)
    val streamed = probe(s"$dir/store")
    val batch = probe(s"$batchDir/store")
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed index answers $streamed vs batch $batch")
    // and both equal the index-free direct scoring — the q86/q87 law
    // carried through the streaming sink
    val direct = TextOps.bm25TopK(corpus.toDF(), "doc_id", "text",
        queriesDf, "query_id", "qtext", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == direct)
  }

  test("effectively-once: replaying any prefix — or a partially-" +
       "applied batch — leaves every read of the index identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxreplay").toString
    val store = s"$dir/store"
    val batches = Seq(corpus.take(2), corpus.slice(2, 3), corpus.drop(3))
    batches.zipWithIndex.foreach { case (b, i) =>
      IndexStream.applyBatch(b.toDF(), "doc_id", "text", store, parts, i.toLong)
    }
    def state() = (probe(store),
      TextOps.bm25TopKIndexed(spark, store, parts, queriesDf,
          "query_id", "qtext", k = 5, asOf = Some(1L))
        .collect().map(_.toString).sorted.toSeq)
    val before = state()
    // 1. full redelivery of every already-committed prefix batch:
    //    the marker makes each a metadata-only no-op
    Seq(0, 1, 0, 2, 1).foreach(i =>
      IndexStream.applyBatch(batches(i).toDF(), "doc_id", "text", store,
        parts, i.toLong))
    assert(state() == before, "committed-batch replay changed a read")
    // 2. crash-before-marker: the batch's ARTIFACTS re-apply without
    //    the marker fence — the idempotent dynamic-overwrite upsert
    //    must converge to the same state, not append duplicates
    TextOps.upsertPostingIndexBatch(batches(2).toDF(), "doc_id", "text",
      store, parts, 2L)
    assert(state() == before, "partial re-application duplicated state")
    // 3. marker lost entirely: redelivery through the delivery path
    //    rewrites the batch idempotently and re-places the marker
    val marker = new org.apache.hadoop.fs.Path(s"$store/_committed/2")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(!BatchStore.committed(spark, store, 2L))
    IndexStream.applyBatch(batches(2).toDF(), "doc_id", "text", store,
      parts, 2L)
    assert(BatchStore.committed(spark, store, 2L))
    assert(state() == before, "marker-loss redelivery changed a read")
  }

  test("fold keeps the committed-batch markers as the redelivery fence: " +
       "a replayed producer cannot re-create a folded batch") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxfoldfence").toString
    val store = s"$dir/store"
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))
    batches.zipWithIndex.foreach { case (b, i) =>
      IndexStream.applyBatch(b.toDF(), "doc_id", "text", store, parts, i.toLong)
    }
    val before = probe(store)
    // retention: batches 0-1 fold into the base snapshot at b=1
    IndexStream.foldPostingIndex(spark, store, upTo = 1L)
    assert(probe(store) == before, "fold changed the un-cut read")
    // the producer replays batch 0 (e.g. a rebuilt checkpoint replaying
    // history): the marker — deliberately KEPT by the fold — must make
    // it a no-op; re-creating b=0 would double-count rows the snapshot
    // already absorbed
    IndexStream.applyBatch(batches(0).toDF(), "doc_id", "text", store,
      parts, 0L)
    assert(probe(store) == before,
      "replay of a folded batch re-entered the index")
    // and fresh batches continue to land normally after the fold
    assert(BatchStore.committed(spark, store, 0L) &&
      BatchStore.committed(spark, store, 2L))
  }

  test("the fold fence: folding over a crashed batch or ahead of the " +
       "stream throws and changes no file; redelivery then a legal fold " +
       "equals the no-crash control") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxfoldcrash").toString
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))
    def apply(store: String, i: Int): Unit =
      IndexStream.applyBatch(batches(i).toDF(), "doc_id", "text", store,
        parts, i.toLong)
    def state(store: String) = (probe(store),
      spark.read.parquet(s"$store/stats").collect().map(_.toString).sorted.toSeq)
    val control = s"$dir/control"
    (0 to 2).foreach(apply(control, _))
    IndexStream.foldPostingIndex(spark, control, upTo = 2L)
    val expected = state(control)
    // the fold relabels the three stats rows (one per origin batch) to b=2
    assert(expected._1.size == 7 && expected._2.size == 3, expected)
    // (crashed batch, the batch's artifacts landed with no marker) and
    // (fold ahead of the stream, batch 2 not yet delivered)
    Seq(
      "crashed" -> { (store: String) =>
        TextOps.upsertPostingIndexBatch(batches(2).toDF(), "doc_id", "text",
          store, parts, 2L)
        "no commit marker"
      },
      "ahead" -> { (_: String) => "above the last committed" }
    ).foreach { case (name, window) =>
      val store = s"$dir/$name"
      (0 to 1).foreach(apply(store, _))
      val refusal = window(store)
      val files = filesUnder(store)
      val ex = intercept[IllegalArgumentException] {
        IndexStream.foldPostingIndex(spark, store, upTo = 2L)
      }
      assert(ex.getMessage.contains(refusal), s"$name: ${ex.getMessage}")
      assert(filesUnder(store) == files, s"$name: a refused fold changed the store")
      apply(store, 2)
      IndexStream.foldPostingIndex(spark, store, upTo = 2L)
      assert(state(store) == expected, s"$name: redelivery + fold lost history")
    }
  }

  test("a fold that crashed before deleting the folded batch dirs re-runs " +
       "to the clean fold: no artifact is counted twice") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-idxfoldrerun").toString
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))
    def build(store: String): Unit = batches.zipWithIndex.foreach { case (b, i) =>
      IndexStream.applyBatch(b.toDF(), "doc_id", "text", store, parts, i.toLong)
    }
    def reads(store: String) = (probe(store),
      TextOps.bm25TopKIndexed(spark, store, parts, queriesDf,
          "query_id", "qtext", k = 5, asOf = Some(2L))
        .collect().map(_.toString).sorted.toSeq)
    val control = s"$dir/control"
    build(control)
    IndexStream.foldPostingIndex(spark, control, upTo = 2L)
    val store = s"$dir/store"
    build(store)
    val stale = Path.of(s"$dir/stale")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(store), stale.toFile)
    IndexStream.foldPostingIndex(spark, store, upTo = 2L)
    // the crash window: the b=2 snapshot holds batches 0-2, and the
    // folded b=0 and b=1 directories of every artifact are still there
    val folded = Set("b=0", "b=1")
    val files = Files.walk(stale)
    val restored = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        stale.relativize(p).iterator().asScala.exists(seg => folded(seg.toString)))
      .map { p =>
        val to = Path.of(store).resolve(stale.relativize(p))
        Files.createDirectories(to.getParent)
        Files.copy(p, to)
      }.size
    finally files.close()
    assert(restored > 0, "setup: no folded batch files to restore")
    IndexStream.foldPostingIndex(spark, store, upTo = 2L)
    assert(reads(store) == reads(control),
      "a re-run fold counted the folded batches twice")
  }
}
