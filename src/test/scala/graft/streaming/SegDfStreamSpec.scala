package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextOps

case class SegDoc(doc_id: Long, text: String)

/** Continuous boilerplate-curation laws — the store-maintenance
  * discipline on the segment-df COUNT store ([[SegDfStream]]):
  * machinery-invisibility (the real readStream maintain ≡ the
  * sequential applyBatch loop), redelivery (a crash between absorption
  * and marker re-applies byte-identically), threshold-through-
  * accumulation, fold read-invisibility — and the count-store-specific
  * law the set-union stores don't need: a fold snapshot COEXISTING
  * with its source partitions (the mid-fold crash window) must read to
  * the exact same counts, because every read dedups (segment, src)
  * before summing. */
class SegDfStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def servedRows(path: String): Set[(Long, Long, String, Long, Long)] =
    spark.read.parquet(s"$path/served")
      .select(col("b").cast("long"), col("doc_id"), col("clean_text"),
        col("n_kept_segments"), col("n_dropped_segments"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet

  private def storeRows(path: String): Set[(String, Long, Long)] =
    spark.read.parquet(s"$path/segdf")
      .select(col("__seg"), col("df"), col("src").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("real MemoryStream maintain ≡ the sequential applyBatch loop " +
       "(segment-df lens)") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-segdfstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    val hist = docs.filter(col("doc_id") % 4 <= 1)
    SegDfStream.init(hist, "doc_id", "text", 10, seqPath)
    SegDfStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 10, 2, seqPath, 1L)
    SegDfStream.applyBatch(docs.filter(col("doc_id") % 8 === 3),
      "doc_id", "text", 10, 2, seqPath, 2L)
    SegDfStream.init(hist, "doc_id", "text", 10, strPath)
    val stream = MemoryStream[SegDoc]
    val q = SegDfStream.maintain(stream.toDF(), "doc_id", "text",
      10, 2, strPath, checkpoint = s"$dir/ckpt")
    val rows = docs.as[SegDoc].collect()
    stream.addData(rows.filter(_.doc_id % 4 == 2).toSeq)
    q.processAllAvailable()
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(servedRows(strPath).nonEmpty, "stream law vacuous")
    assert(servedRows(strPath) == servedRows(seqPath),
      "streamed verdicts diverge from the sequential loop")
    assert(storeRows(strPath) == storeRows(seqPath),
      "streamed count store diverges from the sequential loop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("redelivery byte-identical; accumulation bites through the stream " +
       "(chrome crosses minDf only once batch 1's counts absorb)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-segdfredeliver").toString + "/store"
    val chrome = (1 to 10).map(i => s"chrome$i").mkString(" ")
    def uniq(d: Int) = (1 to 10).map(i => s"u${d}w$i").mkString(" ")
    SegDfStream.init(
      Seq(1L -> s"$chrome ${uniq(1)}").toDF("doc_id", "text"),
      "doc_id", "text", 10, dir)
    // batch 1 carries chrome too: its serve (history df=1) keeps it,
    // its absorption raises the accumulated df to 2
    val b1 = Seq(10L -> s"$chrome ${uniq(10)}").toDF("doc_id", "text")
    SegDfStream.applyBatch(b1, "doc_id", "text", 10, 2, dir, 1L)
    val (served0, store0) = (servedRows(dir), storeRows(dir))
    assert(served0 == Set((1L, 10L, s"$chrome ${uniq(10)}", 2L, 0L)),
      "batch 1 must survive: history df alone is below minDf")
    // committed id: a second apply must not touch anything
    SegDfStream.applyBatch(b1, "doc_id", "text", 10, 2, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0)
    // crash window: marker missing — redelivery must be byte-identical
    // (the fence keeps batch 1's own absorbed counts out of its serve)
    val marker = new java.io.File(s"$dir/_committed/1")
    assert(marker.exists); marker.delete()
    SegDfStream.applyBatch(b1, "doc_id", "text", 10, 2, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0,
      "crash-window redelivery diverged")
    // batch 2: accumulated df (history 1 + batch-1 1) = 2 — chrome dies
    SegDfStream.applyBatch(
      Seq(20L -> s"$chrome ${uniq(20)}").toDF("doc_id", "text"),
      "doc_id", "text", 10, 2, dir, 2L)
    assert(servedRows(dir).contains((2L, 20L, uniq(20), 1L, 1L)),
      "accumulated threshold did not bite at batch 2")
  }

  test("fold invisibility + idempotence + fence refusal (count store)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-segdffoldspec").toString + "/store"
    SegDfStream.init(docs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "text", 10, dir)
    SegDfStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 10, 2, dir, 1L)
    SegDfStream.applyBatch(docs.filter(col("doc_id") % 8 === 3),
      "doc_id", "text", 10, 2, dir, 2L)
    val b3 = docs.filter(col("doc_id") % 8 === 7)
    def serve3 = TextOps.serveSegmentCut(spark, dir, b3,
        "doc_id", "text", 10, 2, batchCut = Some(3L))
      .collect().map(_.toString).toSet
    val before = serve3
    SegDfStream.foldSegDf(spark, dir, upTo = 2L)
    val bs = new java.io.File(s"$dir/segdf").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(_.getName).toSet
    assert(bs == Set("b=2"), s"fold left partitions: $bs")
    assert(serve3 == before, "fold changed a fenced serve")
    SegDfStream.foldSegDf(spark, dir, upTo = 2L) // idempotent
    assert(serve3 == before)
    val ex = intercept[IllegalArgumentException] {
      SegDfStream.foldSegDf(spark, dir, upTo = 9L)
    }
    assert(ex.getMessage.contains("above the last committed"))
    // a crashed batch 3 — counts absorbed, no marker: a fold over it
    // must refuse and leave every file as it was
    TextOps.writeSegmentDf(b3, "doc_id", "text", 10, dir, batchId = 3L)
    val files = filesUnder(dir)
    val ex2 = intercept[IllegalArgumentException] {
      SegDfStream.foldSegDf(spark, dir, upTo = 3L)
    }
    assert(ex2.getMessage.contains("no commit marker"), ex2.getMessage)
    assert(filesUnder(dir) == files, "a refused fold changed the store")
  }

  test("mid-fold crash window: the fold snapshot COEXISTING with a stale " +
       "source partition reads to exact counts (the (seg, src) dedup law)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-segdfcoexist").toString + "/store"
    SegDfStream.init(docs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "text", 10, dir)
    SegDfStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 10, 2, dir, 1L)
    val b2 = docs.filter(col("doc_id") % 8 === 3)
    def serve2 = TextOps.serveSegmentCut(spark, dir, b2,
        "doc_id", "text", 10, 2, batchCut = Some(2L))
      .collect().map(_.toString).toSet
    val before = serve2
    // stash a source partition, fold, then restore it — exactly the
    // state a crash between the merged write and the source deletes
    // leaves behind: b=1's rows now exist TWICE (in the b=2 snapshot
    // via src=1, and in the resurrected b=1 partition)
    val src = new java.io.File(s"$dir/segdf/b=1")
    val stash = new java.io.File(s"$dir/stash-b1")
    org.apache.commons.io.FileUtils.copyDirectory(src, stash)
    SegDfStream.foldSegDf(spark, dir, upTo = 1L)
    org.apache.commons.io.FileUtils.copyDirectory(stash, src)
    assert(serve2 == before,
      "coexisting fold snapshot + stale source double-counted — the " +
        "(segment, src) dedup failed")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }
}
