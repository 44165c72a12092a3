package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SpanDedup

case class SpanDoc(doc_id: Long, text: String)

/** Continuous span-dedup laws. Like curation, the output legitimately
  * depends on micro-batch boundaries (within-batch rank is
  * batch-scoped), so the streamed law is machinery-invisibility: the
  * real readStream maintain must equal the sequential serve+absorb
  * loop batch for batch — plus the absorption law (a later copy of a
  * surviving passage cuts on the absorbed grams) and the redelivery
  * fence (a crash between absorption and marker redelivers to a
  * byte-identical store). */
class SpanStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def cleanRows(path: String): Set[(Long, Long, String, Long)] =
    spark.read.parquet(s"$path/clean")
      .select(col("b").cast("long"), col("doc_id"), col("clean_text"),
        col("n_kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet

  private def gramRows(path: String): Set[(Long, Long)] =
    spark.read.parquet(s"$path/grams")
      .select(col("__gh"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("real MemoryStream maintain ≡ the sequential applyBatch loop") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spanstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    val hist = docs.filter(col("doc_id") % 4 <= 1)
    val b1 = docs.filter(col("doc_id") % 4 === 2)
    val b2 = docs.filter(col("doc_id") % 8 === 3)
    SpanStream.init(hist, "doc_id", "text", 8, seqPath)
    SpanStream.applyBatch(b1, "doc_id", "text", 8, seqPath, 1L)
    SpanStream.applyBatch(b2, "doc_id", "text", 8, seqPath, 2L)
    SpanStream.init(hist, "doc_id", "text", 8, strPath)
    val stream = MemoryStream[SpanDoc]
    val q = SpanStream.maintain(stream.toDF(), "doc_id", "text", 8,
      strPath, checkpoint = s"$dir/ckpt")
    val rows = docs.as[SpanDoc].collect()
    stream.addData(rows.filter(_.doc_id % 4 == 2).toSeq)
    q.processAllAvailable()
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(cleanRows(strPath).nonEmpty, "stream law vacuous")
    assert(cleanRows(strPath) == cleanRows(seqPath),
      "streamed clean rows diverge from the sequential loop")
    assert(gramRows(strPath) == gramRows(seqPath),
      "streamed gram store diverges from the sequential loop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("absorption: a later copy of a round-1 surviving passage is cut") {
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val passage = (1 to 15).map(i => s"p$i")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spanabsorb").toString + "/store"
    val hist = Seq(1L -> filler("h", 20).mkString(" ")).toDF("doc_id", "text")
    // round 1: the passage is FRESH — survives, grams absorbed
    val b1 = Seq(10L -> (filler("a", 4) ++ passage).mkString(" "))
      .toDF("doc_id", "text")
    // round 2: a copy of the passage at a different offset + fresh tail
    val b2 = Seq(20L -> (filler("z", 7) ++ passage ++ filler("y", 5))
      .mkString(" ")).toDF("doc_id", "text")
    SpanStream.init(hist, "doc_id", "text", 8, dir)
    SpanStream.applyBatch(b1, "doc_id", "text", 8, dir, 1L)
    SpanStream.applyBatch(b2, "doc_id", "text", 8, dir, 2L)
    val byId = cleanRows(dir).map(t => t._2 -> (t._1, t._3, t._4)).toMap
    assert(byId(10L) == ((1L, (filler("a", 4) ++ passage).mkString(" "), 19L)),
      "round-1 survivor must keep its passage")
    assert(byId(20L) == ((2L, (filler("z", 7) ++ filler("y", 5))
      .mkString(" "), 12L)),
      "round-2 copy of the absorbed passage must lose exactly the passage")
  }

  test("fold invisibility: a later fenced serve is identical across the fold") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spanfoldlaw").toString + "/store"
    val hist = docs.filter(col("doc_id") % 4 <= 1)
    SpanStream.init(hist, "doc_id", "text", 8, dir)
    SpanStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 8, dir, 1L)
    SpanStream.applyBatch(docs.filter(col("doc_id") % 8 === 3),
      "doc_id", "text", 8, dir, 2L)
    val b3 = docs.filter(col("doc_id") % 8 === 7)
    def serve3 = SpanDedup.serveSpanCut(spark, dir, b3,
        "doc_id", "text", 8, batchCut = Some(3L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = serve3
    SpanStream.foldGrams(spark, dir, upTo = 2L)
    // chain compacted to one b=2 partition; bloom swept to 2
    val bs = new java.io.File(s"$dir/grams").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(_.getName).toSet
    assert(bs == Set("b=2"), s"fold left partitions: $bs")
    assert(spark.read.parquet(s"$dir/grambloom")
      .select("covered_up_to").head().getLong(0) == 2L)
    assert(serve3 == before, "fold changed a fenced serve")
    // idempotence: a re-run (crash between overwrite and delete
    // re-reads rows twice; dropDuplicates makes it exact) is a no-op
    SpanStream.foldGrams(spark, dir, upTo = 2L)
    assert(serve3 == before)
    // fence refusal: folding past the last committed batch must throw
    val ex = intercept[IllegalArgumentException] {
      SpanStream.foldGrams(spark, dir, upTo = 9L)
    }
    assert(ex.getMessage.contains("above the last committed"))
    // a crashed batch 3 — grams absorbed, no marker: a fold over it
    // must refuse and leave every file as it was
    SpanDedup.appendGrams(b3, "doc_id", "text", 8, dir, 3L)
    val files = filesUnder(dir)
    val ex2 = intercept[IllegalArgumentException] {
      SpanStream.foldGrams(spark, dir, upTo = 3L)
    }
    assert(ex2.getMessage.contains("no commit marker"), ex2.getMessage)
    assert(filesUnder(dir) == files, "a refused fold changed the store")
  }

  test("redelivery fence: partial absorption re-applies byte-identically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spanredeliver").toString + "/store"
    val hist = docs.filter(col("doc_id") % 4 <= 1)
    val b1 = docs.filter(col("doc_id") % 4 === 2)
    SpanStream.init(hist, "doc_id", "text", 8, dir)
    SpanStream.applyBatch(b1, "doc_id", "text", 8, dir, 1L)
    val (clean0, grams0) = (cleanRows(dir), gramRows(dir))
    // committed id: a second apply must not touch the store
    SpanStream.applyBatch(b1.limit(3), "doc_id", "text", 8, dir, 1L)
    assert(cleanRows(dir) == clean0 && gramRows(dir) == grams0,
      "apply on a committed batch mutated the store")
    // crash window: artifacts written, marker missing — the batchCut
    // fence must ignore the batch's own absorbed grams on re-serve
    val marker = new java.io.File(s"$dir/_committed/1")
    assert(marker.exists); marker.delete()
    SpanStream.applyBatch(b1, "doc_id", "text", 8, dir, 1L)
    assert(cleanRows(dir) == clean0 && gramRows(dir) == grams0,
      "crash-window redelivery diverged — the fence leaked self-grams")
    // and the serve itself, fenced vs poisoned: without the fence the
    // batch would cut against its own grams and lose everything
    val unfenced = SpanDedup.serveSpanCut(spark, dir, b1,
      "doc_id", "text", 8, batchCut = None)
    assert(unfenced.agg(sum("n_kept")).head().getLong(0) <
      spark.read.parquet(s"$dir/clean").agg(sum("n_kept")).head().getLong(0),
      "poison control vacuous: unfenced serve should self-cut")
  }
}
