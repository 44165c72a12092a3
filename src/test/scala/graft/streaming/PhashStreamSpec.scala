package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal

case class PhashDoc(doc_id: Long, text: String)

/** Continuous media-dedup laws — [[SpanStreamSpec]]'s discipline on
  * the perceptual index: machinery-invisibility (the real readStream
  * maintain ≡ the sequential applyBatch loop), keeper absorption (a
  * later copy of a surviving image is a dup OF that image), redelivery
  * (a crash between absorption and marker re-applies byte-identically)
  * and fold read-invisibility for fenced serves. */
class PhashStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def mt(df: org.apache.spark.sql.DataFrame) =
    Multimodal.asMediaTable(df, "doc_id", "text", "image")

  private def servedRows(path: String): Set[(Long, Long, Option[Long], Boolean)] =
    spark.read.parquet(s"$path/served")
      .select(col("b").cast("long"), col("media_id"), col("dup_of"),
        col("is_fresh"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toSet

  private def storeRows(path: String): Set[(Long, Long, Long)] =
    spark.read.parquet(s"$path/phash")
      .select(col("media_id"), col("dhash"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("real MemoryStream maintain ≡ the sequential applyBatch loop") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    val hist = mt(docs.filter(col("doc_id") % 4 <= 1))
    PhashStream.init(hist, 64, seqPath)
    PhashStream.applyBatch(mt(docs.filter(col("doc_id") % 4 === 2)),
      64, 3, seqPath, 1L)
    PhashStream.applyBatch(mt(docs.filter(col("doc_id") % 8 === 3)),
      64, 3, seqPath, 2L)
    PhashStream.init(hist, 64, strPath)
    val stream = MemoryStream[PhashDoc]
    val q = PhashStream.maintain(stream.toDF(), "doc_id", "text", "image",
      64, 3, strPath, checkpoint = s"$dir/ckpt")
    val rows = docs.as[PhashDoc].collect()
    stream.addData(rows.filter(_.doc_id % 4 == 2).toSeq)
    q.processAllAvailable()
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(servedRows(strPath).nonEmpty, "stream law vacuous")
    assert(servedRows(strPath) == servedRows(seqPath),
      "streamed verdicts diverge from the sequential loop")
    assert(storeRows(strPath) == storeRows(seqPath),
      "streamed hash store diverges from the sequential loop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("absorption + redelivery: keeper caught later; crash window exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phredeliver").toString + "/store"
    val novel = "a brand new crawl image " * 10
    PhashStream.init(mt(Seq(1L -> ("history doc " * 15)).toDF("doc_id", "text")),
      64, dir)
    val b1 = mt(Seq(10L -> novel).toDF("doc_id", "text"))
    PhashStream.applyBatch(b1, 64, 3, dir, 1L)
    val (served0, store0) = (servedRows(dir), storeRows(dir))
    assert(served0 == Set((1L, 10L, None, true)))
    // committed id: a second apply must not touch the store
    PhashStream.applyBatch(b1, 64, 3, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0)
    // crash window: artifacts written, marker missing — the batchCut
    // fence must ignore the batch's own absorbed hashes on re-serve
    val marker = new java.io.File(s"$dir/_committed/1")
    assert(marker.exists); marker.delete()
    PhashStream.applyBatch(b1, 64, 3, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0,
      "crash-window redelivery diverged — the fence leaked self-hashes")
    // absorption bites: a batch-2 copy of the batch-1 keeper
    PhashStream.applyBatch(mt(Seq(20L -> novel).toDF("doc_id", "text")),
      64, 3, dir, 2L)
    assert(servedRows(dir).contains((2L, 20L, Some(10L), false)))
  }

  test("absorbFull catches the drift chain keeper-only absorption misses; " +
       "keeper-mode matches ⊆ full-mode matches") {
    // Deterministic drift chain (searched once over single-char
    // mutations of the base payload; the decode is deterministic so
    // the distances are pinned forever): with B the base text, A the
    // char-21 mutation and C the char-56 mutation,
    //   d(A,B) = 2 ≤ 3,  d(B,C) = 2 ≤ 3,  d(A,C) = 4 > 3.
    val baseChars = ("drift chain search corpus entry " * 8).toCharArray
    def mut(p: Int): String = {
      val v = baseChars.clone(); v(p) = '#'; new String(v)
    }
    val (aTxt, bTxt, cTxt) = (mut(21), new String(baseChars), mut(56))
    // pin the planted distances so a future codec change can't make
    // this test silently vacuous
    val hs = Multimodal.perceptualHash(
        mt(Seq((1L, aTxt), (2L, bTxt), (3L, cTxt)).toDF("doc_id", "text")), 64)
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("dhash"))
      .toMap
    def d(x: Long, y: Long) = java.lang.Long.bitCount(hs(x) ^ hs(y))
    assert(d(1, 2) <= 3 && d(2, 3) <= 3 && d(1, 3) > 3,
      s"drift-chain fixture broke: d(A,B)=${d(1, 2)} d(B,C)=${d(2, 3)} " +
        s"d(A,C)=${d(1, 3)}")
    def runChain(absorbFull: Boolean): Set[(Long, Long, Option[Long], Boolean)] = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-phdrift").toString + "/store"
      PhashStream.init(mt(Seq((100L, aTxt)).toDF("doc_id", "text")), 64, dir)
      PhashStream.applyBatch(mt(Seq((200L, bTxt)).toDF("doc_id", "text")),
        64, 3, dir, 1L, absorbFull = absorbFull)
      PhashStream.applyBatch(mt(Seq((300L, cTxt)).toDF("doc_id", "text")),
        64, 3, dir, 2L, absorbFull = absorbFull)
      servedRows(dir)
    }
    val keeper = runChain(absorbFull = false)
    val full = runChain(absorbFull = true)
    // both modes: B dups to history A
    assert(keeper.contains((1L, 200L, Some(100L), false)))
    assert(full.contains((1L, 200L, Some(100L), false)))
    // keeper mode: B was dropped so never absorbed — C is a RECALL MISS
    assert(keeper.contains((2L, 300L, None, true)))
    // full mode: B's hash absorbed despite being a dup — C caught
    assert(full.contains((2L, 300L, Some(200L), false)))
    // containment law: every keeper-mode match is a full-mode match
    val keeperMatches = keeper.collect { case (b, id, Some(_), _) => (b, id) }
    val fullMatches = full.collect { case (b, id, Some(_), _) => (b, id) }
    assert(keeperMatches.subsetOf(fullMatches))
  }

  test("containment law on a real corpus slice: keeper-mode matches ⊆ " +
       "full-mode matches batch for batch") {
    def runSeq(absorbFull: Boolean): Set[(Long, Long, Option[Long], Boolean)] = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-phcontain").toString + "/store"
      PhashStream.init(mt(docs.filter(col("doc_id") % 4 === 0)), 64, dir)
      (1L to 3L).foreach { b =>
        PhashStream.applyBatch(mt(docs.filter(col("doc_id") % 4 === b)),
          64, 3, dir, b, absorbFull = absorbFull)
      }
      servedRows(dir)
    }
    val keeper = runSeq(absorbFull = false)
    val full = runSeq(absorbFull = true)
    val km = keeper.collect { case (b, id, Some(_), _) => (b, id) }
    val fm = full.collect { case (b, id, Some(_), _) => (b, id) }
    assert(km.subsetOf(fm))
    // and the verdict UNIVERSE is identical — absorbFull changes what
    // the store remembers, never which images get served
    assert(keeper.map(t => (t._1, t._2)) == full.map(t => (t._1, t._2)))
  }

  test("fold invisibility: a later fenced serve is identical across the fold") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phfold").toString + "/store"
    PhashStream.init(mt(docs.filter(col("doc_id") % 4 <= 1)), 64, dir)
    PhashStream.applyBatch(mt(docs.filter(col("doc_id") % 4 === 2)),
      64, 3, dir, 1L)
    PhashStream.applyBatch(mt(docs.filter(col("doc_id") % 8 === 3)),
      64, 3, dir, 2L)
    val b3 = mt(docs.filter(col("doc_id") % 8 === 7))
    def serve3 = Multimodal.servePhashDedup(spark, dir, b3, 64, 3,
        batchCut = Some(3L))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
    val before = serve3
    PhashStream.foldPhash(spark, dir, upTo = 2L)
    val bs = new java.io.File(s"$dir/phash").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(_.getName).toSet
    assert(bs == Set("b=2"), s"fold left partitions: $bs")
    assert(serve3 == before, "fold changed a fenced serve")
    PhashStream.foldPhash(spark, dir, upTo = 2L) // idempotent
    assert(serve3 == before)
    val ex = intercept[IllegalArgumentException] {
      PhashStream.foldPhash(spark, dir, upTo = 9L)
    }
    assert(ex.getMessage.contains("above the last committed"))
    // a crashed batch 3 — hashes absorbed, no marker: a fold over it
    // must refuse and leave every file as it was
    Multimodal.appendPhash(Multimodal.perceptualHash(b3, 64), dir, 3L)
    val files = filesUnder(dir)
    val ex2 = intercept[IllegalArgumentException] {
      PhashStream.foldPhash(spark, dir, upTo = 3L)
    }
    assert(ex2.getMessage.contains("no commit marker"), ex2.getMessage)
    assert(filesUnder(dir) == files, "a refused fold changed the store")
  }
}
