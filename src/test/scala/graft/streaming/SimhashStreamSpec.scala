package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextOps

case class SimDoc(doc_id: Long, text: String)

/** Continuous text-dedup laws — [[PhashStreamSpec]]'s discipline on the
  * SimHash fingerprint index (one shared serve core:
  * [[graft.operators.Hamming.serveDedupCore]]): machinery-invisibility
  * (the real readStream maintain ≡ the sequential applyBatch loop),
  * keeper absorption (a later copy of a surviving doc is a dup OF that
  * doc), redelivery (a crash between absorption and marker re-applies
  * byte-identically), the keeper ⊆ full containment law, and fold
  * read-invisibility for fenced serves. The serve-vs-brute-force law
  * itself is oracle-pinned (q192-q194 replay all-pairs in DuckDB). */
class SimhashStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def servedRows(path: String): Set[(Long, Long, Option[Long], Boolean)] =
    spark.read.parquet(s"$path/served")
      .select(col("b").cast("long"), col("doc_id"), col("dup_of"),
        col("is_fresh"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toSet

  private def storeRows(path: String): Set[(Long, Long, Long)] =
    spark.read.parquet(s"$path/simhash")
      .select(col("doc_id"), col("simhash"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("real MemoryStream maintain ≡ the sequential applyBatch loop " +
       "(simhash lens)") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-simstream").toString
    val (seqPath, strPath) = (s"$dir/seq", s"$dir/str")
    val hist = docs.filter(col("doc_id") % 4 <= 1)
    SimhashStream.init(hist, "doc_id", "text", seqPath)
    SimhashStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 3, seqPath, 1L)
    SimhashStream.applyBatch(docs.filter(col("doc_id") % 8 === 3),
      "doc_id", "text", 3, seqPath, 2L)
    SimhashStream.init(hist, "doc_id", "text", strPath)
    val stream = MemoryStream[SimDoc]
    val q = SimhashStream.maintain(stream.toDF(), "doc_id", "text",
      3, strPath, checkpoint = s"$dir/ckpt")
    val rows = docs.as[SimDoc].collect()
    stream.addData(rows.filter(_.doc_id % 4 == 2).toSeq)
    q.processAllAvailable()
    stream.addData(rows.filter(_.doc_id % 8 == 3).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(servedRows(strPath).nonEmpty, "stream law vacuous")
    assert(servedRows(strPath) == servedRows(seqPath),
      "streamed verdicts diverge from the sequential loop")
    assert(storeRows(strPath) == storeRows(seqPath),
      "streamed fingerprint store diverges from the sequential loop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("absorption + redelivery: keeper caught later; crash window exact " +
       "(simhash lens)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-simredeliver").toString + "/store"
    val novel = "a brand new crawl page with entirely novel wording " * 5
    SimhashStream.init(
      Seq(1L -> ("history document tokens " * 15)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val b1 = Seq(10L -> novel).toDF("doc_id", "text")
    SimhashStream.applyBatch(b1, "doc_id", "text", 3, dir, 1L)
    val (served0, store0) = (servedRows(dir), storeRows(dir))
    assert(served0 == Set((1L, 10L, None, true)))
    // committed id: a second apply must not touch the store
    SimhashStream.applyBatch(b1, "doc_id", "text", 3, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0)
    // crash window: artifacts written, marker missing — the batchCut
    // fence must ignore the batch's own absorbed fingerprints on
    // re-serve
    val marker = new java.io.File(s"$dir/_committed/1")
    assert(marker.exists); marker.delete()
    SimhashStream.applyBatch(b1, "doc_id", "text", 3, dir, 1L)
    assert(servedRows(dir) == served0 && storeRows(dir) == store0,
      "crash-window redelivery diverged — the fence leaked self-hashes")
    // absorption bites: a batch-2 copy of the batch-1 keeper
    SimhashStream.applyBatch(Seq(20L -> novel).toDF("doc_id", "text"),
      "doc_id", "text", 3, dir, 2L)
    assert(servedRows(dir).contains((2L, 20L, Some(10L), false)))
  }

  test("containment law on a real corpus slice: keeper-mode matches ⊆ " +
       "full-mode matches, verdict universe identical (simhash lens)") {
    def runSeq(absorbFull: Boolean): Set[(Long, Long, Option[Long], Boolean)] = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-simcontain").toString + "/store"
      SimhashStream.init(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", dir)
      (1L to 3L).foreach { b =>
        SimhashStream.applyBatch(docs.filter(col("doc_id") % 4 === b),
          "doc_id", "text", 3, dir, b, absorbFull = absorbFull)
      }
      servedRows(dir)
    }
    val keeper = runSeq(absorbFull = false)
    val full = runSeq(absorbFull = true)
    val km = keeper.collect { case (b, id, Some(_), _) => (b, id) }
    val fm = full.collect { case (b, id, Some(_), _) => (b, id) }
    assert(km.subsetOf(fm))
    // the verdict UNIVERSE is identical — absorbFull changes what the
    // store remembers, never which docs get served
    assert(keeper.map(t => (t._1, t._2)) == full.map(t => (t._1, t._2)))
  }

  test("fold invisibility: a later fenced serve is identical across the " +
       "fold (simhash lens)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-simfoldspec").toString + "/store"
    SimhashStream.init(docs.filter(col("doc_id") % 4 <= 1),
      "doc_id", "text", dir)
    SimhashStream.applyBatch(docs.filter(col("doc_id") % 4 === 2),
      "doc_id", "text", 3, dir, 1L)
    SimhashStream.applyBatch(docs.filter(col("doc_id") % 8 === 3),
      "doc_id", "text", 3, dir, 2L)
    val b3 = docs.filter(col("doc_id") % 8 === 7)
    def serve3 = TextOps.serveSimhashDedup(spark, dir, b3,
        "doc_id", "text", 3, batchCut = Some(3L))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
    val before = serve3
    SimhashStream.foldSimhash(spark, dir, "doc_id", upTo = 2L)
    val bs = new java.io.File(s"$dir/simhash").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(_.getName).toSet
    assert(bs == Set("b=2"), s"fold left partitions: $bs")
    assert(serve3 == before, "fold changed a fenced serve")
    SimhashStream.foldSimhash(spark, dir, "doc_id", upTo = 2L) // idempotent
    assert(serve3 == before)
    val ex = intercept[IllegalArgumentException] {
      SimhashStream.foldSimhash(spark, dir, "doc_id", upTo = 9L)
    }
    assert(ex.getMessage.contains("above the last committed"))
    // a crashed batch 3 — fingerprints absorbed, no marker: a fold over
    // it must refuse and leave every file as it was
    TextOps.appendSimhash(TextOps.simhash(b3, "doc_id", "text"), "doc_id",
      dir, 3L)
    val files = filesUnder(dir)
    val ex2 = intercept[IllegalArgumentException] {
      SimhashStream.foldSimhash(spark, dir, "doc_id", upTo = 3L)
    }
    assert(ex2.getMessage.contains("no commit marker"), ex2.getMessage)
    assert(filesUnder(dir) == files, "a refused fold changed the store")
  }
}
