package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = Engine.localSession(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** `body`'s result and the number of Spark jobs it launched, counted
    * by job group: from this thread, and from threads `body` created
    * (they inherit the job group when they are made), provided they are
    * done when `body` returns. A sentinel job in a second group runs
    * after `body`: the status store sees job starts in order, so once it
    * shows the sentinel it shows every job of `body` too. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setJobGroup(s"budget-$tag", "job budget")
    val out = try body finally {
      sc.setJobGroup(s"sentinel-$tag", "job budget sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    val deadline = System.nanoTime() + java.util.concurrent.TimeUnit.SECONDS.toNanos(60)
    while (sc.statusTracker.getJobIdsForGroup(s"sentinel-$tag").isEmpty) {
      assert(System.nanoTime() < deadline, "the status store never showed the sentinel job")
      Thread.sleep(10)
    }
    (out, sc.statusTracker.getJobIdsForGroup(s"budget-$tag").length)
  }

  /** Every regular file under `dir`, by relative path, with a hash of
    * its bytes and its modification time — what a refused store
    * operation must leave exactly as it found it. */
  def filesUnder(dir: String): Map[String, (Int, Long)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString ->
        (java.util.Arrays.hashCode(Files.readAllBytes(p)),
          Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }
}
