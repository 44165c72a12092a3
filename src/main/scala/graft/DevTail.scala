package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch: where the SHORT-TAIL per-action floor lives (round-20,
  * r19 verdict item 7). For every registered query (or a prefix
  * subset), splits one warm rep into
  *   - construct: `SparkEntry.queries(q)(spark, sfDir)` — driver-only
  *     DataFrame construction: parquet listing/schema inference,
  *     analysis, plus any eager hub jobs a constructor runs;
  *   - action: the noop write — optimization, planning, job
  *     scheduling, execution;
  *   - inJobs: Σ job durations inside the action (listener), so
  *     action − inJobs ≈ driver-side planning + scheduling gaps.
  * Usage: runMain graft.DevTail [prefixes] [sfDir] [reps] */
object DevTail {
  def main(args: Array[String]): Unit = {
    val prefixes = if (args.length > 0 && args(0).nonEmpty)
      args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq else Seq("")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val registry = SparkEntry.queries
    val selected = SparkEntry.matching(prefixes).map(n => n -> registry(n))
    val spark = Engine.localSession(32)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val inJobs = new java.util.concurrent.atomic.AtomicLong(0L) // ms
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { t0 =>
          jobs.incrementAndGet(); inJobs.addAndGet(e.time - t0)
        }
    })
    spark.range(1000000).selectExpr("sum(xxhash64(id))").collect()
    println(s"[devtail] ${selected.size} queries, $reps reps, $sfDir")
    val rows = selected.map { case (name, fn) =>
      // warm rep 0 (uncounted): JIT + any build-once stores
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[devtail] $name warm failed: $e") }
      val per = (1 to reps).map { _ =>
        val c0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val c1 = System.nanoTime()
        jobs.set(0); inJobs.set(0L)
        df.write.format("noop").mode("overwrite").save()
        val c2 = System.nanoTime()
        Thread.sleep(150) // listener drain (dev tool)
        ((c1 - c0) / 1e9, (c2 - c1) / 1e9, jobs.get(), inJobs.get() / 1e3)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val (cons, act) = (med(per.map(_._1)), med(per.map(_._2)))
      val (nj, ij) = (per.map(_._3).max, med(per.map(_._4)))
      println(f"[devtail] $name%-28s construct=$cons%6.3f action=$act%6.3f " +
        f"inJobs=$ij%6.3f gap=${act - ij}%6.3f jobs=$nj%3d")
      (name, cons, act, ij, nj)
    }
    val (tc, ta, ti) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
    println(f"[devtail] TOTAL construct=$tc%.1f action=$ta%.1f inJobs=$ti%.1f " +
      f"gap=${ta - ti}%.1f over ${rows.size} queries")
    println("[devtail] worst construct:")
    rows.sortBy(-_._2).take(12).foreach { case (n, c, a, _, _) =>
      println(f"[devtail]   $n%-28s construct=$c%6.3f (action=$a%6.3f)") }
    println("[devtail] worst action-gap:")
    rows.sortBy(r => -(r._3 - r._4)).take(12).foreach { case (n, _, a, i, j) =>
      println(f"[devtail]   $n%-28s gap=${a - i}%6.3f of action=$a%6.3f jobs=$j%3d") }
    spark.stop()
  }
}
