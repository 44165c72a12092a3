package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch: per-JOB wall-time breakdown of ONE named query (dev only).
  * Runs the query via the noop sink `reps` times; a listener records
  * every job's duration + call site, so a multi-job pipeline (serve
  * chains, iterative graph ops) shows WHERE its seconds go — the
  * measure-first step of the optimization guide (§1) with the Spark UI
  * disabled. Usage: runMain graft.DevJobs <query> [reps] [sfDir]. */
object DevJobs {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Engine.localSession(32)
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      private val execDesc =
        scala.collection.concurrent.TrieMap.empty[String, String]
      override def onOtherEvent(
          ev: org.apache.spark.scheduler.SparkListenerEvent): Unit = ev match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc(s.executionId.toString) = s.description.takeWhile(_ != '\n')
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val site = prop("spark.sql.execution.id").flatMap(execDesc.get)
          .orElse(prop("callSite.short"))
          .getOrElse("?")
        starts(e.jobId) = (e.time, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site) =>
          rows.synchronized { rows += ((e.jobId, (e.time - t0) / 1e3, site)) }
        }
    })
    // session warm-up so rep timings aren't JIT-dominated
    spark.range(1000000).selectExpr("sum(xxhash64(id))").collect()
    for (r <- 1 to reps) {
      rows.synchronized(rows.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain (dev tool, not a gate)
      println(f"[devjobs] rep $r wall ${wall}%.2f s, jobs=${rows.size}")
      rows.synchronized(rows.toSeq).sortBy(_._1).foreach { case (id, s, site) =>
        println(f"[devjobs]   job $id%4d ${s}%7.3f s  $site")
      }
      val bySite = rows.synchronized(rows.toSeq).groupBy(_._3)
        .map { case (k, g) => (g.map(_._2).sum, g.size, k) }.toSeq.sortBy(-_._1)
      println(f"[devjobs] rep $r by call site:")
      bySite.foreach { case (s, n, k) =>
        println(f"[devjobs]   ${s}%7.3f s  x$n%-3d $k")
      }
    }
    spark.stop()
  }
}
