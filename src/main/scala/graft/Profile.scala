package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Where registry queries spend their time, from one warm session and one
  * [[Profile.Meter]]: `runMain graft.Profile <mode> <prefixes> <sfDir>
  * [reps=2 | outDir]`. A rep is construct (`SparkEntry.queries(q)(spark,
  * sfDir)`: resolution, analysis, eager hub jobs) then action (the noop
  * write). `tail`: per query, after a warm rep, each rep's seconds, the
  * median construct, action and in-action job seconds, the most action
  * jobs; then totals and the worst queries. `jobs`: each rep's jobs with
  * seconds, phase and call site. `plans`: `explain("formatted")` into
  * `<outDir>/<query>.txt`. `jobs` and `plans` take one query per prefix.
  * Every mode prints a `stream` line per micro-batch a query runs. */
object Profile {

  /** A finished job; `site` is its SQL execution's description, else its call site. */
  final case class Job(id: Int, secs: Double, site: String)
  /** What a [[Meter]] saw between two takes; `batches` are stream lines. */
  final case class Window(jobs: Seq[Job], batches: Seq[String], shuffleReadBytes: Long)

  private val DrainGroup = "graft-profile-drain"

  /** Records jobs (not its drain jobs), streaming micro-batches and the
    * shuffle bytes tasks read, from `spark`'s bus until [[close]]. */
  final class Meter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val sites = mutable.HashMap.empty[Long, String]
    private val open = mutable.HashMap.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val batches = mutable.ArrayBuffer.empty[String]
    private var shuffleRead = 0L
    private var drained = 0L
    sc.addSparkListener(this)

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized(e match {
      case s: SparkListenerSQLExecutionStart =>
        sites(s.executionId) = s.description.takeWhile(_ != '\n')
      case q: QueryProgressEvent =>
        val (p, ops) = (q.progress, q.progress.stateOperators)
        batches += s"[profile] stream ${Option(p.name).getOrElse(p.id)} " +
          s"batch ${p.batchId} trigger=${p.batchDuration}ms " +
          s"addBatch=${Option(p.durationMs.get("addBatch")).getOrElse(0L)}ms " +
          s"stateCommit=${ops.map(_.commitTimeMs).sum}ms inputRows=${p.numInputRows} " +
          s"stateRowsUpdated=${ops.map(_.numRowsUpdated).sum}"
      case _ => ()
    })
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(DrainGroup)) { drained += 1; notifyAll() }
      else open(e.jobId) = (e.time, prop("spark.sql.execution.id").flatMap(id => sites.get(id.toLong))
        .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (t0, site) => jobs += Job(e.jobId, (e.time - t0) / 1e3, site) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
      synchronized { shuffleRead += e.taskMetrics.shuffleReadMetrics.totalBytesRead }

    /** Everything recorded since the last take. A drain job runs first and
      * the take waits until this listener sees it start: the bus delivers
      * events in the order they were posted, so by then it has delivered
      * every job, task and progress event that finished before this call. */
    def take(): Window = {
      val want = synchronized(drained) + 1
      sc.setJobGroup(DrainGroup, "profile drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      synchronized {
        val deadline = System.currentTimeMillis() + 60000L
        while (drained < want && System.currentTimeMillis() < deadline) wait(1000L)
        require(drained >= want, "the bus never delivered the drain job")
        try Window(jobs.toList, batches.toList, shuffleRead)
        finally { jobs.clear(); batches.clear(); shuffleRead = 0L }
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** A checked command line; `arg` is the reps or the outDir. */
  final case class Plan(mode: String, names: Seq[String], sfDir: String, arg: Option[String])

  private val modes = Seq("tail", "jobs", "plans")

  /** Check `args` with no session: an unknown mode, a prefix selecting no
    * query, or (for `jobs` and `plans`) a prefix selecting several, fails
    * listing the candidates. */
  def parse(args: Seq[String]): Plan = {
    require(args.size == 3 || args.size == 4,
      s"usage: Profile <${modes.mkString("|")}> <prefixes> <sfDir> [reps | outDir]")
    val Seq(mode, prefixes, sfDir) = args.take(3)
    require(modes.contains(mode), s"unknown mode '$mode'; modes: ${modes.mkString(", ")}")
    require(mode != "plans" || args.size == 4, "plans needs an outDir")
    val ps = prefixes.split(",").toSeq
    val names = SparkEntry.matching(ps)
    require(mode == "tail" || names.size == ps.size,
      s"$mode takes one query per prefix; '$prefixes' selects ${names.mkString(", ")}")
    Plan(mode, names, sfDir, args.lift(3))
  }

  def main(args: Array[String]): Unit = {
    val plan = parse(args.toSeq)
    val spark = Engine.localSession(32)
    try run(spark, plan, println) finally spark.stop()
  }

  private final case class Rep(constructS: Double, actionS: Double, construct: Window,
                               action: Window) { def wall: Double = constructS + actionS }
  private def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Run `p` on `spark`, one output line at a time into `emit`. */
  def run(spark: SparkSession, p: Plan, emit: String => Unit): Unit = {
    spark.range(1000000).selectExpr("sum(xxhash64(id))").collect() // warm-up
    val meter = new Meter(spark)
    def observe(): Window = { val w = meter.take(); w.batches.foreach(emit); w }
    def timed[A](body: => A): (A, Double) =
      { val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9) }
    def construct(name: String): (DataFrame, Double, Window) = {
      val (df, s) = timed(SparkEntry.queries(name)(spark, p.sfDir))
      (df, s, observe())
    }
    def rep(name: String): Rep = {
      val (df, cs, cw) = construct(name)
      val (_, as) = timed(df.write.format("noop").mode("overwrite").save())
      Rep(cs, as, cw, observe())
    }
    lazy val reps = p.arg.fold(2)(_.toInt)
    try {
      observe() // whatever the warm-up left on the bus
      p.mode match {
        case "tail" => tail(p, reps, rep, emit)
        case "jobs" => for (name <- p.names; i <- 1 to reps) {
          val x = rep(name)
          val all = x.construct.jobs.map(_ -> "construct") ++ x.action.jobs.map(_ -> "action")
          emit(f"[profile] $name rep $i wall ${x.wall}%.2f s, jobs=${all.size}")
          all.sortBy(_._1.id).foreach { case (j, phase) =>
            emit(f"[profile]   job ${j.id}%4d ${j.secs}%7.3f s  $phase%-9s ${j.site}") }
          emit(s"[profile] $name rep $i by call site:")
          all.map(_._1).groupBy(_.site).toSeq.map { case (k, g) => (g.map(_.secs).sum, g.size, k) }
            .sortBy(-_._1).foreach { case (s, n, k) => emit(f"[profile]   $s%7.3f s  x$n%-3d $k") }
        }
        case "plans" => p.names.foreach { name =>
          val plan = construct(name)._1.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Files.createDirectories(Paths.get(p.arg.get)).resolve(s"$name.txt"), plan)
          emit(s"[profile] wrote $name (${plan.length} chars)")
        }
      }
    } finally meter.close()
  }

  private def tail(p: Plan, reps: Int, rep: String => Rep, emit: String => Unit): Unit = {
    final case class Row(n: String, c: Double, a: Double, i: Double, j: Int) {
      def line = f"[profile] $n%-28s construct=$c%6.3f action=$a%6.3f inJobs=$i%6.3f " +
        f"gap=${a - i}%6.3f jobs=$j%3d"
    }
    emit(s"[profile] tail: ${p.names.size} queries, $reps reps, ${p.sfDir}")
    val rows = p.names.map { name =>
      // warm rep (uncounted): JIT and any build-once stores
      try rep(name) catch { case e: Throwable => emit(s"[profile] $name warm failed: $e") }
      val per = (1 to reps).map { k => val x = rep(name); emit(f"[profile] $name rep $k: ${x.wall}%.3f s"); x }
      val r = Row(name, med(per.map(_.constructS)), med(per.map(_.actionS)),
        med(per.map(_.action.jobs.map(_.secs).sum)), per.map(_.action.jobs.size).max)
      emit(r.line)
      r
    }
    emit(f"[profile] TOTAL construct=${rows.map(_.c).sum}%.1f action=${rows.map(_.a).sum}%.1f " +
      f"inJobs=${rows.map(_.i).sum}%.1f gap=${rows.map(r => r.a - r.i).sum}%.1f over ${rows.size} queries")
    emit("[profile] worst construct:"); rows.sortBy(-_.c).take(12).foreach(r => emit(r.line))
    emit("[profile] worst action-gap:"); rows.sortBy(r => r.i - r.a).take(12).foreach(r => emit(r.line))
  }
}
