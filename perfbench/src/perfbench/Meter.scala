package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spark-side counters, read from outside the program through the three
  * listener interfaces Spark offers: scheduler events (jobs, stages, tasks,
  * block puts), query executions (planning phases, exchanges) and
  * streaming progress (micro-batch durations, state rows).
  *
  * Counters are running totals; a region's value is the difference of two
  * [[snapshot]]s, each taken after draining the listener bus. While
  * [[keepJobs]] is on, jobs are also kept one by one, with their job group,
  * so a traced run can attribute them to the span that launched them. */
final class Meter {
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    totals.update(k, totals.getOrElse(k, 0.0) + v)

  /** Per-job record of a traced job: group, start/end (epoch ms), and the
    * task metrics of its stages. */
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = startMs
    val m: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def add(k: String, v: Double): Unit = m.update(k, m.getOrElse(k, 0.0) + v)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  @volatile var keepJobs: Boolean = false
  private val stageJob = mutable.HashMap.empty[Int, Job]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Meter.this.synchronized {
      add("jobs", 1)
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (keepJobs) {
        val j = new Job(e.jobId, group, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Meter.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Meter.this.synchronized { add("stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Meter.this.synchronized {
      val info = e.taskInfo
      val tm = e.taskMetrics
      val vals = Seq.newBuilder[(String, Double)]
      vals += "tasks" -> 1
      if (info.attemptNumber > 0) vals += "task_retries" -> 1
      if (tm != null) {
        val delay = math.max(0L, info.duration - tm.executorRunTime -
          tm.executorDeserializeTime - tm.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        vals += "task_ms" -> tm.executorRunTime.toDouble
        vals += "cpu_ns" -> tm.executorCpuTime.toDouble
        vals += "gc_ms" -> tm.jvmGCTime.toDouble
        vals += "delay_ms" -> delay.toDouble
        vals += "shuffle_write_b" -> tm.shuffleWriteMetrics.bytesWritten.toDouble
        vals += "shuffle_read_b" -> tm.shuffleReadMetrics.totalBytesRead.toDouble
        vals += "spill_b" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble
        vals += "input_b" -> tm.inputMetrics.bytesRead.toDouble
      }
      val job = stageJob.get(e.stageId)
      vals.result().foreach { case (k, v) => add(k, v); job.foreach(_.add(k, v)) }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        Meter.this.synchronized { add("block_put_b", (b.memSize + b.diskSize).toDouble) }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val exchanges = Meter.exchanges(qe.executedPlan)
      Meter.this.synchronized {
        add("analysis_ms", ms("analysis"))
        add("optimize_ms", ms("optimization"))
        add("physical_ms", ms("planning"))
        add("exchanges", exchanges)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      Meter.this.synchronized {
        add("stream_batches", 1)
        if (p.numInputRows == 0) add("stream_empty_batches", 1)
        add("stream_trigger_ms", d.getOrElse("triggerExecution", 0.0))
        add("stream_add_batch_ms", d.getOrElse("addBatch", 0.0))
        add("stream_commit_ms",
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        add("stream_state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }
    }
  }

  /** Register every listener on a (new) session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Running totals after every event posted so far has been handled. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(totals.toMap)
  }

  /** The jobs kept so far (call after a [[snapshot]]). */
  def keptJobs: Seq[Job] = synchronized(jobs.values.toSeq)
}

object Meter {
  /** Job-group prefix of work launched inside traced spans. */
  val TracedPrefix = "pb-span-"

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int =
      collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  }
  def exchanges(p: SparkPlan): Int = Plans.exchanges(p)

  /** `after - before`, over the union of keys. */
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).iterator
      .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
}
