package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext

/** In-memory span recorder, used only by the traced run.
  *
  * A span is opened by the benchmark around one call into a layer. Spans
  * opened on the thread that runs the ops nest: the open span is the parent of the
  * next one, and the Spark job group is set to the span so that jobs it
  * launches are attributed to it (see [[Meter]]). Spans opened on task
  * threads ([[leaf]], e.g. a transport fetch) take the main thread's open span
  * as parent. Spans of one op share its id. Times are epoch milliseconds.
  */
final class Trace(enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  @volatile private var open = 0
  @volatile private var op = 0
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  /** Spans are recorded only while on: the traced run turns this on for
    * its timed region. */
  @volatile var on: Boolean = false

  /** A span on the thread that runs the ops; `opId > 0` starts a new op. */
  def span[T](sc: SparkContext, name: String, opId: Int = 0)(f: => T): T =
    if (!(enabled && on)) f
    else {
      val id = ids.incrementAndGet()
      val parent = open
      if (opId > 0) op = opId
      open = id
      sc.setJobGroup(Meter.TracedPrefix + id, name, interruptOnCancel = false)
      val t0 = nowMs
      try f
      finally {
        val t1 = nowMs
        synchronized(spans += Span(id, parent, op, name, t0, t1))
        open = parent
        if (parent == 0) sc.clearJobGroup()
        else sc.setJobGroup(Meter.TracedPrefix + parent, "", interruptOnCancel = false)
      }
    }

  /** A span on a task thread, child of the main thread's open span. */
  def leaf[T](name: String)(f: => T): T =
    if (!(enabled && on)) f
    else {
      val (parent, o) = (open, op)
      val t0 = nowMs
      try f
      finally {
        val t1 = nowMs
        val id = ids.incrementAndGet()
        synchronized(spans += Span(id, parent, o, name, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startMs: Double, endMs: Double)
}
