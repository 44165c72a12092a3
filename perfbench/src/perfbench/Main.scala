package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, SparkEntry}
import graft.sources.api.TransportRegistry

/** The benchmark's JVM side. It runs one workload closed-loop with a single
  * client, measures it, and writes everything it measured to
  * `<out>/raw.json`; `run.py` turns that into metrics and checks outputs.
  *
  * Phases of a run:
  *  1. set-up, three times, each in a fresh SparkSession: `llm_curation`
  *     runs one pass of its ops (which builds any once-per-session state);
  *     the first of these passes is the untimed check, taking an
  *     order-insensitive hash of each op's output instead of writing it to
  *     the noop sink; `mabna_ingest` runs the full refresh;
  *  2. warm-up: `mabna_ingest` runs one untimed batch, because its
  *     set-ups run no batch; `llm_curation`'s set-ups already ran every op
  *     three times;
  *  3. the timed region: whole passes of the ops, until `seconds` elapsed.
  */
object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Registry queries of `llm_curation`, by `qNN` prefix, in the order
    * every pass runs them. The order is fixed: the op right after the
    * streaming query runs measurably slower, so an order drawn from the
    * seed would move the median op from seed to seed. */
  val CurationQueries: Seq[String] = Seq("q14", "q106", "q141")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: Path, mabna: String, record: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("data", ""), Paths.get(m("out")), m.getOrElse("mabna", ""), m.get("record"))
  }

  def session(meter: Meter): SparkSession = {
    val s = Engine.localSession(Cores)
    meter.attach(s)
    s
  }

  def now: Double = System.nanoTime() / 1e9

  /** Doubles are rounded to 4 decimals before hashing, so a last-ulp
    * difference never reads as a wrong answer; maps hash as their sorted
    * entries. */
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)),
        ArrayType(new StructType().add("key", kt).add("value", vt)))
    case _ => c
  }

  /** Order-insensitive digest of a result: (rows, sum of row hashes). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canonical(df.col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = args.workload
    out("seed") = args.seed
    out("trace") = args.trace
    out("cores") = Cores
    out("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val runner =
      if (args.workload == "mabna_ingest") new MabnaRunner(args, out)
      else new QueryRunner(args, out)
    try runner.run()
    finally {
      Files.createDirectories(args.out)
      Files.writeString(args.out.resolve("raw.json"), Json.write(out))
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}

/** What both kinds of workload share: set-ups, warm-up, the timed loop and
  * the bookkeeping around them. */
abstract class Runner(args: Main.Args, out: mutable.Map[String, Any]) {
  import Main.now

  val meter = new Meter
  val trace = new Trace(args.trace)
  var spark: SparkSession = _
  protected val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  protected var opId = 0

  /** Build the per-session state; the session is already open. The first
    * set-up also checks the workload's outputs. */
  def setUp(first: Boolean): Unit
  /** One pass of the workload's ops; a timed pass keeps each op's latency. */
  def pass(timed: Boolean): Unit
  /** Anything to record after the timed region. */
  def finish(): Unit = ()
  /** Untimed passes between the set-ups and the timed region. */
  def warmPasses: Int = 0

  /** Seconds a pass spends on the benchmark's own bookkeeping; they are
    * kept off the timed region's clock. */
  protected var bookkeepingS = 0.0

  protected def timeOp(name: String, timed: Boolean, extra: Map[String, Any] = Map.empty)
                      (f: => Option[String]): Unit = {
    opId += 1
    val t0 = now
    val err =
      try trace.span(spark.sparkContext, "op", opId)(f)
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300)) }
    val dt = now - t0
    System.err.println(f"[perfbench] op $name%s ${dt}%.3f s${err.fold("")(e => " ERROR " + e)}%s")
    if (timed) ops += Map("id" -> opId, "name" -> name, "s" -> dt, "error" -> err.orNull) ++ extra
    else err.foreach(e => out("warm_errors") = out.getOrElse("warm_errors", "") + s"$name: $e\n")
  }

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessions = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until Main.SetUps) {
      val t0 = now
      val wall0 = System.currentTimeMillis() / 1000.0
      if (spark != null) spark.stop()
      spark = Main.session(meter)
      sessions += now - t0
      setUp(first = i == 0)
      // the first set-up also pays for starting the JVM
      setups += (now - t0) + (if (i == 0) wall0 - jvmStart else 0.0)
      System.err.println(f"[perfbench] set-up ${i + 1}%d: ${setups.last}%.3f s")
    }
    out("setup_s") = setups.toSeq
    out("session_s") = sessions.toSeq
    out("confs") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    for (_ <- 0 until warmPasses) pass(timed = false)
    out("warm_passes") = warmPasses

    val before = meter.snapshot(spark)
    out("before_timed_s") = System.currentTimeMillis() / 1000.0 - jvmStart
    trace.on = true
    meter.keepJobs = args.trace
    val (t0, b0) = (now, bookkeepingS)
    def elapsed = now - t0 - (bookkeepingS - b0)
    val passes = mutable.ArrayBuffer.empty[Double]
    while (elapsed < args.seconds && !exhausted) {
      val p0 = elapsed
      pass(timed = true)
      passes += elapsed - p0
    }
    out("timed_s") = elapsed
    trace.on = false
    out("region") = Meter.diff(meter.snapshot(spark), before)
    meter.keepJobs = false
    out("passes_s") = passes.toSeq
    out("ops") = ops.toSeq
    finish()
    if (args.trace) {
      out("spans") = trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      // jobs of threads the benchmark does not label (a stream's own
      // micro-batch thread sets its job group) get span 0
      out("jobs") = meter.keptJobs.map(j => Map("id" -> j.id,
        "span" -> (if (j.group.startsWith(Meter.TracedPrefix))
          j.group.stripPrefix(Meter.TracedPrefix).toInt else 0),
        "start_ms" -> j.startMs, "end_ms" -> j.endMs) ++ j.m)
    }
  }

  /** True when the workload has no input left for another pass. */
  def exhausted: Boolean = false
}

/** `llm_curation`: each op is one registry query, built and run into the
  * noop sink. */
final class QueryRunner(args: Main.Args, out: mutable.Map[String, Any])
    extends Runner(args, out) {

  private val names: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    Main.CurationQueries.map { p =>
      all.filter(_.startsWith(p + "_")) match {
        case Seq(n) => n
        case other => sys.error(s"query prefix $p matches ${other.mkString(",")}")
      }
    }
  }

  private def build(name: String): DataFrame = SparkEntry.queries(name)(spark, args.data)

  override def setUp(first: Boolean): Unit =
    if (!first) names.foreach { n =>
      timeOp(n, timed = false) { build(n).write.format("noop").mode("overwrite").save(); None }
    } else {
      out("checks") = names.map { n =>
        n -> (try {
          val df = build(n)
          args.record.foreach { dir =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
          }
          val r = Main.digest(df)
          Map("rows" -> r._1, "hash" -> r._2)
        } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(300)) })
      }.toMap
      args.record.foreach(recordOracles)
    }

  /** The oracle SQL of the workload's queries, for tools/check.py. */
  private def recordOracles(dir: String): Unit = {
    val sfAbs = Paths.get(args.data).toAbsolutePath.normalize.toString
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.write(
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
        .map { case (k, v) => k -> v.replace("{SF_DIR}", sfAbs) }))
  }

  override def pass(timed: Boolean): Unit =
    names.foreach { n =>
      timeOp(n, timed) {
        val sc = spark.sparkContext
        val df = trace.span(sc, "SparkEntry.construct")(build(n))
        trace.span(sc, "operators.action") {
          df.write.format("noop").mode("overwrite").save()
        }
        None
      }
    }
}

/** `mabna_ingest`: set-up is the full refresh; each op is one 15-minute
  * batch through `Pipeline`, then the dashboard read. */
final class MabnaRunner(args: Main.Args, out: mutable.Map[String, Any])
    extends Runner(args, out) {
  private val feed = new MabnaFeed(args.mabna)
  private val transport = new MabnaTransport(feed, trace)
  private val transportName = s"perfbench-mabna-${args.seed}"
  TransportRegistry.register(transportName, transport)
  private var ingest: MabnaIngest = _
  private var root: Path = _
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastBoard: Array[Row] = Array.empty

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  private def storeFiles: Map[String, Long] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap

  override def setUp(first: Boolean): Unit = {
    if (root != null) rmTree(root)
    root = Files.createTempDirectory("perfbench-store")
    transport.released = 0
    ingest = new MabnaIngest(spark, root.toString, transportName, trace)
    val errs = ingest.fullRefresh()
    if (errs.nonEmpty) out("setup_errors") = errs
  }

  override def exhausted: Boolean = transport.released >= feed.batches
  override def warmPasses: Int = 1

  override def pass(timed: Boolean): Unit = {
    if (exhausted) return
    transport.released += 1
    val w0 = Main.now
    val before = if (timed) storeFiles else Map.empty[String, Long]
    val fetched0 = transport.counters
    bookkeepingS += Main.now - w0
    var counts: Map[String, Map[String, Long]] = Map.empty
    timeOp("batch", timed, Map("batch" -> transport.released)) {
      val (c, errs, board) = ingest.batch()
      counts = c
      lastBoard = board
      if (errs.isEmpty) None else Some(errs.mkString("; "))
    }
    val rec = mutable.LinkedHashMap[String, Any](
      "batch" -> transport.released, "timed" -> timed, "counts" -> counts,
      "transport" -> Meter.diff(transport.counters, fetched0))
    if (timed) {
      // files this batch added or rewrote, by layer
      val w1 = Main.now
      val after = storeFiles
      val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
      rec("new_files") = fresh.groupBy(_._1.takeWhile(_ != '/'))
        .map { case (layer, fs) => layer -> Map("files" -> fs.size, "bytes" -> fs.values.sum) }
      bookkeepingS += Main.now - w1
    }
    batches += rec.toMap
  }

  override def finish(): Unit = {
    out("batches") = batches.toSeq
    out("last_batch") = transport.released
    out("dashboard") = lastBoard.map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4))).toSeq
    ingest.dump(args.out.resolve("dump"))
    rmTree(root)
  }
}

object Json {
  private val mapper = new ObjectMapper()
  private def conv(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, conv(x)) }
      j
    case s: Iterable[_] => s.map(conv).toSeq.asJava
    case a: Array[_] => a.toSeq.map(conv).asJava
    case o: Option[_] => o.map(conv).orNull
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }
  def write(v: Any): String = mapper.writeValueAsString(conv(v))
}
