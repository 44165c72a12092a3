package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{EndpointSpec, Pipeline}
import graft.functions.DimDate
import graft.operators.{Incremental, LayeredStore, TableStore, Transforms}
import graft.sources.JsonFlatten
import graft.sources.api.ApiTransport

/** The generated Mabna feed (see mabna_gen.py): per table, records sorted
  * by `meta.version`, each with the batch that releases it. */
final class MabnaFeed(dir: String) {
  import MabnaFeed.Table

  val tables: Map[String, Table] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".tsv")).map { p =>
        val lines = Files.readAllLines(p).asScala.toArray
        val parts = lines.map(_.split("\t", 3))
        p.getFileName.toString.stripSuffix(".tsv") ->
          Table(parts.map(_(0).toInt), parts.map(_(1).toLong), parts.map(_(2)))
      }.toMap

  val batches: Int = tables.values.map(_.batch.max).max
}

object MabnaFeed {
  final case class Table(batch: Array[Int], version: Array[Long], json: Array[String])
}

/** The benchmark's web API: serves the feed up to the released batch.
  * Like the reference's API it filters on `meta.version > wm`, but at the
  * granularity of whole version pages, so a fetch also re-serves the rows
  * of the watermark's page that are already stored. */
final class MabnaTransport(feed: MabnaFeed, trace: Trace) extends ApiTransport {
  import MabnaTransport.Page

  @volatile var released: Int = 0
  private val fetches = new AtomicLong
  private val bytes = new AtomicLong
  private val rowsServed = new AtomicLong
  private val rowsUseful = new AtomicLong

  def counters: Map[String, Double] = Map(
    "fetches" -> fetches.get.toDouble, "json_b" -> bytes.get.toDouble,
    "rows_served" -> rowsServed.get.toDouble, "rows_useful" -> rowsUseful.get.toDouble)

  /** `exchange/trades?instrument.type=share` -> `src_exchange_trades_share` */
  private def tableOf(endpoint: String): String =
    "src_" + endpoint.replace("?instrument.type=", "_").replace("/", "_")

  override def fetch(endpoint: String, params: Map[String, String]): String =
    trace.leaf("sources.fetch") {
      val t = feed.tables(tableOf(endpoint))
      val wm = params.get("meta.version").map(_.toLong).getOrElse(0L)
      val lo = (wm / Page) * Page
      // versions are sorted and batches ascend with them
      val from = t.version.indexWhere(_ > lo) match { case -1 => t.version.length; case i => i }
      val until = t.batch.indexWhere(_ > released) match { case -1 => t.batch.length; case i => i }
      val sb = new java.lang.StringBuilder("{\"data\": [")
      var i = from
      var useful = 0
      while (i < until) {
        if (i > from) sb.append(',')
        sb.append(t.json(i))
        if (t.version(i) > wm) useful += 1
        i += 1
      }
      val body = sb.append("]}").toString
      fetches.incrementAndGet()
      bytes.addAndGet(body.length)
      rowsServed.addAndGet(math.max(0, until - from))
      rowsUseful.addAndGet(useful)
      body
    }
}

object MabnaTransport {
  /** Versions per page of `meta.version > wm`. */
  val Page = 64L
}

/** A [[LayeredStore]] that delegates to a [[TableStore]] and opens a span
  * around every call (spans are no-ops in the untraced run). */
final class TracedStore(u: TableStore, trace: Trace) extends LayeredStore {
  private def sc = u.spark.sparkContext
  override def spark: SparkSession = u.spark
  override def replace(layer: String, table: String, df: DataFrame): Unit =
    trace.span(sc, "TableStore.write")(u.replace(layer, table, df))
  override def append(layer: String, table: String, df: DataFrame): Unit =
    trace.span(sc, "TableStore.write")(u.append(layer, table, df))
  override def read(layer: String, table: String): DataFrame =
    trace.span(sc, "TableStore.read")(u.read(layer, table))
  override def exists(layer: String, table: String): Boolean = u.exists(layer, table)
  override def tables(layer: String): Seq[String] = u.tables(layer)
}

/** The reference's two DAGs over the generated feed: a full refresh into
  * source, staging and production, then 15-minute incremental batches. */
final class MabnaIngest(spark: SparkSession, root: String, transportName: String,
                        trace: Trace) {
  import MabnaIngest._

  private val store = new TracedStore(TableStore(spark, root), trace)
  private val pipe = new Pipeline(spark, store, transportName)
  private def sc = spark.sparkContext

  private def stgTrades(df: DataFrame): DataFrame = {
    val cleaned = Transforms.dropNullRows(
      Transforms.project(df, Seq("id", "date_time", "close_price",
        "close_price_change", "value", "instrument_id", "meta_version")),
      Seq("id", "date_time", "close_price", "close_price_change", "instrument_id"))
    val dated = Transforms.insertAt(cleaned, "j_date",
      Transforms.slashDateFromCompact(col("date_time")), 2)
    Transforms.insertAt(dated, "pct",
      Transforms.pctChange(col("close_price_change"), col("close_price")), 5)
  }

  private def stgIndexValues(df: DataFrame): DataFrame = {
    val cleaned = Transforms.dropNullRows(
      Transforms.project(df, Seq("id", "date_time", "close_value",
        "close_value_change", "index_id", "meta_version")),
      Seq("id", "date_time", "close_value", "close_value_change", "index_id"))
    val dated = Transforms.insertAt(cleaned, "j_date",
      Transforms.slashDateFromCompact(col("date_time")), 2)
    Transforms.insertAt(dated, "pct",
      Transforms.pctChange(col("close_value_change"), col("close_value")), 4)
  }

  private val staging: Map[String, DataFrame => DataFrame] =
    Types.map(t => s"src_exchange_trades_$t" -> (stgTrades _)).toMap +
      ("src_exchange_indexvalues" -> (stgIndexValues _))

  /** Dimension relations, resolved once: only the full refresh writes them. */
  private lazy val dims: Map[String, DataFrame] =
    Dims.map(d => d.item -> store.read("source", d.tableName)).toMap
  private def src(t: String) = dims(t)
  private def window(df: DataFrame) =
    df.filter(Transforms.dateStrBetween(col("j_date"), Window._1, Window._2))

  private def prdTrades(t: String)(s: LayeredStore): DataFrame = {
    val assets = Transforms.dropNullRows(src("assets"), Seq("categories"))
      .withColumn("category_id", JsonFlatten.firstElementField(col("categories"), "id"))
    window(s.read("staging", s"src_exchange_trades_$t")
      .join(broadcast(src("instruments").select(col("id").as("i_id"), col("name"),
        col("asset_id"), col("exchange_id"))), col("instrument_id") === col("i_id"))
      .join(broadcast(assets.select(col("id").as("a_id"), col("category_id"))),
        col("asset_id") === col("a_id"))
      .join(broadcast(src("categories").select(col("id").as("c_id"),
        col("short_name").as("category"))), col("category_id") === col("c_id"))
      .join(broadcast(src("exchanges").select(col("id").as("e_id"),
        col("title").as("market"))), col("exchange_id") === col("e_id")))
      .select("id", "j_date", "name", "close_price", "pct", "value",
        "category", "market", "meta_version")
  }

  private def prdIndexValues(s: LayeredStore): DataFrame =
    window(s.read("staging", "src_exchange_indexvalues")
      .join(broadcast(src("indexes").select(col("id").as("x_id"),
        col("name").as("index_name"))), col("index_id") === col("x_id")))
      .select("id", "j_date", "index_name", "close_value", "pct", "meta_version")

  /** production table -> (build, keep-last keys) */
  private val production: Seq[(String, LayeredStore => DataFrame, Seq[String])] =
    Types.map(t => (s"prd_trades_$t", prdTrades(t) _, Seq("j_date", "name"))) :+
      (("prd_indexvalues", prdIndexValues _, Seq("j_date", "index_name")))

  private def failures(rs: Map[String, Try[Long]]): Seq[String] =
    rs.collect { case (t, f) if f.isFailure => s"$t: ${f.failed.get}" }.toSeq

  /** Full refresh: every endpoint into source, staging replaced, production
    * loaded. Returns the failures. */
  def fullRefresh(): Seq[String] = {
    val extracted = pipe.fullRefresh(Facts ++ Dims)
    val staged = pipe.transform(staging)
    val loaded = production.map { case (t, build, keys) =>
      t -> pipe.load(t, build, keys, "meta_version") }.toMap
    failures(extracted) ++ failures(staged) ++ failures(loaded)
  }

  /** One 15-minute batch; returns per-phase row counts and failures. */
  def batch(): (Map[String, Map[String, Long]], Seq[String], Array[Row]) = {
    val extracted = trace.span(sc, "Pipeline.extract")(pipe.incrementalRefresh(Facts))
    val staged = trace.span(sc, "Pipeline.transform") {
      val wm = store.probeWatermarks("staging", "meta_version")
      pipe.transform(staging.map { case (t, fn) =>
        t -> ((df: DataFrame) => Incremental.newerThan(fn(df), "meta_version", wm.get(t)))
      }, mode = "append")
    }
    val loaded = trace.span(sc, "Pipeline.load") {
      production.map { case (t, build, keys) =>
        t -> pipe.load(t, build, keys, "meta_version") }.toMap
    }
    val board = trace.span(sc, "operators.dashboard")(dashboard().collect())
    def ok(rs: Map[String, Try[Long]]) = rs.collect { case (t, scala.util.Success(n)) => t -> n }
    (Map("extract" -> ok(extracted), "transform" -> ok(staged), "load" -> ok(loaded)),
      failures(extracted) ++ failures(staged) ++ failures(loaded), board)
  }

  /** BI's read: production trades per Jalali year, month and category. */
  private def dashboard(): DataFrame = {
    val trades = Types.map(t => store.read("production", s"prd_trades_$t")
      .select("j_date", "category", "meta_version")).reduce(_ unionByName _)
    trades.join(DimDate.generate(spark, "2019-03-21", "2025-03-20")
        .select("jalali", "jyear", "jmonth"), col("j_date") === col("jalali"))
      .groupBy("jyear", "jmonth", "category")
      .agg(count(lit(1)).as("n"), max("meta_version").as("max_version"))
  }

  /** Production tables and source keys, for the correctness check. */
  def dump(out: Path): Unit = {
    Files.createDirectories(out)
    production.foreach { case (t, _, _) =>
      Files.write(out.resolve(s"$t.jsonl"),
        store.read("production", t).toJSON.collect().toSeq.asJava)
    }
    Facts.foreach { spec =>
      Files.write(out.resolve(s"${spec.tableName}.keys"),
        store.read("source", spec.tableName).select("id", "meta_version")
          .collect().map(r => s"${r.getLong(0)}\t${r.getLong(1)}").toSeq.asJava)
    }
  }
}

object MabnaIngest {
  val Types: Seq[String] = Seq("share")
  val Facts: Seq[EndpointSpec] =
    Types.map(t => EndpointSpec("exchange", "trades", Some(t))) :+
      EndpointSpec("exchange", "indexvalues")
  val Dims: Seq[EndpointSpec] =
    Seq("instruments", "assets", "categories", "exchanges", "indexes")
      .map(EndpointSpec("exchange", _))
  val Window: (String, String) = ("1399/01/01", "1402/12/29")
}
