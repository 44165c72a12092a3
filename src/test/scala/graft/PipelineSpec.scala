package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Success

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LayeredStore, TableStore}
import graft.sources.api.{ApiTransport, TransportRegistry}

class PipelineSpec extends SparkSpec {

  private val yaml =
    """instrument_types: [share, bond]
      |collections:
      |  exchange: [trades, news]
      |  stock: [instruments]
      |""".stripMargin

  test("EndpointRegistry fans trades out by instrument type") {
    val specs = EndpointRegistry.fromYaml(yaml)
    assert(specs.map(_.tableName).toSet == Set(
      "src_exchange_trades_share", "src_exchange_trades_bond",
      "src_exchange_news", "src_stock_instruments"))
    assert(specs.find(_.tableName == "src_exchange_trades_share").get.endpoint ==
      "exchange/trades?instrument.type=share")
  }

  /** Serves version-stamped records; version ceiling bumps per call so
    * incremental runs see new data. */
  private class VersionedTransport(maxVersion: Int) extends ApiTransport {
    override def fetch(endpoint: String, params: Map[String, String]): String = {
      val wm = params.getOrElse("meta.version", "0").toLong
      val recs = (1 to maxVersion).filter(_ > wm).map { v =>
        s"""{"id": $v, "name": "${endpoint.takeWhile(_ != '?')}-$v", "meta": {"version": $v}}"""
      }
      s"""{"data": [${recs.mkString(",")}]}"""
    }
  }

  test("full refresh + incremental refresh converge through the store") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val store = TableStore(spark, root)
    TransportRegistry.register("pipe-v5", new VersionedTransport(5))
    val specs = EndpointRegistry.fromYaml(yaml)
    val pipe = new Pipeline(spark, store, "pipe-v5")

    val counts = pipe.fullRefresh(specs)
    assert(counts.values.forall(_.isSuccess))
    assert(counts("src_exchange_news").get == 5L)

    // new data arrives (versions 6..8); incremental picks up only those
    TransportRegistry.register("pipe-v5", new VersionedTransport(8))
    val inc = pipe.incrementalRefresh(specs)
    assert(inc.values.forall(_.isSuccess))
    assert(inc("src_exchange_news").get == 3L)
    assert(store.read("source", "src_exchange_news").count() == 8L)

    // transform + load with keep-last dedup
    val t = pipe.transform(Map(
      "src_exchange_news" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.select(col("id"), col("name"), col("meta_version")))))
    assert(t("src_exchange_news").isSuccess)
    val loaded = pipe.load("prd_news",
      s => s.read("staging", "src_exchange_news"),
      keys = Seq("id"), versionCol = "meta_version")
    assert(loaded.isSuccess && loaded.get == 8L)
  }

  /** [[VersionedTransport]] that counts its fetches per endpoint. */
  private class CountingTransport(maxVersion: Int) extends VersionedTransport(maxVersion) {
    val fetches = new ConcurrentHashMap[String, AtomicInteger]()
    override def fetch(endpoint: String, params: Map[String, String]): String = {
      fetches.computeIfAbsent(endpoint, _ => new AtomicInteger).incrementAndGet()
      super.fetch(endpoint, params)
    }
    def drain(): Map[String, Int] = {
      val out = fetches.asScala.map { case (e, n) => e -> n.get }.toMap
      fetches.clear()
      out
    }
  }

  /** A phase's result within a bounded time: a write whose row count
    * never arrives fails the test instead of hanging the suite. */
  private def bounded[T](phase: => T): T = Await.result(Future(phase), 2.minutes)

  test("each phase runs once: one fetch per endpoint, and the returned " +
    "counts are the rows each phase added to the store") {
    val root = Files.createTempDirectory("graft-pipe-once").toString
    val store = TableStore(spark, root)
    val specs = EndpointRegistry.fromYaml(yaml)
    val endpoints = specs.map(_.endpoint).toSet
    val pipe = new Pipeline(spark, store, "pipe-count")
    def rows(layer: String, t: String) =
      if (store.exists(layer, t)) store.read(layer, t).count() else 0L

    val v5 = new CountingTransport(5)
    TransportRegistry.register("pipe-count", v5)
    val full = bounded(pipe.fullRefresh(specs))
    assert(v5.drain() == endpoints.map(_ -> 1).toMap)
    specs.foreach(s => assert(full(s.tableName) == Success(rows("source", s.tableName))))

    // two incremental rounds: new data, then nothing past the watermark
    Seq(8, 8).foreach { ceiling =>
      val t = new CountingTransport(ceiling)
      TransportRegistry.register("pipe-count", t)
      val before = specs.map(s => s.tableName -> rows("source", s.tableName)).toMap
      val inc = bounded(pipe.incrementalRefresh(specs))
      assert(t.drain() == endpoints.map(_ -> 1).toMap, s"ceiling $ceiling")
      specs.foreach { s =>
        assert(inc(s.tableName) ==
          Success(rows("source", s.tableName) - before(s.tableName)))
      }
    }

    val news = "src_exchange_news"
    val keep = (df: DataFrame) => df.select(col("id"), col("meta_version"))
    val replaced = bounded(pipe.transform(Map(news -> ((df: DataFrame) =>
      keep(df).filter(col("id") <= 6)))))
    assert(replaced(news) == Success(6L) && rows("staging", news) == 6L)
    val appended = bounded(pipe.transform(Map(news -> ((df: DataFrame) =>
      keep(df).filter(col("id") > 6))), mode = "append"))
    assert(appended(news) == Success(2L) && rows("staging", news) == 8L)
    val loaded = bounded(pipe.load("prd_news", _.read("staging", news),
      keys = Seq("id"), versionCol = "meta_version"))
    assert(loaded == Success(8L) && rows("production", "prd_news") == 8L)
  }

  test("zero-row writes return Success(0) and never wait for their count") {
    val root = Files.createTempDirectory("graft-pipe-zero").toString
    val store = TableStore(spark, root)
    val specs = EndpointRegistry.fromYaml(yaml)
    TransportRegistry.register("pipe-zero", new VersionedTransport(4))
    val pipe = new Pipeline(spark, store, "pipe-zero")
    assert(bounded(pipe.fullRefresh(specs)).values.forall(_ == Success(4L)))

    // a batch with nothing past the watermark
    val inc = bounded(pipe.incrementalRefresh(specs))
    assert(inc.values.forall(_ == Success(0L)), inc)

    // a transform append of zero rows, three ways to be empty
    val news = "src_exchange_news"
    Seq[DataFrame => DataFrame](
      _.filter(col("id") > 100), _.filter(lit(false)), _.limit(0)).foreach { fn =>
      val t = bounded(pipe.transform(Map(news -> fn), mode = "append"))
      assert(t(news) == Success(0L))
    }
    assert(store.read("staging", news).count() == 0L)

    // a load over that empty staging table
    val loaded = bounded(pipe.load("prd_news", _.read("staging", news),
      keys = Seq("id"), versionCol = "meta_version"))
    assert(loaded == Success(0L))
    assert(store.read("production", "prd_news").count() == 0L)
  }

  /** A store whose first write fails inside the write's own job. */
  private final class FailFirstWrite(u: TableStore) extends LayeredStore {
    val writes = new AtomicInteger
    override def spark: SparkSession = u.spark
    private def maybeFail(df: DataFrame): DataFrame =
      if (writes.incrementAndGet() == 1)
        df.filter(raise_error(lit("injected write failure")).isNull)
      else df
    override def replace(layer: String, table: String, df: DataFrame): Unit =
      u.replace(layer, table, maybeFail(df))
    override def append(layer: String, table: String, df: DataFrame): Unit =
      u.append(layer, table, maybeFail(df))
    override def read(layer: String, table: String): DataFrame = u.read(layer, table)
    override def exists(layer: String, table: String): Boolean = u.exists(layer, table)
    override def tables(layer: String): Seq[String] = u.tables(layer)
  }

  test("a retried write returns the count of the attempt that succeeded") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-pipe-retry").toString
    val base = TableStore(spark, root)
    base.replace("staging", "t",
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (3L, 5L)).toDF("id", "meta_version"))
    val store = new FailFirstWrite(base)
    val pipe = new Pipeline(spark, store, "unused", retries = 2)
    val loaded = bounded(pipe.load("t", _.read("staging", "t"),
      keys = Seq("id"), versionCol = "meta_version"))
    assert(store.writes.get == 2)
    assert(loaded == Success(3L))
    assert(base.read("production", "t").count() == 3L)
    // with one attempt the injected failure is the result
    val once = new Pipeline(spark, new FailFirstWrite(base), "unused", retries = 1)
    assert(bounded(once.load("u", _.read("staging", "t"), Seq("id"),
      "meta_version")).isFailure)
  }

  test("per-table error isolation: one bad endpoint never fails the run") {
    val root = Files.createTempDirectory("graft-pipe-err").toString
    val store = TableStore(spark, root)
    val attempts = new AtomicInteger
    TransportRegistry.register("pipe-flaky", new ApiTransport {
      override def fetch(e: String, p: Map[String, String]): String = {
        if (e.startsWith("exchange/news")) throw new RuntimeException("boom")
        attempts.incrementAndGet()
        """{"data": [{"id": 1, "meta": {"version": 1}}]}"""
      }
    })
    val pipe = new Pipeline(spark, store, "pipe-flaky", retries = 2)
    val out = pipe.fullRefresh(EndpointRegistry.fromYaml(yaml))
    assert(out("src_exchange_news").isFailure)
    assert(out.count(_._2.isSuccess) == 3) // the other tables landed
  }

  test("Retry retries the configured number of times") {
    val n = new AtomicInteger
    val r = Retry.retrying(3) {
      if (n.incrementAndGet() < 3) sys.error("transient") else "ok"
    }
    assert(r.isSuccess && n.get() == 3)
    val f = Retry.retrying(2)(sys.error("always"))
    assert(f.isFailure && f.failed.get.getMessage == "always")
  }
}
