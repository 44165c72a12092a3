package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.api.{ApiTransport, TransportRegistry}

/** Records every request and serves versioned records per endpoint —
  * the injectable-transport contract (SURVEY.md §7.4: never block the
  * build on live HTTP). */
class RecordingFakeTransport extends ApiTransport {
  val calls = new ConcurrentLinkedQueue[(String, Map[String, String])]()
  override def fetch(endpoint: String, params: Map[String, String]): String = {
    calls.add((endpoint, params))
    val wm = params.getOrElse("meta.version", "0").toLong
    val all = (1 to 10).map { v =>
      s"""{"id": ${100 + v}, "date_time": "1401122509300$v",
         |"close_price": ${1000.0 + v}, "instrument": {"id": ${200 + v}, "type": "share"},
         |"meta": {"version": $v}}""".stripMargin.replace("\n", " ")
    }
    val kept = all.zipWithIndex.collect { case (r, i) if (i + 1) > wm => r }
    s"""{"data": [${kept.mkString(",")}]}"""
  }
}

class ApiSourceSpec extends SparkSpec {

  private val schemaDdl =
    "id LONG, date_time STRING, close_price DOUBLE, " +
      "instrument_id LONG, instrument_type STRING, meta_version LONG"

  test("full read: one partition per endpoint, nested JSON flattened") {
    val fake = new RecordingFakeTransport
    TransportRegistry.register("fake-full", fake)
    val df = spark.read.format("graft-api")
      .schema(schemaDdl)
      .option("endpoints", "exchange/trades/share, exchange/news")
      .option("transport", "fake-full")
      .load()
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 20) // 10 records × 2 endpoints
    val r = df.filter(col("id") === 101).limit(1).collect()(0)
    assert(r.getAs[Long]("instrument_id") == 201L)
    assert(r.getAs[Long]("meta_version") == 1L)
    assert(fake.calls.asScala.map(_._1).toSet ==
      Set("exchange/trades/share", "exchange/news"))
  }

  test("incremental read: version filter is pushed into the request") {
    val fake = new RecordingFakeTransport
    TransportRegistry.register("fake-inc", fake)
    val df = spark.read.format("graft-api")
      .schema(schemaDdl)
      .option("endpoints", "exchange/trades/share")
      .option("transport", "fake-inc")
      .load()
      .filter(col("meta_version") > 7L)
    assert(df.count() == 3) // versions 8, 9, 10
    val params = fake.calls.asScala.head._2
    assert(params("meta.version") == "7")      // ← pushdown reached the wire
    assert(params("meta.version_op") == "gt")  //   (reference param shape)
  }

  test("non-version filters stay in Spark as residuals") {
    val fake = new RecordingFakeTransport
    TransportRegistry.register("fake-res", fake)
    val df = spark.read.format("graft-api")
      .schema(schemaDdl)
      .option("endpoints", "exchange/trades/share")
      .option("transport", "fake-res")
      .load()
      .filter(col("close_price") > 1005.0)
    assert(df.count() == 5)
    // transport saw the unfiltered request (wm=0)
    assert(fake.calls.asScala.head._2("meta.version") == "0")
  }

  test("a transport that ignores the version param still yields correct results") {
    TransportRegistry.register("fake-ignores-wm", new ApiTransport {
      override def fetch(e: String, p: Map[String, String]): String = {
        // deliberately ignore meta.version: return everything
        val all = (1 to 10).map(v =>
          s"""{"id": $v, "date_time": "x", "close_price": 1.0,
             |"instrument": {"id": 1, "type": "s"}, "meta": {"version": $v}}"""
            .stripMargin.replace("\n", " "))
        s"""{"data": [${all.mkString(",")}]}"""
      }
    })
    val df = spark.read.format("graft-api")
      .schema(schemaDdl)
      .option("endpoints", "e")
      .option("transport", "fake-ignores-wm")
      .load()
      .filter(col("meta_version") > 7L)
    assert(df.count() == 3) // residual re-check catches the stale rows
  }

  test("HttpTransport.buildUrl uses '&' when the endpoint already has a query string") {
    import graft.sources.api.HttpTransport
    assert(HttpTransport.buildUrl("http://h", "exchange/trades?instrument.type=share",
      Map("meta.version" -> "7")) ==
      "http://h/exchange/trades?instrument.type=share&meta.version=7")
    assert(HttpTransport.buildUrl("http://h", "exchange/news",
      Map("meta.version" -> "7")) == "http://h/exchange/news?meta.version=7")
    assert(HttpTransport.buildUrl("http://h", "exchange/news", Map.empty) ==
      "http://h/exchange/news")
    // params are URL-encoded
    assert(HttpTransport.buildUrl("http://h", "e", Map("a b" -> "c&d")) ==
      "http://h/e?a+b=c%26d")
  }

  test("empty data array yields an empty frame") {
    TransportRegistry.register("fake-empty", new ApiTransport {
      override def fetch(e: String, p: Map[String, String]): String = """{"data": []}"""
    })
    val df = spark.read.format("graft-api")
      .schema(schemaDdl)
      .option("endpoints", "x")
      .option("transport", "fake-empty")
      .load()
    assert(df.count() == 0)
  }
}
