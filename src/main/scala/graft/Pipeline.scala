package graft

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.yaml.snakeyaml.Yaml

import graft.operators.{Dedup, LayeredStore}
import graft.sources.JsonFlatten
import graft.sources.api.TransportRegistry

/** Config-driven endpoint registry + the three-phase pipeline
  * (SURVEY.md §1.1, §2.10, §3.1-3.2).
  *
  * The reference enumerates (collection × item [× instrument-type])
  * from constants.yaml:21-106 — 71 endpoints, trades × 8 instrument
  * types → 78 source tables — and runs extract → transform → load as an
  * Airflow DAG with per-table try/except isolation and retries
  * (mabna_tables_create.py:21-30, :80-90, :303-322). Here the same
  * registry drives one driver program: each phase is a DataFrame plan,
  * tasks parallelize across the cluster instead of Celery workers, and
  * the watermark dict (XCom, mabna_tables_update.py:103) is a plain
  * driver map.
  */
final case class EndpointSpec(collection: String, item: String,
                              instType: Option[String] = None) {
  /** `{collection}/{item}` API path (mabna_tables_create.py:49). */
  def endpoint: String =
    instType.fold(s"$collection/$item")(t => s"$collection/$item?instrument.type=$t")
  /** `src_{title}_{item}[_{insttype}]` (mabna_tables_create.py:60-61). */
  def tableName: String =
    (Seq("src", collection, item) ++ instType).mkString("_")
}

object EndpointRegistry {
  /** Parse the reference's constants.yaml shape:
    * {{{
    * instrument_types: [share, bond, ...]
    * collections:
    *   exchange: [trades, news, indexvalues, ...]
    *   stock: [...]
    * }}}
    * `trades` fans out × instrument type (constants.yaml:11-19;
    * mabna_tables_create.py:82-87). */
  def fromYaml(yaml: String): Seq[EndpointSpec] = {
    val root = new Yaml().load[java.util.Map[String, Object]](yaml).asScala
    val types = root.getOrElse("instrument_types", new java.util.ArrayList[String]())
      .asInstanceOf[java.util.List[String]].asScala.toSeq
    val colls = root("collections").asInstanceOf[java.util.Map[String, Object]].asScala
    colls.toSeq.sortBy(_._1).flatMap { case (coll, items) =>
      items.asInstanceOf[java.util.List[String]].asScala.toSeq.flatMap {
        case item @ "trades" if types.nonEmpty =>
          types.map(t => EndpointSpec(coll, item, Some(t)))
        case item => Seq(EndpointSpec(coll, item))
      }
    }
  }
}

/** Bounded retry with per-table isolation (C4/C5): one bad endpoint
  * logs and skips — it never fails the run (the reference wraps every
  * task body in try/except and relies on Airflow's `retries: 1`). */
object Retry {
  def retrying[T](attempts: Int, delayMs: Long = 0)(f: => T): Try[T] = {
    var last: Try[T] = Failure(new IllegalStateException("no attempts"))
    var i = 0
    while (i < attempts) {
      last = Try(f)
      if (last.isSuccess) return last
      i += 1
      if (i < attempts && delayMs > 0) Thread.sleep(delayMs)
    }
    last
  }
}

/** The three-phase engine over a layered TableStore.
  *
  * K3 — the reference prints `len(df)` after every write
  * (mabna_tables_create.py:62, :123, :158; mabna_tables_update.py:60).
  * Every phase here returns that per-table row count, observed on the
  * write's own execution: each table's plan runs exactly once, where a
  * `count()` after the write would rerun the whole lineage (the scan,
  * the joins, the dedup shuffle, the API fetch). */
final class Pipeline(spark: SparkSession, store: LayeredStore,
                     transport: String, retries: Int = 2) {

  /** Run `write` on `df` with a row counter attached and return the
    * rows it wrote. Call it inside the retried body: an Observation
    * serves one execution only, so every attempt gets a fresh one. */
  private def written(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Phase 1 — EXTRACT (full refresh): driver-side fetch per endpoint,
    * schema inferred from the JSON like the reference's
    * `json_normalize + to_sql(replace)` (mabna_tables_create.py:55-61).
    * Returns per-table row counts; failures are isolated (C5). */
  def fullRefresh(specs: Seq[EndpointSpec]): Map[String, Try[Long]] =
    specs.map { spec =>
      spec.tableName -> Retry.retrying(retries) {
        import spark.implicits._
        val body = TransportRegistry.get(transport)
          .fetch(spec.endpoint, Map("meta.version" -> "0", "meta.version_op" -> "gt"))
        val df = JsonFlatten.parseEnvelope(spark, Seq(body).toDS())
        written(df)(store.replace("source", spec.tableName, _))
      }
    }.toMap

  /** Phase 1' — EXTRACT (incremental): watermark probe per table (A1),
    * then the DSv2 source with the `version > wm` filter pushed into
    * the request (S2), appended (K2). The stored table supplies the
    * pinned schema the cluster source requires. */
  def incrementalRefresh(specs: Seq[EndpointSpec],
                         versionCol: String = "meta_version"): Map[String, Try[Long]] =
    specs.map { spec =>
      spec.tableName -> Retry.retrying(retries) {
        val existing = store.read("source", spec.tableName)
        val wm = graft.operators.Incremental
          .maxWatermark(existing, versionCol).getOrElse(0L)
        val fresh = spark.read.format("graft-api")
          .schema(existing.schema)
          .option("endpoints", spec.endpoint)
          .option("transport", transport)
          .option("versionColumn", versionCol)
          .load()
          .filter(col(versionCol) > lit(wm))
        written(fresh)(store.append("source", spec.tableName, _))
      }
    }.toMap

  /** Phase 2 — TRANSFORM: named staging transforms (P1/F1/X1/X2 shapes)
    * applied source → staging. */
  def transform(tables: Map[String, DataFrame => DataFrame],
                mode: String = "replace"): Map[String, Try[Long]] =
    tables.map { case (table, fn) =>
      table -> Retry.retrying(retries) {
        written(fn(store.read("source", table))) { out =>
          if (mode == "replace") store.replace("staging", table, out)
          else store.append("staging", table, out)
        }
      }
    }

  /** Phase 3 — LOAD: join/filter to production + keep-last repair (W1).
    * The dedup is the single-shuffle window, not the reference's
    * O(table) read-sort-rewrite (mabna_tables_update.py:271-280). */
  def load(table: String, build: LayeredStore => DataFrame,
           keys: Seq[String], versionCol: String): Try[Long] =
    Retry.retrying(retries) {
      written(Dedup.keepLast(build(store), keys, Seq(col(versionCol))))(
        store.replace("production", table, _))
    }
}
