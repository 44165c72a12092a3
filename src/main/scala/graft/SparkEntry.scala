package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract (SURVEY.md §7): the registry of named queries, each a
  * [[QuerySpec]] declared in its family's object under `graft.queries`.
  *
  * Every operator from SURVEY.md §2 (plus the large-scale-pipeline
  * extensions) is represented as a named query over the driver test
  * tables, with a DuckDB-equivalent oracle.
  *
  * Conventions keeping the DuckDB hash-compare exact:
  *  - every query ends in a total deterministic ORDER BY;
  *  - no raw timestamps in outputs — `events.ts` is read as Long nanos
  *    (spark.sql.legacy.parquet.nanosAsLong; oracle: `epoch_ns(ts)`),
  *    other timestamps are formatted to strings;
  *  - double aggregations route through DECIMAL sums cast back to
  *    double, so results are order-independent and bit-identical across
  *    engines (plain double sums differ in the last ulps by partial-agg
  *    order);
  *  - integer-valued outputs are cast to long on the Spark side (DuckDB
  *    counts/lengths are BIGINT);
  *  - all content hashing is md5-based (the one hash both engines
  *    share); similarity scores are rounded to 6 dp before ranking.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_prd_trades_star")(spark, "/root/testdata/sf0.001")

  /** Every query, family by family; building it fails on a duplicate id. */
  val registry: Seq[QuerySpec] = QuerySpec.registry(Seq(EtlQueries,
    TextQueries, AnnQueries, PairDedupQueries, StreamQueries, SpanQueries,
    SimhashQueries, MediaQueries, SamplingQueries, SegmentDfQueries,
    StatsQueries, GraphQueries, ServeQueries).flatMap(_.records))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap

  /** Registry names that start with any of `prefixes`, sorted — the one
    * query selector of Verify, Bench and the dev mains. A prefix that
    * matches no query fails with the candidate list, so a typo never
    * turns into an empty run that exits 0. */
  def matching(prefixes: Seq[String]): Seq[String] = {
    val names = queries.keys.toSeq.sorted
    prefixes.foreach { p =>
      require(names.exists(_.startsWith(p)),
        s"prefix '$p' matches no query; candidates: ${names.mkString(", ")}")
    }
    names.filter(n => prefixes.exists(n.startsWith))
  }
}
