package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.DimDate
import graft.operators.{Dedup, ExactAgg, Incremental, Joins, Resample, Similarity, Stats, TextOps, Transforms}
import graft.sources.JsonFlatten

import Shared._

/** ETL core: the reference's staging/production transforms, joins,
  * windows, aggregates and incremental filters. */
object EtlQueries extends QueryFamily {

  private val DimStart = "1941-03-21"
  private val DimEnd = "2051-03-20"

  /** Shared by q38 (plain as-of) and q40 (skew-guarded as-of): both are
    * defined to produce identical output, DuckDB's native ASOF JOIN is
    * the oracle for each. */
  private val asofOracle =
    """WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'click'),
      |signups AS (
      |  SELECT user_id, ts_us, max(event_id) AS signup_event FROM (
      |    SELECT user_id, epoch_us(ts) AS ts_us, event_id
      |    FROM events WHERE event_type = 'signup')
      |  GROUP BY user_id, ts_us)
      |SELECT c.event_id, c.user_id, c.ts_us, c.value,
      |       s.signup_event, s.ts_us AS signup_ts_us
      |FROM clicks c ASOF LEFT JOIN signups s
      |  ON c.user_id = s.user_id AND c.ts_us >= s.ts_us
      |ORDER BY c.event_id""".stripMargin

  /** §3.3 staging-trades pipeline: P1 project → F1 dropna → X1 compact
    * date slice → X2 pct-change, on lineitem.
    *
    * The deterministic output order is established BELOW the transform:
    * (l_orderkey, l_linenumber) is a unique key and every downstream op
    * is order-preserving, so sorting the narrow scan first shuffles 11
    * raw columns instead of 13 (incl. derived strings) and the range
    * sampling pass never evaluates the derivations. */
  query("q01_stg_trades", (s, dir) =>
    Transforms.stgTrades(
      Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber")),
    oracle =
      """SELECT l_orderkey, l_partkey, j_date,
        |       l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |       l_discount, pct_change, l_tax, l_returnflag, l_linestatus, date_time
        |FROM (
        |  SELECT *,
        |         strftime(l_shipdate, '%Y%m%d%H%M%S') AS date_time,
        |         concat_ws('/', substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 1, 4),
        |                        substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 5, 2),
        |                        substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 7, 2)) AS j_date,
        |         l_discount / (l_extendedprice - l_discount) AS pct_change
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |    AND l_suppkey IS NOT NULL AND l_linenumber IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_shipdate IS NOT NULL
        |)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** J1 snowflake star join + F2 date-string window (prd_trades). */
  query("q02_prd_trades_star", (s, dir) =>
    Joins.prdTradesWindowed(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.nation(s, dir), Tables.region(s, dir),
      "1994/01/01", "1996/12/31")
      .orderBy("l_orderkey", "l_linenumber"),
    oracle =
      """SELECT l_orderkey, l_linenumber,
        |       concat_ws('/', substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 1, 4),
        |                      substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 5, 2),
        |                      substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 7, 2)) AS j_date,
        |       l_quantity, l_extendedprice,
        |       l_discount / (l_extendedprice - l_discount) AS pct_change,
        |       o_orderpriority,
        |       c_name AS customer, n_name AS nation, r_name AS region
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |  AND l_suppkey IS NOT NULL AND l_linenumber IS NOT NULL
        |  AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  AND l_discount IS NOT NULL AND l_shipdate IS NOT NULL
        |  AND concat_ws('/', substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 1, 4),
        |                     substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 5, 2),
        |                     substr(strftime(l_shipdate, '%Y%m%d%H%M%S'), 7, 2))
        |      BETWEEN '1994/01/01' AND '1996/12/31'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** J2 two-way broadcast equi-join (stg_indexvalues ⋈ indexes shape). */
  query("q03_join_events_users", (s, dir) =>
    Joins.eventsWithUser(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy("event_id"),
    oracle =
      """SELECT event_id, user_id, event_type, value,
        |       c_name AS user_name, c_mktsegment AS user_segment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin)

  /** A1 watermark probe: ungrouped MAX. */
  query("q04_watermark_max", (s, dir) =>
    Tables.events(s, dir).agg(max(col("event_id")).as("wm")),
    oracle =
      "SELECT max(event_id) AS wm FROM events")

  /** F3 incremental filter past a watermark. */
  query("q05_incremental_filter", (s, dir) =>
    Incremental.newerThan(Tables.events(s, dir), "event_id", Some(5000L))
      .select(col("event_id"), tsUs.as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id"),
    oracle =
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events WHERE event_id > 5000
        |ORDER BY event_id""".stripMargin)

  /** W1 keep-last-per-key dedup over events, key (user_id, event_type),
    * version order (ts µs, event_id). */
  query("q06_keeplast_dedup", (s, dir) =>
    Dedup.keepLast(Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        Seq("user_id", "event_type"), Seq(col("ts_us"), col("event_id")))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("user_id", "event_type"),
    oracle =
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)

  /** Map-side-combinable grouped aggregation (pricing summary — the
    * engine-completeness agg the reference lacks, SURVEY.md §2.11).
    *
    * Money sums run as exact integer cents in LONGs (per-partition
    * two-level reduce, see [[graft.operators.ExactAgg]]) instead of a
    * wide-decimal sum chain: identical results (the cast convention
    * matches the DuckDB oracle's `CAST(x AS DECIMAL)` exactly), ~2×
    * cheaper per row, and partial sums are overflow-bounded at 10^11+
    * rows. */
  query("q07_agg_pricing_summary", (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val cents = ExactAgg.fixedPointUnits(col("l_extendedprice"), 8, 2)
    val dcents = ExactAgg.fixedPointUnits(col("l_discount"), 1, 2)
    ExactAgg.exactSums(li,
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        sums = Seq(
          ("sum_base_price", cents, 2),
          // price_cents × (100 − disc_cents) = disc_price × 10^4, all in
          // exact long arithmetic (≤1.05e9 per row)
          ("sum_disc_price", cents * (lit(100L) - dcents), 4)),
        carryDouble = Seq(("sum_qty", col("l_quantity"))))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("count_order"),
        col("avg_qty"), col("avg_price"))
      .orderBy("l_returnflag", "l_linestatus")
  },
    oracle =
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS sum_disc_price,
        |       count(*) AS count_order,
        |       sum(l_quantity) / count(*) AS avg_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Top-k with deterministic tie-break (sort + limit). */
  query("q08_topk_orders", (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10),
    oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin)

  /** Exact dedup by normalized content hash. */
  query("q09_exact_dedup", (s, dir) =>
    TextOps.exactDedup(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("content_hash"),
    oracle =
      """SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS content_hash,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin)

  /** Generated dim-date, Gregorian columns (oracle-checkable half). */
  query("q20_dimdate_gregorian", (s, dir) =>
    DimDate.generate(s, DimStart, DimEnd)
      .select(col("miladi"),
        col("myear").cast("long").as("myear"),
        col("mmonth").cast("long").as("mmonth"),
        col("mday").cast("long").as("mday"),
        col("mmonth_name"),
        col("mquarter").cast("long").as("mquarter"),
        col("mnime").cast("long").as("mnime"),
        col("mweek_day"),
        col("mweek_num").cast("long").as("mweek_num"))
      .orderBy("miladi"),
    oracle =
      s"""SELECT strftime(d, '%Y-%m-%d') AS miladi,
         |       year(d)::BIGINT AS myear,
         |       month(d)::BIGINT AS mmonth,
         |       day(d)::BIGINT AS mday,
         |       strftime(d, '%B') AS mmonth_name,
         |       quarter(d)::BIGINT AS mquarter,
         |       (CASE WHEN month(d) <= 6 THEN 1 ELSE 2 END)::BIGINT AS mnime,
         |       dayname(d) AS mweek_day,
         |       ((dayofyear(d) + dayofweek(date_trunc('year', d)) - 1) // 7
         |         + 1)::BIGINT AS mweek_num
         |FROM (SELECT unnest(generate_series(DATE '$DimStart', DATE '$DimEnd',
         |        INTERVAL 1 DAY))::DATE AS d)
         |ORDER BY miladi""".stripMargin)

  /** Generated dim-date, full Jalali shape. DuckDB has no Persian
    * calendar, but over the reference artifact's span (1320–1429) the
    * Jalali leap pattern is exactly the arithmetic 33-year cycle with
    * leap residues {1,5,9,13,17,22,26,30} and 1320 ≡ 0 (mod 33) a cycle
    * start (verified against all 40,151 xlsx rows), so the oracle is
    * closed-form integer SQL. Also pinned by JalaliSpec's ICU4J sweep
    * and GoldenDimDateSpec. */
  query("q21_dimdate_jalali", (s, dir) =>
    DimDate.generate(s, DimStart, DimEnd)
      .select(col("miladi"), col("jalali"),
        col("jyear").cast("long").as("jyear"),
        col("jmonth").cast("long").as("jmonth"),
        col("jday").cast("long").as("jday"),
        col("jmonth_name"),
        col("jquarter").cast("long").as("jquarter"),
        col("jnime").cast("long").as("jnime"),
        col("jday_of_year").cast("long").as("jday_of_year"),
        col("jweek_day").cast("long").as("jweek_day"),
        col("jweek_num").cast("long").as("jweek_num"))
      .orderBy("miladi"),
    // Closed-form arithmetic Jalali calendar, exact on the generated
    // span (see q21 scaladoc): 33-year cycles of 12053 days anchored at
    // 1941-03-21 = 1320/01/01; cumleap(r) counts leap residues < r.
    oracle =
      s"""WITH base AS (SELECT unnest(generate_series(DATE '$DimStart',
         |        DATE '$DimEnd', INTERVAL 1 DAY))::DATE AS d),
         |n AS (SELECT d, datediff('day', DATE '1941-03-21', d) AS nd FROM base),
         |c AS (SELECT d, nd // 12053 AS cyc, nd % 12053 AS n2 FROM n),
         |r AS (SELECT d, cyc, n2,
         |        CASE WHEN 365 * (n2 // 366 + 1) +
         |               (CASE WHEN n2 // 366 + 1 <= 21
         |                     THEN (n2 // 366 + 3) // 4
         |                     ELSE 5 + (n2 // 366 - 18) // 4 END) <= n2
         |             THEN n2 // 366 + 1 ELSE n2 // 366 END AS r FROM c),
         |j AS (SELECT d, cyc, r,
         |        n2 - (365 * r + (CASE WHEN r <= 21 THEN (r + 2) // 4
         |                              ELSE 5 + (r - 19) // 4 END)) + 1 AS doy
         |      FROM r),
         |p AS (SELECT d, 1320 + 33 * cyc + r AS jy, doy,
         |        CASE WHEN doy <= 186 THEN (doy - 1) // 31 + 1
         |             ELSE (doy - 187) // 30 + 7 END AS jm,
         |        CASE WHEN doy <= 186 THEN (doy - 1) % 31 + 1
         |             ELSE (doy - 187) % 30 + 1 END AS jd
         |      FROM j)
         |SELECT strftime(d, '%Y-%m-%d') AS miladi,
         |       printf('%04d/%02d/%02d', jy, jm, jd) AS jalali,
         |       jy::BIGINT AS jyear, jm::BIGINT AS jmonth, jd::BIGINT AS jday,
         |       CASE jm WHEN 1 THEN 'Farvardin' WHEN 2 THEN 'Ordibehesht'
         |            WHEN 3 THEN 'Khordad' WHEN 4 THEN 'Tir' WHEN 5 THEN 'Mordad'
         |            WHEN 6 THEN 'Shahrivar' WHEN 7 THEN 'Mehr' WHEN 8 THEN 'Aban'
         |            WHEN 9 THEN 'Azar' WHEN 10 THEN 'Dey' WHEN 11 THEN 'Bahman'
         |            ELSE 'Esfand' END AS jmonth_name,
         |       ((jm - 1) // 3 + 1)::BIGINT AS jquarter,
         |       (CASE WHEN jm <= 6 THEN 1 ELSE 2 END)::BIGINT AS jnime,
         |       doy::BIGINT AS jday_of_year,
         |       (((dayofweek(d) + 1) % 7) + 1)::BIGINT AS jweek_day,
         |       ((doy - 1 + ((((dayofweek(d) + 1) % 7) - (doy - 1) % 7) % 7 + 7)
         |          % 7) // 7 + 1)::BIGINT AS jweek_num
         |FROM p ORDER BY miladi""".stripMargin)

  /** S3 JSON envelope → flatten, round-tripped through nation. */
  query("q22_json_flatten", (s, dir) => {
    import s.implicits._
    val env = Tables.nation(s, dir).select(to_json(struct(
      array(struct(
        col("n_nationkey").as("id"),
        col("n_name").as("name"),
        struct(col("n_regionkey").as("region_id")).as("meta"))).as("data")))
      .as("j")).as[String]
    JsonFlatten.parseEnvelope(s, env)
      .select("id", "name", "meta_region_id")
      .orderBy("id")
  },
    oracle =
      """SELECT n_nationkey AS id, n_name AS name, n_regionkey AS meta_region_id
        |FROM nation ORDER BY id""".stripMargin)

  /** Tumbling 15-minute event-time windows over the event stream (the
    * batch shape of the reference's micro-batch cadence, SURVEY.md §2.9;
    * streaming form in graft.streaming). */
  query("q25_tumbling_windows", (s, dir) =>
    Tables.events(s, dir)
      .withColumn("bucket", expr("(ts DIV 1000) DIV 900000000"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .withColumn("window_start_us", col("bucket") * lit(900000000L))
      .select("bucket", "window_start_us", "event_type", "n_events", "sum_value")
      .orderBy("bucket", "event_type"),
    oracle =
      """SELECT epoch_us(ts) // 900000000 AS bucket,
        |       (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 3
        |ORDER BY bucket, event_type""".stripMargin)

  /** Analytic window functions per user (row_number/lag/lead/running
    * sum) — SURVEY.md §2.11 engine-completeness surface. */
  query("q26_user_analytics", (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("ts_us", tsUs).drop("ts")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("running_sum",
        sum(col("value").cast("decimal(18,6)")).over(wRun).cast("double"))
      .orderBy("user_id", "ts_us", "event_id")
  },
    oracle =
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |       row_number() OVER w AS rn,
        |       lag(value, 1) OVER w AS prev_value,
        |       lead(value, 1) OVER w AS next_value,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |         AS running_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin)

  /** ROLLUP aggregation (grouping-sets surface). */
  query("q27_rollup_agg", (s, dir) =>
    Tables.events(s, dir)
      .withColumn("cohort", (col("user_id") % 10).cast("long"))
      .rollup(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("cohort")),
    oracle =
      """SELECT event_type, user_id % 10 AS cohort,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin)

  /** CUBE grouping sets (all 4 combinations of the two dimensions). */
  query("q48_cube_agg", (s, dir) =>
    Tables.events(s, dir)
      .withColumn("cohort", (col("user_id") % 10).cast("long"))
      .cube(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("cohort")),
    oracle =
      """SELECT event_type, user_id % 10 AS cohort,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin)

  /** UNPIVOT/melt: wide metric columns to (metric, val) rows. */
  query("q49_unpivot", (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 500 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy("l_orderkey", "l_linenumber", "metric"),
    oracle =
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)

  /** LOCF resampling: hourly as-of snapshots of each sampled user's
    * irregular event stream (grid ⋈asof observations; see Resample). */
  query("q50_resample_locf", (s, dir) => {
    val obs = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .filter(col("user_id") % 25 === 0)
      // asofJoin determinism contract: unique (key, time)
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("value"))
    Resample.resampleLocf(obs, "user_id", "ts_us", Seq("value", "ts_us"),
        stepUs = 3600L * 1000000L)
      .orderBy("user_id", "grid_ts")
  },
    oracle =
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS value
        |  FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
        |s AS (SELECT user_id, min(ts_us) AS lo, max(ts_us) AS hi FROM o GROUP BY 1),
        |g AS (SELECT user_id,
        |        unnest(generate_series((lo + 3599999999) // 3600000000,
        |                               hi // 3600000000)) AS k
        |      FROM s),
        |grid AS (SELECT user_id, k * 3600000000 AS grid_ts FROM g)
        |SELECT grid.user_id, grid.grid_ts, o.value, o.ts_us
        |FROM grid ASOF LEFT JOIN o
        |  ON grid.user_id = o.user_id AND grid.grid_ts >= o.ts_us
        |ORDER BY grid.user_id, grid.grid_ts""".stripMargin)

  /** JSON scalar extraction from the event payload column. */
  query("q28_json_props", (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") >= 50)
      .orderBy("event_id"),
    oracle =
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin)

  /** Revenue by part brand × supplier nation: the full-star aggregation
    * over the remaining dimension tables (part, supplier). */
  query("q29_part_supplier_rev", (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name").as("supp_nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
        ).cast("double").as("revenue"))
      .orderBy("p_brand", "supp_nation"),
    oracle =
      """SELECT p_brand, n_name AS supp_nation,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, supp_nation
        |ORDER BY p_brand, supp_nation""".stripMargin)

  /** Per-vector statistics over the embedding column (array math with
    * engine-exact sequential folds). */
  query("q30_vector_stats", (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(aggregate(col("embedding"),
          lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))), 6)
          .as("l2_norm"),
        round(aggregate(col("embedding"),
          lit(0.0), (acc, x) => acc + x.cast("double")) / size(col("embedding")), 6)
          .as("mean"),
        array_min(col("embedding")).cast("double").as("vmin"),
        array_max(col("embedding")).cast("double").as("vmax"))
      .orderBy("vec_id"),
    oracle =
      """WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, len(embedding)::BIGINT AS dim,
        |       round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
        |       round(list_sum(v) / len(v), 6) AS mean,
        |       list_aggregate(v, 'min') AS vmin,
        |       list_aggregate(v, 'max') AS vmax
        |FROM e ORDER BY vec_id""".stripMargin)

  /** Distinct aggregation (count distinct + multi-agg). */
  query("q32_distinct_agg", (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy("event_type"),
    oracle =
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       min(event_id) AS first_event,
        |       max(event_id) AS last_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Sessionization: a gap of AT LEAST 1 hour of event time starts a
    * new session per user; one row per session. `>=` (split at exactly
    * gap) is Spark `session_window` semantics — a session spans
    * [first, last + gap), so an event landing exactly on last + gap
    * falls outside — which makes this batch shape and the streaming
    * EventTimeStreams.sessionize equal by law (EventTimeStreamsSpec). */
  query("q33_sessionization", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = 3600L * 1000000L
    Tables.events(s, dir)
      .withColumn("ts_us", tsUs).drop("ts")
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) >= gapUs, 1L)
          .otherwise(when(lag(col("ts_us"), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy("user_id", "session_idx")
  },
    oracle =
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT *, CASE
        |      WHEN lag(ts_us) OVER w IS NULL THEN 1
        |      WHEN ts_us - lag(ts_us) OVER w >= 3600000000 THEN 1
        |      ELSE 0 END AS new_session
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sessions AS (
        |  SELECT *, (sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM sessions
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)

  /** Set operations: users seen in clicks INTERSECT purchases, minus
    * users who hit errors (EXCEPT) — distinct-set semantics both
    * engines share. */
  query("q34_set_ops", (s, dir) => {
    val ev = Tables.events(s, dir)
    def users(t: String, minValue: Double) =
      ev.filter(col("event_type") === t && col("value") > minValue)
        .select(col("user_id"))
    val engaged = users("click", 95).intersect(users("purchase", 95))
    engaged.except(users("error", 99)).orderBy("user_id")
  },
    oracle =
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click' AND value > 95
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95)
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 99
        |ORDER BY user_id""".stripMargin)

  /** Pivot: event counts per user across event-type columns. */
  query("q35_pivot", (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
      .orderBy("user_id")
  },
    oracle =
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** AS-OF join: each click matched to the user's latest signup event
    * at-or-before its time (point-in-time lookup against a versioned
    * dimension — DuckDB verifies with its native ASOF JOIN). */
  query("q38_asof_join", (s, dir) => {
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("signup_event"))
      .select(col("user_id"), col("signup_event"), col("ts_us").as("signup_ts_us"))
    Joins.asofJoin(clicks, signups, key = "user_id",
        factTime = "ts_us", dimTime = "signup_ts_us",
        dimCols = Seq("signup_event", "signup_ts_us"))
      .orderBy("event_id")
  },
    oracle = asofOracle)

  /** Skew-guarded as-of join: q38's semantics via asofJoinBucketed with
    * 1-day time buckets, so one hot user's history shards across tasks
    * instead of serializing into a single partition. Same oracle as q38
    * (output is defined to be identical). */
  query("q40_asof_bucketed", (s, dir) => {
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("signup_event"))
      .select(col("user_id"), col("signup_event"), col("ts_us").as("signup_ts_us"))
    Joins.asofJoinBucketed(clicks, signups, key = "user_id",
        factTime = "ts_us", dimTime = "signup_ts_us",
        dimCols = Seq("signup_event", "signup_ts_us"),
        bucketWidth = 86400L * 1000000L)
      .orderBy("event_id")
  },
    // q40 is the skew-guarded variant of the same semantics — defined to
    // produce byte-identical output, so it shares q38's oracle
    oracle = asofOracle)

  /** Exact grouped quantiles (R-7 interpolation, the convention Spark's
    * percentile and DuckDB's quantile_cont share) — via the two-phase
    * histogram→rank-select path ([[Stats.exactGroupedQuantilesScalable]]):
    * same exact values as `percentile`, but no per-group value
    * buffering, so a hot event type at 100× stays a hash aggregate
    * instead of a single-task sort. */
  query("q46_grouped_quantiles", (s, dir) =>
    Stats.exactGroupedQuantilesScalable(Tables.events(s, dir), "event_type",
        "value", Seq(0.5, 0.9, 0.99))
      .orderBy("event_type"),
    oracle =
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Fixed-width value histogram per event type (sparse buckets). */
  query("q47_histogram", (s, dir) =>
    Stats.histogram(Tables.events(s, dir), "event_type", "value", 10.0)
      .orderBy("event_type", "bucket_lo"),
    oracle =
      """SELECT event_type, floor(value / 10.0) * 10.0 AS bucket_lo,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Bucketized range join: sampled lineitem price points against part
    * price±size intervals (equi-join on buckets, never a cross product). */
  query("q39_range_join", (s, dir) => {
    val probes = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / 50.0).as("v"))
    val intervals = Tables.part(s, dir)
      .select(col("p_partkey"),
        (col("p_retailprice") - col("p_size")).as("lo"),
        (col("p_retailprice") + col("p_size")).as("hi"))
    Joins.rangeJoin(probes, "v", intervals, "lo", "hi", bucketWidth = 100.0)
      .select("l_orderkey", "l_linenumber", "v", "p_partkey", "lo", "hi")
      .orderBy("l_orderkey", "l_linenumber", "p_partkey")
  },
    oracle =
      """WITH probes AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice / 50.0 AS v
        |  FROM lineitem WHERE l_orderkey % 100 = 0),
        |intervals AS (
        |  SELECT p_partkey, p_retailprice - p_size AS lo, p_retailprice + p_size AS hi
        |  FROM part)
        |SELECT l_orderkey, l_linenumber, v, p_partkey, lo, hi
        |FROM probes p JOIN intervals i ON p.v BETWEEN i.lo AND i.hi
        |ORDER BY l_orderkey, l_linenumber, p_partkey""".stripMargin)

  /** q51 oracle: full replay of the banded auto-sized
    * cosineDedupPairs — per-band key width p = ⌈log2 n⌉ derived from
    * count(*) exactly as Similarity.autoPlanes does (length(bin(n−1))
    * is the integer bit-length, no float log2), nTables bands of p
    * splitmix64 planes, candidate pairs agree on all planes of ANY
    * band, exact rounded-cosine threshold on the deduplicated set. */
  private def cosinePairsOracle(nTables: Int, threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |np AS (SELECT length(bin((count(*) - 1)::BIGINT))::BIGINT AS p FROM e),
       |${planeCoeffCteDyn(s"$nTables * (SELECT p FROM np)")},
       |dots AS (
       |  SELECT e.vec_id,
       |         coefl.plane // (SELECT p FROM np) AS tbl,
       |         coefl.plane % (SELECT p FROM np) AS pp,
       |         list_dot_product(e.v, coefl.cl[1:len(e.v)]) AS dot
       |  FROM e, coefl),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << pp) ELSE 0 END)::BIGINT AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM buckets a JOIN buckets b
       |           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |s AS (SELECT cand.id_a, cand.id_b, ${sqlCosine("ea.v", "eb.v")} AS cosine
       |      FROM cand JOIN e ea ON ea.vec_id = cand.id_a
       |                JOIN e eb ON eb.vec_id = cand.id_b)
       |SELECT id_a, id_b, cosine FROM s WHERE cosine >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-duplicate pairs — the embedding-space
    * analogue of q11's MinHash pairs, in the corpus-size-safe banded
    * form: 16 bands of ⌈log2 n⌉ hyperplanes each (key space per band
    * scales with the corpus, so the candidate self-join stays O(n)
    * instead of Θ(n²/2^p) on a fixed key space), candidates agree on
    * any band, exact rounded-cosine verify at ≥ 0.35. Fully
    * oracle-checked via the same splitmix64 bucket transliteration as
    * q36 plus an integer bit-length replay of the auto-sizing. */
  query("q51_cosine_dedup_pairs", (s, dir) =>
    Similarity.cosineDedupPairsAuto(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.35, nTables = 16)
      .orderBy("id_a", "id_b"),
    oracle = cosinePairsOracle(nTables = 16, threshold = 0.35))

  /** X3 first-array-element field extract as a driver-oracled query
    * (the reference's Python row loop over `categories[0]['id']`,
    * mabna_tables_create.py:113-117). Each customer's 'F'-status orders
    * are packed into a sorted array-of-structs; [[JsonFlatten
    * .firstElementField]] extracts the earliest order's key and date.
    * Customers whose orders all miss the filter get an EMPTY array —
    * `try_element_at` returns NULL, the reference's KeyError-guard
    * branch. */
  query("q57_first_order", (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val hist = c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(array_sort(collect_list(when(col("o_orderstatus") === "F",
        struct(col("o_orderdate"), col("o_orderkey"))))).as("orders_f"))
    hist.select(
        col("c_custkey"),
        size(col("orders_f")).cast("long").as("n_f_orders"),
        JsonFlatten.firstElementField(col("orders_f"), "o_orderkey")
          .as("first_orderkey"),
        date_format(
            JsonFlatten.firstElementField(col("orders_f"), "o_orderdate"),
            "yyyy-MM-dd")
          .as("first_orderdate"))
      .orderBy("c_custkey")
  },
    oracle =
      """WITH f AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn,
        |         count(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT c_custkey,
        |       coalesce(f.n, 0)::BIGINT AS n_f_orders,
        |       f.o_orderkey AS first_orderkey,
        |       strftime(f.o_orderdate, '%Y-%m-%d') AS first_orderdate
        |FROM customer LEFT JOIN f ON c_custkey = f.o_custkey AND f.rn = 1
        |ORDER BY c_custkey""".stripMargin)

  /** §2.9 end-to-end incremental refresh as ONE driver query — the
    * reference's update loop (mabna_tables_update.py:383-410) composed
    * from its operators: the target starts as the first 5 000 events,
    * its watermark is PROBED from the data (A1, a real driver action,
    * exactly as the reference queries `max(version)` before each fetch),
    * the source is filtered past it (F3), and target ∪ delta is
    * keep-last-deduped (W1). The oracle is the replay ≡ full-refresh
    * law: the merged result must hash-equal a full keep-last dedup over
    * the whole source. */
  query("q58_incremental_e2e", (s, dir) => {
    val src = Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts")
    val target = src.filter(col("event_id") <= 5000L)
    val wm = Incremental.maxWatermark(target, "event_id")
    val delta = Incremental.newerThan(src, "event_id", wm)
    Dedup.keepLast(target.unionByName(delta),
        Seq("user_id", "event_type"), Seq(col("ts_us"), col("event_id")))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("user_id", "event_type")
  },
    // replay ≡ full-refresh: the incremental merge must equal a full
    // keep-last dedup over the whole source
    oracle =
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)
}
