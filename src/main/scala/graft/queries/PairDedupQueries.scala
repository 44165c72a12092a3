package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Blooms, Layout, Sampling, Shuffles, Similarity, TextOps}

import Shared._

/** Dedup pair engines: near-duplicate pairs, clusters and soft dedup. */
object PairDedupQueries extends QueryFamily {

  /** Exact word-3-gram Jaccard near-dup pairs (inverted shingle index).
    * Opt-in exact mode (no posting cap) — the oracle is the full
    * brute-force Jaccard; pipeline callers get the stop-shingle-safe
    * default cap instead. */
  query("q10_jaccard_pairs", (s, dir) =>
    TextOps.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, maxPostings = None)
      .orderBy("id_a", "id_b"),
    oracle = jaccardOracle(0.5))

  /** MinHash-LSH candidate generation + exact verification at 0.8. */
  query("q11_minhash_pairs", (s, dir) =>
    TextOps.minhashDedupPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8, k = 64, bands = 16)
      .orderBy("id_a", "id_b"),
    // q11 equals the exact-Jaccard oracle only up to LSH recall: a pair
    // at similarity s survives banding with p = 1-(1-s^(k/bands))^bands
    // (~0.9998 at s=0.8, k=64, bands=16). The driver fixtures plant
    // pairs at s≈0.97 where p≈1-1e-12, so the equality is safe there;
    // borderline-0.8 fixtures would need the candidate-restricted
    // oracle instead (see SimilaritySpec's recall gate).
    oracle = jaccardOracle(0.8))

  /** Brute-force cosine top-10 for 1-in-50 query vectors (native
    * codegen'd cosine kernel). */
  query("q12_ann_topk", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  },
    oracle = bruteAnnSql)

  /** 32-bit SimHash fingerprint per document. */
  query("q13_simhash", (s, dir) =>
    TextOps.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin)

  /** SimHash near-dup pairs within hamming distance 3 (pigeonhole
    * chunk candidates, no cross join). */
  query("q14_simhash_pairs", (s, dir) =>
    TextOps.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3)
      .orderBy("id_a", "id_b"),
    oracle =
      s"""WITH $simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)

  /** Near-dup clusters (LSH pairs → connected components → keeper per
    * cluster) over the document corpus. */
  query("q31_dedup_clusters", (s, dir) =>
    TextOps.dedupClusters(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("doc_id"),
    oracle =
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (
         |  SELECT da AS id_a, db AS id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         |e2 AS (SELECT id_a AS s, id_b AS d2 FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT s, s FROM e2
         |  UNION
         |  SELECT e2.s, r.label FROM e2 JOIN reach r ON e2.d2 = r.id),
         |cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |       coalesce(cc.label, d.doc_id) AS cluster_id,
         |       d.doc_id = coalesce(cc.label, d.doc_id) AS is_keeper
         |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
         |ORDER BY doc_id""".stripMargin)

  /** Soft dedup ([[TextOps.softDedupWeights]]): q31's near-dup
    * clusters turned into inverse-cluster-size document weights —
    * keep the duplicates, downweight them to ~one document of mass
    * per cluster. All-integer (ppm) outputs; the oracle replays the
    * clustering and the weight arithmetic. */
  query("q136_soft_dedup", (s, dir) =>
    TextOps.softDedupWeights(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("doc_id"),
    // q136: q31's clustering replay + cluster sizes + the ppm weight
    // arithmetic — soft dedup is pure integer composition on top
    oracle =
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (
         |  SELECT da AS id_a, db AS id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         |e2 AS (SELECT id_a AS s, id_b AS d2 FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT s, s FROM e2
         |  UNION
         |  SELECT e2.s, r.label FROM e2 JOIN reach r ON e2.d2 = r.id),
         |cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
         |cl AS (SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
         |cs AS (SELECT cluster_id, count(*)::BIGINT AS dup_count
         |       FROM cl GROUP BY 1),
         |tk AS (SELECT doc_id,
         |         len(string_split(text, ' '))::BIGINT AS ws_tokens
         |       FROM documents)
         |SELECT cl.doc_id, cl.cluster_id, cs.dup_count,
         |  (1000000 // cs.dup_count)::BIGINT AS weight_ppm,
         |  tk.ws_tokens,
         |  (tk.ws_tokens * (1000000 // cs.dup_count))::BIGINT AS eff_tokens_ppm
         |FROM cl JOIN cs USING (cluster_id) JOIN tk USING (doc_id)
         |ORDER BY doc_id""".stripMargin)

  private val SoftMixBudgetPpm = 700L * 1000000L

  private val SoftMixBudgetsPpm: Map[String, Long] =
    Map("src0" -> 1200L * 1000000L, "src1" -> 0L)

  /** Dedup-weighted budget mix ([[Sampling.budgetTake]] over
    * [[TextOps.softDedupWeights]]'s effective tokens): q61's
    * per-source budget prefix take, except each document costs its
    * DOWNWEIGHTED token mass (ws_tokens · (1e6 DIV dup_count) ppm) —
    * a page the crawl found ten times spends ~one page of budget no
    * matter how many of its copies the hash order admits, so the
    * realized mix matches the intended per-source token spend on the
    * DEDUPLICATED corpus without dropping a single row up front. Same
    * two-phase skew-proof take (no source is ever sorted whole); the
    * weights input is localCheckpoint'd because budgetTake's two
    * phases re-scan their input and the clustering should price in
    * once. */
  query("q137_soft_mix", (s, dir) => {
    val docs = Tables.documents(s, dir)
    val w = TextOps.softDedupWeights(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint(eager = true)
    Sampling.budgetTake(w, "source", "doc_id", "eff_tokens_ppm",
        SoftMixBudgetPpm, SoftMixBudgetsPpm, SampleSeed)
      .select("doc_id", "source", "dup_count", "weight_ppm",
        "ws_tokens", "eff_tokens_ppm")
      .orderBy("doc_id")
  },
    // q137: q136's weights CTE chain composed with q61's prefix-take in
    // (hash, doc_id) order, the running total now summing eff_tokens_ppm
    // — the budget is spent in DEDUPLICATED token mass
    oracle =
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (
         |  SELECT da AS id_a, db AS id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         |e2 AS (SELECT id_a AS s, id_b AS d2 FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT s, s FROM e2
         |  UNION
         |  SELECT e2.s, r.label FROM e2 JOIN reach r ON e2.d2 = r.id),
         |cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
         |cl AS (SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
         |cs AS (SELECT cluster_id, count(*)::BIGINT AS dup_count
         |       FROM cl GROUP BY 1),
         |tk AS (SELECT doc_id,
         |         len(string_split(text, ' '))::BIGINT AS ws_tokens
         |       FROM documents),
         |w AS (
         |  SELECT cl.doc_id, d.source, cs.dup_count,
         |    (1000000 // cs.dup_count)::BIGINT AS weight_ppm,
         |    tk.ws_tokens,
         |    (tk.ws_tokens * (1000000 // cs.dup_count))::BIGINT AS eff_tokens_ppm,
         |    ('0x' || substr(md5(cl.doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |  FROM cl JOIN cs USING (cluster_id) JOIN tk USING (doc_id)
         |  JOIN documents d ON d.doc_id = cl.doc_id),
         |c AS (
         |  SELECT *, SUM(eff_tokens_ppm) OVER (PARTITION BY source ORDER BY h, doc_id
         |           ROWS UNBOUNDED PRECEDING) AS cum FROM w)
         |SELECT doc_id, source, dup_count, weight_ppm, ws_tokens, eff_tokens_ppm
         |FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN ${SoftMixBudgetsPpm("src0")}
         |                         WHEN 'src1' THEN ${SoftMixBudgetsPpm("src1")}
         |                         ELSE $SoftMixBudgetPpm END
         |ORDER BY doc_id""".stripMargin)

  /** Skew-salted join: lineitem ⋈ supplier on suppkey via
    * [[Shuffles.saltedEquiJoin]] (8-way salt, supplier replicated 8×),
    * aggregated to per-nation revenue. The oracle is the PLAIN join —
    * green means the salting rewrite is semantics-preserving, promoting
    * the previously spec-only operator to driver-oracle coverage. */
  query("q64_salted_join", (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    Shuffles.saltedEquiJoin(li, supp, "l_suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
        ).cast("double").as("revenue"))
      .orderBy("s_nationkey")
  },
    // the PLAIN join: green certifies the salted rewrite changes nothing
    oracle =
      """SELECT s_nationkey,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin)

  /** Bucket-amortized join: both join sides are materialized ONCE as
    * catalog tables bucketed + sorted on the join key
    * ([[Shuffles.writeBucketed]], 8 buckets), then the q64-shaped
    * per-nation revenue aggregation joins them with NO shuffle and NO
    * sort in the join stage — each side's bucketing already satisfies
    * the sort-merge join's distribution and ordering requirements, so
    * the only Exchange left in the plan is the per-nation aggregation.
    * This is the pay-once answer to the reference's pattern of
    * re-joining the same tables every 15-minute batch
    * (mabna_tables_update.py runs the identical join each cycle): at
    * 100 TB the join's shuffle is paid at write time and amortized
    * over every later batch. The MERGE hint keeps the plan on the
    * bucketed sort-merge path (supplier is broadcast-small at test SF,
    * but it stands in for a big-big join — the case bucketing exists
    * for). Within one session the tables are written once and reused
    * (`tableExists` guard), which is exactly the amortization being
    * modeled; the oracle is the PLAIN join, so green proves the
    * bucketed rewrite is semantics-preserving. */
  query("q66_bucketed_join", (s, dir) => {
    // session-unique tag: the warehouse DIRECTORY outlives the in-memory
    // catalog, so a name reused across sessions would hit
    // LOCATION_ALREADY_EXISTS on the second session's CREATE; within one
    // session the tableExists guard reuses the bucketed build
    val tag = sessionTag("", s, dir)
    val liT = s"graft_bkt_lineitem_$tag"
    val suT = s"graft_bkt_supplier_$tag"
    if (!s.catalog.tableExists(liT))
      Shuffles.writeBucketed(Tables.lineitem(s, dir)
          .select("l_suppkey", "l_extendedprice", "l_discount"),
        liT, "l_suppkey", buckets = 8)
    if (!s.catalog.tableExists(suT))
      Shuffles.writeBucketed(Tables.supplier(s, dir)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey")),
        suT, "l_suppkey", buckets = 8)
    s.table(liT).hint("MERGE").join(s.table(suT).hint("MERGE"), Seq("l_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
        ).cast("double").as("revenue"))
      .orderBy("s_nationkey")
  },
    // same plain-join oracle as q64: the bucketed pay-once plan must be
    // indistinguishable from the straight join in its results
    oracle =
      """SELECT s_nationkey,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin)

  /** Partition-pruned layout round trip: events re-laid-out as a
    * Hive-partitioned parquet tree on derived `event_day`
    * ([[Layout.writePartitioned]]; 30 day-directories at any SF), then
    * an even-days aggregate over the partitioned read. The day filter
    * references ONLY the partition column, so it prunes at the file
    * index — odd-day directories are never opened, `PartitionFilters`
    * pinned by PlanContractSpec. At 100 TB this is the load-bearing
    * pushdown: the dominant filter column chosen at WRITE time turns
    * time-window queries from corpus scans into directory listings.
    * Layout written once per session (exists guard), like q66's
    * bucketed build. */
  query("q67_partition_prune", (s, dir) => {
    val path = sessionStore("", "layout-events", s, dir) { path =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), tsUs.as("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("event_day", expr("ts_us DIV 86400000000"))
      Layout.writePartitioned(ev, path, "event_day")
    }
    Layout.readPartitioned(s, path)
      .filter(col("event_day") % 2 === 0)
      .groupBy(col("event_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_day")
  },
    // the layout round trip must be invisible to results: the oracle
    // computes the same even-days aggregate straight off the flat table
    oracle =
      """SELECT (epoch_us(ts) // 86400000000) AS event_day,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value
        |FROM events
        |WHERE (epoch_us(ts) // 86400000000) % 2 = 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)

  /** Bloom-prefiltered semi join: lineitem reduced to lines of URGENT
    * orders. The probe keys build a [[Blooms]] bloom filter IN-PLAN (a
    * scalar subquery — no driver collect); `might_contain` prunes the
    * big side at the scan, and the exact left-semi join above it
    * removes the bloom's false positives, so the result is EXACTLY the
    * plain semi join — which is what the oracle runs. At 100 TB the
    * plain semi join shuffles every lineitem row; the bloom (a few MB,
    * broadcast) lets only ~20% of rows plus an ~3% false-positive tail
    * reach the shuffle. */
  query("q68_bloom_semijoin", (s, dir) => {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
    Blooms.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
        expectedItems = 4096L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy("l_returnflag")
  },
    // oracle is the PLAIN semi join: green proves the bloom prefilter +
    // exact join composition is semantics-preserving (no false negatives,
    // false positives removed by the join)
    oracle =
      """SELECT l_returnflag,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |         AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)

  /** Z-order clustered layout: events re-laid-out clustered on
    * (user_id, value) ([[Layout.writeZOrdered]] — bit-interleaved sort
    * key, range-repartitioned write), then a selective filter on
    * `value` ALONE aggregated by event_type. The layout is invisible to
    * results — the oracle runs the same aggregate on the flat table —
    * but on disk every file's footer min/max is a tight box in BOTH
    * clustered dimensions, so the value-only predicate skips most row
    * groups where a user_id-sorted layout would scan all of them
    * (measured scan-row contrast in LayoutSpec; at 100 TB that gap is
    * the whole query cost). PlanContractSpec pins the value predicate
    * reaching the scan as a pushed filter. */
  query("q69_zorder_layout", (s, dir) => {
    val path = sessionStore("", "layout-zorder", s, dir) { path =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      Layout.writeZOrderedAuto(ev, path, Seq("user_id", "value"), numFiles = 32)
    }
    s.read.parquet(path)
      .filter(col("value").between(20.0, 60.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  },
    // the z-order re-layout must be invisible to results: the oracle is
    // the same value-window aggregate straight off the flat table
    oracle =
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value
        |FROM events
        |WHERE value BETWEEN 20.0 AND 60.0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)

  /** Per-doc duplicated-gram fraction ([[TextOps.dupGramFraction]]):
    * the Gopher-family corpus-level repetition score — share of a
    * doc's distinct 3-grams that appear in other documents. No pair
    * enumeration; integer floor-div percent. */
  query("q105_dup_fraction", (s, dir) =>
    TextOps.dupGramFraction(Tables.documents(s, dir), "doc_id", "text", n = 3)
      .orderBy("doc_id"),
    oracle =
      s"""WITH $shingleCte,
         |fr AS (SELECT s, count(*) AS docs FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*)::BIGINT AS n_grams,
         |       sum(CASE WHEN fr.docs >= 2 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_shared,
         |       ((sum(CASE WHEN fr.docs >= 2 THEN 1 ELSE 0 END) * 100)
         |         // count(*))::BIGINT AS dup_pct
         |FROM sh JOIN fr ON fr.s = sh.s
         |GROUP BY 1 ORDER BY sh.doc_id""".stripMargin)

  /** Containment pairs ([[TextOps.containmentPairs]]): asymmetric
    * near-dup detection — |Sₐ∩S_b|/|Sₐ| ≥ 0.8, the quote/subset-copy
    * measure Jaccard resemblance misses. Directed output names which
    * side is contained. */
  query("q106_containment_pairs", (s, dir) =>
    TextOps.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("src_id", "dst_id"),
    // q106: q10's intersection counts read as DIRECTED containment —
    // each unordered pair emits up to two (src contained-in dst) rows
    oracle =
      s"""WITH $shingleCte
         |SELECT * FROM (
         |  SELECT da AS src_id, db AS dst_id, c AS n_common,
         |         sa.n AS set_size, round(c * 1.0 / sa.n, 6) AS containment
         |  FROM inter JOIN sizes sa ON sa.doc_id = da
         |  WHERE c * 1.0 / sa.n >= 0.8
         |  UNION ALL
         |  SELECT db, da, c, sb.n, round(c * 1.0 / sb.n, 6)
         |  FROM inter JOIN sizes sb ON sb.doc_id = db
         |  WHERE c * 1.0 / sb.n >= 0.8)
         |ORDER BY src_id, dst_id""".stripMargin)
}
