package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Layout, Multimodal, Similarity, SpanDedup, TextOps}
import graft.streaming.{EventTimeStreams, SemStream, SpanStream}

import Shared._

/** Streaming replays: Structured Streaming runs and stream-maintained
  * stores replayed by the oracle. */
object StreamQueries extends QueryFamily {

  /** Continuous text dedup — the SimHash store MAINTAINED across crawl
    * batches ([[graft.streaming.SimhashStream]], q186's absorption
    * chain on the text lens): batch 1 serves against history (fenced,
    * `b < 1`) and its FRESH keepers' fingerprints absorb under
    * `b = 1`; batch 2 then serves against history ∪ batch-1 keepers —
    * a batch-2 light rewrite of a batch-1 page is caught by the
    * absorbed index, which the oracle replays round by round. Store
    * build + round 1 persist once per JVM; round 2 serves FRESH per
    * rep behind the `b < 2` fence (the q149 bench-honesty
    * discipline). */
  query("q193_simhash_stream", (s, dir) => {
    import graft.streaming.SimhashStream
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q193", "simstream", s, dir) { path =>
      SimhashStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", path)
      SimhashStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", maxDist = 3, path, batchId = 1L)
    }
    val served2 = TextOps.serveSimhashDedup(s, path,
        d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", maxDist = 3, batchCut = Some(2L))
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("doc_id"),
        col("dup_of"), col("is_fresh"))
      .unionByName(served2.select(col("b"), col("doc_id"),
        col("dup_of"), col("is_fresh")))
      .orderBy("b", "doc_id")
  },
    // q193: the q186 two-round replay on the text lens — round 2's
    // history = history ∪ round 1's FRESH keepers, all brute-forced
    oracle =
      s"""WITH $simhashCte,
         |hh AS (SELECT * FROM fp WHERE doc_id % 4 <= 1),
         |cc AS (SELECT * FROM fp WHERE doc_id % 4 = 2),
         |dd AS (SELECT * FROM fp WHERE doc_id % 8 = 3),
         |r1h AS (SELECT b.doc_id, min(h.doc_id) AS hd FROM cc b
         |        JOIN hh h ON bit_count(xor(b.simhash, h.simhash)) <= 3
         |        GROUP BY 1),
         |r1b AS (SELECT b.doc_id, min(a.doc_id) AS bd FROM cc b
         |        JOIN cc a ON a.doc_id < b.doc_id
         |          AND bit_count(xor(a.simhash, b.simhash)) <= 3 GROUP BY 1),
         |r1 AS (SELECT p.doc_id, coalesce(r1h.hd, r1b.bd) AS dup_of,
         |              (r1h.hd IS NULL AND r1b.bd IS NULL) AS is_fresh
         |       FROM cc p LEFT JOIN r1h USING (doc_id)
         |                 LEFT JOIN r1b USING (doc_id)),
         |h2 AS (SELECT doc_id, simhash FROM hh
         |       UNION ALL
         |       SELECT c.doc_id, c.simhash FROM cc c
         |       JOIN r1 USING (doc_id) WHERE r1.is_fresh),
         |r2h AS (SELECT b.doc_id, min(h.doc_id) AS hd FROM dd b
         |        JOIN h2 h ON bit_count(xor(b.simhash, h.simhash)) <= 3
         |        GROUP BY 1),
         |r2b AS (SELECT b.doc_id, min(a.doc_id) AS bd FROM dd b
         |        JOIN dd a ON a.doc_id < b.doc_id
         |          AND bit_count(xor(a.simhash, b.simhash)) <= 3 GROUP BY 1),
         |r2 AS (SELECT p.doc_id, coalesce(r2h.hd, r2b.bd) AS dup_of,
         |              (r2h.hd IS NULL AND r2b.bd IS NULL) AS is_fresh
         |       FROM dd p LEFT JOIN r2h USING (doc_id)
         |                 LEFT JOIN r2b USING (doc_id))
         |SELECT 1::BIGINT AS b, doc_id, dup_of, is_fresh FROM r1
         |UNION ALL
         |SELECT 2::BIGINT AS b, doc_id, dup_of, is_fresh FROM r2
         |ORDER BY b, doc_id""".stripMargin)

  /** Continuous boilerplate curation — the segment-df store MAINTAINED
    * across crawl batches ([[graft.streaming.SegDfStream]]): batch 1
    * is cut against history's counts (fenced, `src < 1`) and its own
    * per-segment dfs absorb under b=1; batch 2 is then cut against the
    * SUMMED history ∪ batch-1 counts — chrome that only becomes
    * corpus-wide once batch 1 lands starts dying at batch 2, which the
    * oracle replays round by round. Store build + round 1 persist once
    * per JVM; round 2 serves fresh per rep behind the fence. */
  query("q200_segdf_stream", (s, dir) => {
    import graft.streaming.SegDfStream
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q200", "segdfstream", s, dir) { path =>
      SegDfStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", segLen = 10, path)
      SegDfStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", segLen = 10, minDf = 2, path, batchId = 1L)
    }
    val served2 = TextOps.serveSegmentCut(s, path,
        d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", segLen = 10, minDf = 2, batchCut = Some(2L))
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("doc_id"),
        col("clean_text"), col("n_kept_segments"), col("n_dropped_segments"))
      .unionByName(served2.select(col("b"), col("doc_id"),
        col("clean_text"), col("n_kept_segments"), col("n_dropped_segments")))
      .orderBy("b", "doc_id")
  },
    // q200: two fenced rounds replayed — round 2's history df is the
    // SUM over history ∪ batch 1, which is where the accumulation bites
    oracle =
      s"""WITH $segLatticeCte,
         |${segCutRound("r1", "doc_id % 4 <= 1", "doc_id % 4 = 2")},
         |${segCutRound("r2", "doc_id % 4 <= 2", "doc_id % 8 = 3")}
         |SELECT 1::BIGINT AS b, * FROM r1out
         |UNION ALL
         |SELECT 2::BIGINT AS b, * FROM r2out
         |ORDER BY b, doc_id""".stripMargin)

  /** Incremental aggregate maintenance ([[Incremental.aggState]] /
    * mergeAggState): per-type stats built as two half-month partial
    * states merged WITHOUT rescanning raw history — sum-of-sums on
    * decimal state is exact and associative. Oracle = the straight
    * full-table aggregate, so green certifies merge ≡ recompute. At
    * 100 TB this is the difference between O(batch) and the
    * reference's O(table) per 15-minute update. */
  query("q74_incremental_agg", (s, dir) => {
    val mid = 1705363200000000L // 2024-01-16 UTC, epoch µs
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .select(col("event_type"), col("value"), col("ts_us"))
    val stateA = Incremental.aggState(
      ev.filter(col("ts_us") < mid), Seq("event_type"), "value")
    val stateB = Incremental.aggState(
      ev.filter(col("ts_us") >= mid), Seq("event_type"), "value")
    Incremental.mergeAggState(Seq(stateA, stateB), Seq("event_type"))
      .select(col("event_type"), col("cnt"),
        col("vsum").cast("double").as("sum_value"),
        col("vmin"), col("vmax"),
        (col("vsum").cast("double") / col("cnt")).as("avg_value"))
      .orderBy("event_type")
  },
    // merge-of-partials must equal the straight full recompute: the
    // oracle IS the recompute
    oracle =
      """SELECT event_type,
        |       count(value) AS cnt,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value,
        |       min(value) AS vmin,
        |       max(value) AS vmax,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         / count(value) AS avg_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)

  /** Incremental DISTINCT-count maintenance ([[Incremental
    * .distinctState]] / mergeDistinctState): per-type distinct users
    * from two half-month HLL sketch states merged by register-max —
    * COUNT(DISTINCT) is not sum-decomposable, so this is the sketch
    * sibling of q74's exact state. The audit follows q63's pattern:
    * the exact distinct count is the oracle-portable value; the
    * sketch-specific columns are in-query flags — merged-state
    * estimate IDENTICAL to the single-pass estimate (merge exactness,
    * deterministic) and within 5% of exact (accuracy). At 100 TB the
    * state is 2^14 registers per key vs the full key×user set. */
  query("q76_incremental_distinct", (s, dir) => {
    val mid = 1705363200000000L // same boundary as q74
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .select(col("event_type"), col("user_id"), col("ts_us"))
    val stateA = Incremental.distinctState(
      ev.filter(col("ts_us") < mid), Seq("event_type"), "user_id")
    val stateB = Incremental.distinctState(
      ev.filter(col("ts_us") >= mid), Seq("event_type"), "user_id")
    val merged = Incremental.mergeDistinctState(Seq(stateA, stateB), Seq("event_type"))
      .select(col("event_type"), hll_sketch_estimate(col("hll")).as("__est_m"))
    val single = Incremental.distinctState(ev, Seq("event_type"), "user_id")
      .select(col("event_type"), hll_sketch_estimate(col("hll")).as("__est_s"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    exact.join(broadcast(merged), Seq("event_type"))
      .join(broadcast(single), Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"),
        (col("__est_m") === col("__est_s")).as("merge_eq_single_pass"),
        (abs(col("__est_m") - col("exact_distinct")) <=
          col("exact_distinct") * lit(0.05)).as("hll_ok"))
      .orderBy("event_type")
  },
    // sketch registers are engine-specific; the exact distinct and the
    // merge-exactness/accuracy verdicts are portable (q63's pattern)
    oracle =
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS exact_distinct,
        |       TRUE AS merge_eq_single_pass,
        |       TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Incremental near-dup dedup ([[TextOps.incrementalDedupPairs]]):
    * docs with doc_id % 8 == 0 arrive as the new batch. History's LSH
    * band index is PERSISTED to parquet; the batch is signed once and
    * its bands APPENDED to the store (the durable artifact every later
    * increment reuses); candidates then come from probing the batch's
    * band rows inside the updated store — so the candidate plan reads
    * ONLY the store and signs nothing (pinned: zero minhash kernels).
    * Oracle = exact Jaccard pairs touching the batch; green certifies
    * probe-the-store ≡ full recompute restricted to new pairs. At
    * 100 TB: O(batch) signing + an equi-join against a
    * 3-longs-per-band store vs the reference's recompute-everything. */
  query("q75_incremental_dedup", (s, dir) => {
    val parts = 16 // fixed row budget per partition; grows with corpus
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 8 === 0
    val storePath = sessionStore("", "sigstore", s, dir) { storePath =>
      TextOps.writeSignatureStorePartitioned(
        TextOps.signatureStore(docs.filter(!isNew), "doc_id", "text"),
        storePath, parts)                               // history ingest
      val batchBands = TextOps.signatureStore(docs.filter(isNew), "doc_id", "text")
      TextOps.writeSignatureStorePartitioned(batchBands, storePath, parts,
        mode = "append")                                // the increment
      // the increment manifest: production has these rows in hand at
      // append time; persisting them is what lets every later probe
      // prune the store without re-signing the batch
      batchBands.write.mode("overwrite").parquet(s"$storePath-batch")
    }
    val batchBands = s.read.parquet(s"$storePath-batch")
    TextOps.incrementalDedupPairs(
        TextOps.prunedSignatureStore(s, storePath, parts, batchBands),
        docs, "doc_id", "text", isNew)
      .orderBy("id_a", "id_b")
  },
    // probe-the-store must equal the full recompute restricted to
    // pairs that touch the new batch (doc_id % 8 == 0)
    oracle =
      jaccardOracle(0.8, "\n  AND (da % 8 = 0 OR db % 8 = 0)"))

  /** The incremental warehouse LIFECYCLE end-to-end — q58's operator
    * loop composed with the storage layer it feeds at scale. Three
    * micro-batches flow through [[graft.operators.TableStore
    * .incrementalUpsertPartitioned]] (merge with ONLY the touched
    * partitions, dynamic overwrite — the update path is pinned
    * partition-filtered, never a full-table scan), the shattered
    * partition directories are compacted per-directory
    * ([[Layout.compact]], Exchange-free), and the serving aggregates
    * are refreshed by MERGING per-batch state ([[Incremental
    * .aggState]]/[[Incremental.distinctState]]) instead of rescanning
    * history. Oracle = the flat-table recompute: the replay ≡
    * full-refresh law the reference's 15-minute DAG implies
    * (mabna_tables_update.py:383-410) — batch-by-batch upserts must
    * land exactly where one keep-last over everything lands, and the
    * merged states must equal the single-pass aggregates. HLL columns
    * follow q76's audit convention (portable exact value + in-query
    * boolean verdicts). n_current doubles as the exact distinct-user
    * audit base: the table holds one row per (user_id, event_type) by
    * construction. */
  query("q78_warehouse_loop", (s, dir) => {
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    val keys = Seq("user_id", "event_type")
    val ord = Seq(col("ts_us"), col("event_id"))
    val batches = Seq(
      ev.filter(col("event_id") <= 4000L),
      ev.filter(col("event_id") > 4000L && col("event_id") <= 7000L),
      ev.filter(col("event_id") > 7000L))
    val root = sessionStore("q78", "warehouse", s, dir) { root =>
      val store = graft.operators.TableStore(s, root)
      batches.foreach(b => store.incrementalUpsertPartitioned(
        "prod", "events", b, "event_id", keys, ord, "event_type"))
      // per-partition-directory compaction of the micro-batch shatter
      // (partition values are metadata-scale); a NULL partition value
      // lives under __HIVE_DEFAULT_PARTITION__ on disk — mapping it
      // (rather than interpolating the literal string "null") keeps the
      // compacted table from silently dropping that partition, matching
      // upsertMergePlan's explicit null-partition handling
      val parts = store.read("prod", "events").select("event_type")
        .distinct().collect().map(r =>
          Option(r.getString(0)).getOrElse("__HIVE_DEFAULT_PARTITION__"))
      parts.foreach { p =>
        Layout.compact(s, s"$root/prod/events/event_type=$p",
          s"$root/prod/events_compacted/event_type=$p", 8L * 1024 * 1024)
      }
    }
    val compactedRoot = s"$root/prod/events_compacted"
    val tableStats = s.read.parquet(compactedRoot)
      .groupBy("event_type").agg(count(lit(1)).as("n_current"))
    val aggMerged = Incremental.mergeAggState(
      batches.map(b => Incremental.aggState(b, Seq("event_type"), "value")),
      Seq("event_type"))
    val hllMerged = Incremental.mergeDistinctState(
      batches.map(b => Incremental.distinctState(b, Seq("event_type"), "user_id")),
      Seq("event_type"))
      .select(col("event_type"), hll_sketch_estimate(col("hll")).as("__est_m"))
    val hllSingle = Incremental.distinctState(ev, Seq("event_type"), "user_id")
      .select(col("event_type"), hll_sketch_estimate(col("hll")).as("__est_s"))
    tableStats
      .join(broadcast(aggMerged), Seq("event_type"))
      .join(broadcast(hllMerged), Seq("event_type"))
      .join(broadcast(hllSingle), Seq("event_type"))
      .select(col("event_type"), col("n_current"), col("cnt"),
        col("vsum").cast("double").as("sum_value"),
        col("vmin"), col("vmax"),
        (col("__est_m") === col("__est_s")).as("merge_eq_single_pass"),
        (abs(col("__est_m") - col("n_current")) <=
          col("n_current") * lit(0.05)).as("hll_ok"))
      .orderBy("event_type")
  },
    // replay ≡ full-refresh: three partition-pruned upserts + compaction
    // + merged per-batch states must equal one flat recompute — current
    // rows via the keep-last window, stream aggregates via q74's
    // decimal-sum convention, HLL verdicts via q76's audit convention
    oracle =
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |                   event_type, value FROM events),
        |cur AS (SELECT event_type, count(*) AS n_current
        |        FROM (SELECT *, row_number() OVER (
        |                PARTITION BY user_id, event_type
        |                ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
        |        WHERE rn = 1 GROUP BY event_type),
        |agg AS (SELECT event_type, count(value) AS cnt,
        |               CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |                 AS sum_value,
        |               min(value) AS vmin, max(value) AS vmax
        |        FROM ev GROUP BY event_type)
        |SELECT event_type, n_current, cnt, sum_value, vmin, vmax,
        |       TRUE AS merge_eq_single_pass, TRUE AS hll_ok
        |FROM agg JOIN cur USING (event_type)
        |ORDER BY event_type""".stripMargin)

  // memory-sink names must be fresh per run (a bench rep re-streams
  // the backlog from a clean checkpoint; reusing the temp-view name
  // would collide with the previous rep's still-registered sink)
  private val Q93Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Streaming-engine certification ([[graft.streaming.EventTimeStreams
    * .runTumblingBacklog]]): the events table, laid out as an 8-file
    * parquet backlog, driven through a REAL Structured Streaming query
    * — readStream file source, watermarked stateful window aggregation,
    * `Trigger.AvailableNow` walking the backlog 2 files per
    * micro-batch, state-store checkpoints between batches — with the
    * final Complete-mode table as the result. The law this certifies
    * through the driver oracle (every other streaming surface is
    * MemoryStream-specced): streamed-over-any-micro-batch-boundaries ≡
    * one batch aggregate, bit-exact because the window state merges
    * DECIMAL partial sums. Window arithmetic is exactly q25's 900 s
    * buckets, so the oracle is q25's SQL reshaped. */
  query("q93_stream_windows", (s, dir) => {
    val backlog = sessionStore("q93", "stream-backlog", s, dir) { backlog =>
      Tables.events(s, dir)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .select("event_time", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(backlog)
    }
    val sinkName = s"q93_sink_${sessionTag("q93", s, dir)}_${Q93Runs.incrementAndGet()}"
    EventTimeStreams.runTumblingBacklog(s, backlog, "event_time",
        lateness = "10 minutes", windowLen = "15 minutes",
        filesPerBatch = 2, queryName = sinkName)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_us", "event_type")
  },
    // q93: the streaming run's final Complete table must equal the
    // plain batch aggregate over the whole backlog — q25's bucket
    // arithmetic, minus the bucket id column
    oracle =
      """SELECT (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin)

  /** Stream-store retention fold through the driver gate
    * ([[SemStream.foldSemStore]]): the q127 lifecycle rebuilt the
    * STREAM way — seed (b=0) trained on the %4≤1 slice, the %4=2
    * batch applied as a micro-batch (b=1), then the retention fold
    * merges all history into one snapshot — and probed with the same
    * %4=3 batch. The store now holds exactly q127's member CONTENT in
    * the folded stream layout, so the oracle is LITERALLY q127's
    * replay: the fold (and the whole stream lifecycle) must be
    * invisible to every read, certified by hash against DuckDB rather
    * than only by spec. */
  query("q140_semstream_fold", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val path = sessionStore("q140", "semfold", s, dir) { path =>
      SemStream.init(e.filter(col("vec_id") % 4 <= 1),
        "vec_id", "embedding", k = KmeansK, iters = KmeansIters, path)
      SemStream.applyBatch(e.filter(col("vec_id") % 4 === 2),
        "vec_id", "embedding", path, SemThrNum, SemThrDen, SemCap,
        SampleSeed, batchId = 1L)
      SemStream.foldSemStore(s, path, upTo = 1L)
    }
    Similarity.probeSemStore(s, path, e.filter(col("vec_id") % 4 === 3),
        "vec_id", "embedding", SemThrNum, SemThrDen, SemCap, SampleSeed)
      .orderBy("cluster", "store_id", "batch_id")
  },
    // q140: the SAME replay — the stream-layout store (seed b=0,
    // batch b=1) folded to one snapshot serves the probe identically
    // to q127's batch-layout build+append; the fold is pure layout
    oracle = semStoreProbeOracleSql)

  /** Continuous span dedup over a stream
    * ([[graft.streaming.SpanStream]]): two crawl batches served and
    * ABSORBED in sequence — round 1 (doc_id % 4 = 2) cuts against
    * history (% 4 ≤ 1), its CLEAN output's grams (the corpus as
    * stored, seams included) join the store under b=1, round 2
    * (% 8 = 3) cuts against history ∪ round 1. Store built once per
    * JVM; the oracle replays both rounds end to end including the
    * clean-text gram absorption. The streamed-≡-direct-loop law is
    * pinned in SpanStreamSpec over a real MemoryStream maintain.
    *
    * Bench honesty (the q149/q150 discipline): round 2 is served
    * FRESH per evaluation against the accumulated store, batchCut-
    * fenced — so the measured body is the real per-batch serve loop,
    * not a read-back of the build's output. Determinism makes the
    * fresh serve byte-equal to the absorbed `clean/b=2`. */
  query("q166_span_stream", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q166", "spanstream", s, dir) { path =>
      SpanStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", k = 8, path)
      SpanStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", k = 8, path, batchId = 1L)
      SpanStream.applyBatch(d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", k = 8, path, batchId = 2L)
    }
    val r1 = s.read.parquet(s"$path/clean")
      .filter(col("b").cast("long") === 1L)
      .select(lit(1L).as("b"), col("doc_id"), col("clean_text"),
        col("n_kept"))
    val r2 = SpanDedup.serveSpanCut(s, path,
        d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", k = 8, batchCut = Some(2L))
      .select(lit(2L).as("b"), col("doc_id"), col("clean_text"),
        col("n_kept"))
    r1.unionByName(r2).orderBy("doc_id")
  },
    // q166: the two-round SpanStream chain — round 1 vs history, round
    // 2 vs history ∪ the grams of round 1's CLEAN output (the corpus
    // as stored, seams included) — absorption replayed end to end
    oracle =
      s"""WITH hsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
         |b1src AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
         |b2src AS (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 3),
         |${spanGramSet("h", "hsrc")},
         |${spanServeRound("r1", "b1src", "hgs")},
         |${spanGramSet("c1", "r1out", "clean_text")},
         |h2g AS (SELECT gh FROM hgs UNION SELECT gh FROM c1gs),
         |${spanServeRound("r2", "b2src", "h2g")}
         |SELECT 1::BIGINT AS b, doc_id, clean_text, n_kept FROM r1out
         |UNION ALL
         |SELECT 2::BIGINT AS b, doc_id, clean_text, n_kept FROM r2out
         |ORDER BY doc_id""".stripMargin)

  /** Continuous media dedup — the phash store MAINTAINED across crawl
    * batches (q166's absorption chain for images): batch 1 serves
    * against history (fenced, `b < 1`) and its FRESH keepers' hashes
    * absorb under `b = 1` ([[Multimodal.appendPhash]], idempotent
    * dynamic overwrite); batch 2 then serves against history ∪ batch-1
    * keepers — a batch-2 re-encode of a batch-1 image is caught by the
    * absorbed index, which the oracle replays round by round. Store
    * build + round 1 persist once per JVM; round 2 serves FRESH per
    * rep behind the `b < 2` fence (the q149 bench-honesty discipline). */
  query("q186_phash_stream", (s, dir) => {
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    val path = sessionStore("q186", "phashstream", s, dir) { path =>
      Multimodal.writePhashStore(mt(d.filter(col("doc_id") % 4 <= 1)),
        width = 64, path)
      val b1 = mt(d.filter(col("doc_id") % 4 === 2))
      val served1 = Multimodal.servePhashDedup(s, path, b1,
        width = 64, maxDist = 3, batchCut = Some(1L))
        .localCheckpoint(eager = true) // feeds the persist AND the absorb
      served1.withColumn("b", lit(1L))
        .write.mode("overwrite").partitionBy("b").parquet(s"$path/served")
      Multimodal.appendPhash(
        Multimodal.perceptualHash(b1, width = 64)
          .join(served1.filter(col("is_fresh")).select("media_id"),
            Seq("media_id"), "left_semi"),
        path, batchId = 1L)
    }
    val served2 = Multimodal.servePhashDedup(s, path,
        mt(d.filter(col("doc_id") % 8 === 3)),
        width = 64, maxDist = 3, batchCut = Some(2L))
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("media_id"),
        col("dup_of"), col("is_fresh"))
      .unionByName(served2.select(col("b"), col("media_id"),
        col("dup_of"), col("is_fresh")))
      .orderBy("b", "media_id")
  },
    // q186: round 1 vs history, round 2 vs history ∪ round 1's FRESH
    // keepers (the absorption, replayed) — both rounds brute-forced
    oracle =
      s"""WITH ${phashCtesFor("h_", "doc_id % 4 <= 1")},
         |${phashCtesFor("c_", "doc_id % 4 = 2")},
         |${phashCtesFor("d_", "doc_id % 8 = 3")},
         |r1h AS (SELECT b.media_id, min(h.media_id) AS hd FROM c_h b
         |        JOIN h_h h ON bit_count(xor(b.dhash, h.dhash)) <= 3
         |        GROUP BY 1),
         |r1b AS (SELECT b.media_id, min(a.media_id) AS bd FROM c_h b
         |        JOIN c_h a ON a.media_id < b.media_id
         |          AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1),
         |r1 AS (SELECT p.media_id, coalesce(r1h.hd, r1b.bd) AS dup_of,
         |              (r1h.hd IS NULL AND r1b.bd IS NULL) AS is_fresh
         |       FROM c_h p LEFT JOIN r1h USING (media_id)
         |                  LEFT JOIN r1b USING (media_id)),
         |h2 AS (SELECT media_id, dhash FROM h_h
         |       UNION ALL
         |       SELECT c.media_id, c.dhash FROM c_h c
         |       JOIN r1 USING (media_id) WHERE r1.is_fresh),
         |r2h AS (SELECT b.media_id, min(h.media_id) AS hd FROM d_h b
         |        JOIN h2 h ON bit_count(xor(b.dhash, h.dhash)) <= 3
         |        GROUP BY 1),
         |r2b AS (SELECT b.media_id, min(a.media_id) AS bd FROM d_h b
         |        JOIN d_h a ON a.media_id < b.media_id
         |          AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1),
         |r2 AS (SELECT p.media_id, coalesce(r2h.hd, r2b.bd) AS dup_of,
         |              (r2h.hd IS NULL AND r2b.bd IS NULL) AS is_fresh
         |       FROM d_h p LEFT JOIN r2h USING (media_id)
         |                  LEFT JOIN r2b USING (media_id))
         |SELECT 1::BIGINT AS b, media_id, dup_of, is_fresh FROM r1
         |UNION ALL
         |SELECT 2::BIGINT AS b, media_id, dup_of, is_fresh FROM r2
         |ORDER BY b, media_id""".stripMargin)

  /** q186's maintained-store chain in FULL-ABSORPTION mode
    * ([[graft.streaming.PhashStream.applyBatch]] `absorbFull`, round
    * 18): batch 1 serves fenced and absorbs EVERY decodable hash —
    * keepers AND dropped dups — so batch 2 also catches re-encodes
    * that drifted within range of a batch-1 DUPLICATE (the
    * non-transitivity recall gap keeper-only absorption documents at
    * [[Multimodal.appendPhash]]). The oracle is exactly one CTE away
    * from q186's: round 2's history = history ∪ ALL of batch 1, no
    * fresh filter. Store built once per JVM; round 2 serves fresh per
    * rep behind the `b < 2` fence. */
  query("q190_phash_full_absorb", (s, dir) => {
    import graft.streaming.PhashStream
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    val path = sessionStore("q190", "phfull", s, dir) { path =>
      PhashStream.init(mt(d.filter(col("doc_id") % 4 <= 1)),
        width = 64, path)
      PhashStream.applyBatch(mt(d.filter(col("doc_id") % 4 === 2)),
        width = 64, maxDist = 3, path, batchId = 1L, absorbFull = true)
    }
    val served2 = Multimodal.servePhashDedup(s, path,
        mt(d.filter(col("doc_id") % 8 === 3)),
        width = 64, maxDist = 3, batchCut = Some(2L))
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("media_id"),
        col("dup_of"), col("is_fresh"))
      .unionByName(served2.select(col("b"), col("media_id"),
        col("dup_of"), col("is_fresh")))
      .orderBy("b", "media_id")
  },
    // q190: q186's replay with FULL absorption — round 2's history is
    // history ∪ ALL of batch 1 (no fresh filter), nothing else differs
    oracle =
      s"""WITH ${phashCtesFor("h_", "doc_id % 4 <= 1")},
         |${phashCtesFor("c_", "doc_id % 4 = 2")},
         |${phashCtesFor("d_", "doc_id % 8 = 3")},
         |r1h AS (SELECT b.media_id, min(h.media_id) AS hd FROM c_h b
         |        JOIN h_h h ON bit_count(xor(b.dhash, h.dhash)) <= 3
         |        GROUP BY 1),
         |r1b AS (SELECT b.media_id, min(a.media_id) AS bd FROM c_h b
         |        JOIN c_h a ON a.media_id < b.media_id
         |          AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1),
         |r1 AS (SELECT p.media_id, coalesce(r1h.hd, r1b.bd) AS dup_of,
         |              (r1h.hd IS NULL AND r1b.bd IS NULL) AS is_fresh
         |       FROM c_h p LEFT JOIN r1h USING (media_id)
         |                  LEFT JOIN r1b USING (media_id)),
         |h2 AS (SELECT media_id, dhash FROM h_h
         |       UNION ALL
         |       SELECT media_id, dhash FROM c_h),
         |r2h AS (SELECT b.media_id, min(h.media_id) AS hd FROM d_h b
         |        JOIN h2 h ON bit_count(xor(b.dhash, h.dhash)) <= 3
         |        GROUP BY 1),
         |r2b AS (SELECT b.media_id, min(a.media_id) AS bd FROM d_h b
         |        JOIN d_h a ON a.media_id < b.media_id
         |          AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1),
         |r2 AS (SELECT p.media_id, coalesce(r2h.hd, r2b.bd) AS dup_of,
         |              (r2h.hd IS NULL AND r2b.bd IS NULL) AS is_fresh
         |       FROM d_h p LEFT JOIN r2h USING (media_id)
         |                  LEFT JOIN r2b USING (media_id))
         |SELECT 1::BIGINT AS b, media_id, dup_of, is_fresh FROM r1
         |UNION ALL
         |SELECT 2::BIGINT AS b, media_id, dup_of, is_fresh FROM r2
         |ORDER BY b, media_id""".stripMargin)

  /** Hopping (sliding) window aggregation — q25's tumbling windows
    * generalized: 1-hour windows every 15 minutes, each event counted
    * in size/slide = 4 overlapping windows via an integer explode (no
    * timestamp structs, so the whole lattice is exact µs arithmetic).
    * The streaming equivalent is `window(col, "1 hour", "15 min")`;
    * this is the batch shape with the same semantics. */
  query("q111_hopping_windows", (s, dir) => {
    val slide = 900000000L
    val k = 4 // size / slide
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts DIV 1000"))
      .select(col("event_type"), col("value"), col("ts_us"),
        explode(sequence(lit(0L), lit(k - 1L))).as("__k"))
      .withColumn("wstart",
        (expr(s"ts_us DIV $slide") - col("__k")) * lit(slide))
      .where(col("wstart") >= 0)
      .groupBy(col("wstart"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("wstart", "event_type")
  },
    // q111: the hopping-window lattice as integer µs arithmetic —
    // each event exploded into its 4 overlapping 1h/15m windows
    oracle =
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS t
        |           FROM events),
        |x AS (SELECT event_type, value,
        |        ((t // 900000000) - k) * 900000000 AS wstart
        |      FROM (SELECT event_type, value, t,
        |              unnest(generate_series(0, 3)) AS k FROM e))
        |SELECT wstart, event_type, count(*)::BIGINT AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
        |            AS DOUBLE) AS sum_value
        |FROM x WHERE wstart >= 0
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin)
}
