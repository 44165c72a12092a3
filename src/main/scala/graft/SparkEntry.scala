package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DimDate
import graft.operators.{Blooms, Cdc, Clustering, Curation, Dedup, Events, ExactAgg, Graphs, Incremental, Joins, Layout, Linkage, Multimodal, Packing, Resample, Retrieval, Sampling, Shuffles, Similarity, SpanDedup, Stats, TextOps, Transforms, Vocab}
import graft.sources.JsonFlatten
import graft.streaming.{CurationEpochs, CurationStream, EventTimeStreams, SemStream, SpanStream}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the large-scale-pipeline
  * extensions) is represented as a named query over the driver test
  * tables, with a DuckDB-equivalent oracle where SQL-expressible.
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

  /** Crash-safe once-per-JVM store build (round-19 advice, generalized
    * from the q190 finding): guarding a MULTI-STEP build on bare path
    * existence means a rep after a mid-build failure (step 1 created
    * the dir, step 2 died) silently serves a half-built store — wrong
    * results, no error. The `_DONE` marker is written only after the
    * whole build block returns; a marker-less dir is torn down and
    * rebuilt. Underscore-prefixed files are invisible to the parquet
    * readers, so the marker never pollutes a store scan. */
  private def builtOnce(path: String)(build: => Unit): Unit = {
    val marker = new java.io.File(path, "_DONE")
    if (marker.exists()) return
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (new java.io.File(path).exists()) rm(new java.io.File(path))
    build
    marker.createNewFile()
  }

  // ---------------------------------------------------------------- parity

  /** §3.3 staging-trades pipeline: P1 project → F1 dropna → X1 compact
    * date slice → X2 pct-change, on lineitem.
    *
    * The deterministic output order is established BELOW the transform:
    * (l_orderkey, l_linenumber) is a unique key and every downstream op
    * is order-preserving, so sorting the narrow scan first shuffles 11
    * raw columns instead of 13 (incl. derived strings) and the range
    * sampling pass never evaluates the derivations. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    Transforms.stgTrades(
      Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber"))

  /** J1 snowflake star join + F2 date-string window (prd_trades). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    Joins.prdTradesWindowed(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.nation(s, dir), Tables.region(s, dir),
      "1994/01/01", "1996/12/31")
      .orderBy("l_orderkey", "l_linenumber")

  /** J2 two-way broadcast equi-join (stg_indexvalues ⋈ indexes shape). */
  private def q03(s: SparkSession, dir: String): DataFrame =
    Joins.eventsWithUser(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy("event_id")

  /** A1 watermark probe: ungrouped MAX. */
  private def q04(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(max(col("event_id")).as("wm"))

  /** `events.ts` (Long nanos) truncated to micros — DuckDB truncates
    * ns-parquet to its µs TIMESTAMP on read, so µs is the precision both
    * engines share. */
  private def tsUs = expr("ts DIV 1000")

  /** F3 incremental filter past a watermark. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    Incremental.newerThan(Tables.events(s, dir), "event_id", Some(5000L))
      .select(col("event_id"), tsUs.as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id")

  /** W1 keep-last-per-key dedup over events, key (user_id, event_type),
    * version order (ts µs, event_id). */
  private def q06(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLast(Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        Seq("user_id", "event_type"), Seq(col("ts_us"), col("event_id")))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("user_id", "event_type")

  /** Map-side-combinable grouped aggregation (pricing summary — the
    * engine-completeness agg the reference lacks, SURVEY.md §2.11).
    *
    * Money sums run as exact integer cents in LONGs (per-partition
    * two-level reduce, see [[graft.operators.ExactAgg]]) instead of a
    * wide-decimal sum chain: identical results (the cast convention
    * matches the DuckDB oracle's `CAST(x AS DECIMAL)` exactly), ~2×
    * cheaper per row, and partial sums are overflow-bounded at 10^11+
    * rows. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Top-k with deterministic tie-break (sort + limit). */
  private def q08(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // ------------------------------------------- training-data pipeline ops

  /** Exact dedup by normalized content hash. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    TextOps.exactDedup(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("content_hash")

  /** Exact word-3-gram Jaccard near-dup pairs (inverted shingle index).
    * Opt-in exact mode (no posting cap) — the oracle is the full
    * brute-force Jaccard; pipeline callers get the stop-shingle-safe
    * default cap instead. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    TextOps.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, maxPostings = None)
      .orderBy("id_a", "id_b")

  /** MinHash-LSH candidate generation + exact verification at 0.8. */
  private def q11(s: SparkSession, dir: String): DataFrame =
    TextOps.minhashDedupPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8, k = 64, bands = 16)
      .orderBy("id_a", "id_b")

  /** Brute-force cosine top-10 for 1-in-50 query vectors (native
    * codegen'd cosine kernel). */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }

  /** 32-bit SimHash fingerprint per document. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    TextOps.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** SimHash near-dup pairs within hamming distance 3 (pigeonhole
    * chunk candidates, no cross join). */
  private def q14(s: SparkSession, dir: String): DataFrame =
    TextOps.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3)
      .orderBy("id_a", "id_b")

  /** SimHash near-dup KEEPER table ([[TextOps.simhashDedupClusters]]):
    * q14's pair graph closed into the dedup decision by min-label CC
    * over the round-18 sparse collapse edges — the fingerprint-lens
    * complement of q31's shingle-Jaccard clusters. Oracle: brute-force
    * simhash pairs + the q31/q184 recursive-CTE reachability. */
  private def q191(s: SparkSession, dir: String): DataFrame =
    TextOps.simhashDedupClusters(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3)
      .orderBy("doc_id")

  /** Incremental near-dup TEXT dedup against a frozen SimHash store
    * ([[TextOps.serveSimhashDedup]] — q185's story on the text lens,
    * ONE shared serve core with the media path:
    * [[graft.operators.Hamming.serveDedupCore]]): history's
    * fingerprints persist once (~16 bytes/doc however long the texts),
    * the batch sketches, band-probes the store, and each doc reports
    * dup_of = min matching store id (history wins over within-batch)
    * or is_fresh. Law-by-oracle: brute-force all-pairs replay. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q192" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-simstore-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writeSimhashStore(d.filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text", path)
    }
    TextOps.serveSimhashDedup(s, path, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", maxDist = 3)
      .orderBy("doc_id")
  }

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
  private def q193(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SimhashStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q193" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-simstream-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
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
  }

  /** q193's chain + a THIRD round with a retention fold between —
    * [[graft.streaming.SimhashStream.foldSimhash]] compacts batches
    * b ≤ 2 into one snapshot between rounds 2 and 3, and the oracle
    * has NO idea (read-invisibility through the `b < 3` fence — the
    * q187/q167/q150 discipline on the text fingerprint index). Store
    * chain built once per JVM; round 3 serves fresh per rep. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SimhashStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q194" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-simfold-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      SimhashStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", path)
      SimhashStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", maxDist = 3, path, batchId = 1L)
      SimhashStream.applyBatch(d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", maxDist = 3, path, batchId = 2L)
      SimhashStream.foldSimhash(s, path, "doc_id", upTo = 2L)
    }
    val served3 = TextOps.serveSimhashDedup(s, path,
        d.filter(col("doc_id") % 8 === 7),
        "doc_id", "text", maxDist = 3, batchCut = Some(3L))
      .withColumn("b", lit(3L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("doc_id"),
        col("dup_of"), col("is_fresh"))
      .unionByName(served3.select(col("b"), col("doc_id"),
        col("dup_of"), col("is_fresh")))
      .orderBy("b", "doc_id")
  }

  /** NEAR-DUP text decontamination ([[TextOps.simhashLeaks]]) — q188's
    * story on the text lens, completing the decontamination matrix:
    * the eval set's SimHash fingerprints persist as the benchmark
    * index (doc_id % 50 = 0 plays the benchmark) and every training
    * doc within Hamming ≤ 3 is flagged with its CLOSEST eval match and
    * the count of distinct eval docs it leaks — a paraphrase-lite
    * rewording that defeats gram-level span checks while flipping few
    * fingerprint bits is exactly what this catches. Within-batch
    * matches deliberately not consulted. */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q195" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-simbench-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writeSimhashStore(d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", path)
    }
    TextOps.simhashLeaks(s, path, d.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text", maxDist = 3)
      .orderBy("doc_id")
  }

  /** Store-backed INCREMENTAL near-dup decontamination — q177's
    * arriving-eval-sets story on the SimHash lens: the first benchmark
    * seeds the fingerprint store (b=0), a later one absorbs under its
    * own b=1 ([[TextOps.appendSimhash]], idempotent dynamic
    * overwrite), and every training doc is checked against the
    * ACCUMULATED union — both eval sets must bite. Completes the
    * decontam matrix's incremental column for the near-dup-text lens
    * (gram store q177 / semantic epochs q156-q158 already have
    * theirs). */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q202" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-simbench2-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writeSimhashStore(d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", path)
      TextOps.appendSimhash(
        TextOps.simhash(d.filter(col("doc_id") % 50 === 7),
          "doc_id", "text"),
        "doc_id", path, batchId = 1L)
    }
    TextOps.simhashLeaks(s, path,
        d.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 7),
        "doc_id", "text", maxDist = 3)
      .orderBy("doc_id")
  }

  /** Duplicate-heavy text near-dup clusters — q189's story on the
    * SimHash lens, oracled end-to-end WITH mega-clusters planted: 10%
    * of the corpus collapses onto 8 boilerplate texts (the template-
    * chrome/empty-page regime where the uncollapsed banded join melts
    * — 26× at the 10× simhashskew storm, docs/SCALE.md), the rest
    * keep their real text. Clusters ride [[graft.operators.Hamming
    * .sparseEdges]] (star within identical-fingerprint groups +
    * rep-level near-dup edges — linear where all-pairs is quadratic);
    * the oracle re-derives the skewed corpus in SQL, brute-forces the
    * pair graph and closes it with the recursive-CTE reachability. */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 7,
        concat(lit("template chrome "),
          expr("repeat(concat('banner', CAST(doc_id % 8 AS STRING), ' '), 12)")))
        .otherwise(col("text")).as("text"))
    TextOps.simhashDedupClusters(d, "doc_id", "text", maxDist = 3)
      .orderBy("doc_id")
  }

  /** Corpus-wide boilerplate segment removal ([[TextOps
    * .dropHotSegments]]): consecutive 10-token segments whose exact
    * text occurs in ≥ 3 distinct documents are chrome (the
    * CCNet/RefinedWeb line-frequency trick on this corpus's token
    * streams); survivors rebuild in order. Frequency-threshold
    * semantics — keeps a two-doc repeat, kills only corpus-wide
    * boilerplate — where span dedup (q163) cuts any pairwise repeat.
    * One map-combinable aggregation + one co-partitioned join back,
    * no pairwise candidates, no broadcast assumption. */
  private def q197(s: SparkSession, dir: String): DataFrame =
    TextOps.dropHotSegments(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", segLen = 10, minDf = 3)
      .orderBy("doc_id")

  /** Quality-aware keeper selection — the dedup decision a production
    * pipeline ACTUALLY wants: within each near-dup cluster (q191's
    * simhash sparse-CC components) keep the HIGHEST-QUALITY member
    * (q16's composite score; ties to the smallest doc id,
    * deterministic), not the arbitrary min-id copy. The argmax rides
    * the scaled-integer min-struct idiom — quality is a dyadic
    * rational in quarters, so (4 − 4·score)·10¹⁰ + doc_id is exact in
    * both engines and one `min` per cluster picks the keeper. One
    * extra map-combinable aggregate over the cluster table; no new
    * shuffle shape beyond q191's. */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val cl = TextOps.simhashDedupClusters(d, "doc_id", "text", maxDist = 3)
      .select(col("doc_id"), col("cluster_id"))
    val q = TextOps.qualityScore(d, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val keyed = cl.join(q, Seq("doc_id"))
      .withColumn("__k",
        (lit(4.0) - col("quality_score") * 4).cast("long") *
          lit(10000000000L) + col("doc_id"))
    val keepers = keyed.groupBy(col("cluster_id"))
      .agg((min(col("__k")) % 10000000000L).as("keeper_id"))
    keyed.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** Store-backed incremental boilerplate removal ([[TextOps
    * .writeSegmentDf]] / [[TextOps.serveSegmentCut]]): q197's
    * frequency decision made incremental — history's per-segment
    * distinct-doc counts persist under b=0, batch 1's counts absorb
    * under b=1 (counts SUM across batches, so a segment seen once in
    * history and once in batch 1 crosses minDf=2 only through the
    * accumulation), and batch 2 serves fresh per rep against the
    * summed store behind the `b < 2` fence. History-only semantics:
    * the store is the boilerplate authority, within-batch frequency
    * not consulted. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q199" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-segdf-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writeSegmentDf(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", segLen = 10, path, batchId = 0L)
      TextOps.writeSegmentDf(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", segLen = 10, path, batchId = 1L)
    }
    TextOps.serveSegmentCut(s, path, d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", segLen = 10, minDf = 2, batchCut = Some(2L))
      .orderBy("doc_id")
  }

  /** Continuous boilerplate curation — the segment-df store MAINTAINED
    * across crawl batches ([[graft.streaming.SegDfStream]]): batch 1
    * is cut against history's counts (fenced, `src < 1`) and its own
    * per-segment dfs absorb under b=1; batch 2 is then cut against the
    * SUMMED history ∪ batch-1 counts — chrome that only becomes
    * corpus-wide once batch 1 lands starts dying at batch 2, which the
    * oracle replays round by round. Store build + round 1 persist once
    * per JVM; round 2 serves fresh per rep behind the fence. */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SegDfStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q200" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-segdfstream-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
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
  }

  /** q200's chain + a THIRD round with the count-store retention fold
    * between ([[graft.streaming.SegDfStream.foldSegDf]]): partitions
    * b ≤ 2 compact to one snapshot — (segment, src, df) granularity
    * preserved, so the fold is pure partition compaction and every
    * read's (segment, src) dedup + sum sees identical counts. The
    * oracle has NO idea a fold happened. Round 3 serves fresh per
    * rep. */
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SegDfStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q201" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-segdffold-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      SegDfStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", segLen = 10, path)
      SegDfStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", segLen = 10, minDf = 2, path, batchId = 1L)
      SegDfStream.applyBatch(d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", segLen = 10, minDf = 2, path, batchId = 2L)
      SegDfStream.foldSegDf(s, path, upTo = 2L)
    }
    val served3 = TextOps.serveSegmentCut(s, path,
        d.filter(col("doc_id") % 8 === 7),
        "doc_id", "text", segLen = 10, minDf = 2, batchCut = Some(3L))
      .withColumn("b", lit(3L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("doc_id"),
        col("clean_text"), col("n_kept_segments"), col("n_dropped_segments"))
      .unionByName(served3.select(col("b"), col("doc_id"),
        col("clean_text"), col("n_kept_segments"), col("n_dropped_segments")))
      .orderBy("b", "doc_id")
  }

  /** Language-ID heuristic (marker-token argmax). */
  private def q15(s: SparkSession, dir: String): DataFrame =
    TextOps.languageId(Tables.documents(s, dir), "doc_id", "text")
      .select("doc_id", "lang_pred", "lang_score")
      .orderBy("doc_id")

  /** Quality-scoring features + composite score. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Token counting: whitespace + BPE-ish sub-tokens. */
  private def q17(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Whole-document rolling polynomial fingerprint. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    TextOps.docFingerprint(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Winnowed fingerprint set (MOSS-style window minima). */
  private def q19(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowedFingerprints(Tables.documents(s, dir), "doc_id", "text",
        n = 3, w = 4)
      .orderBy("doc_id", "fingerprint")

  private val DimStart = "1941-03-21"
  private val DimEnd = "2051-03-20"

  /** Generated dim-date, Gregorian columns (oracle-checkable half). */
  private def q20(s: SparkSession, dir: String): DataFrame =
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
      .orderBy("miladi")

  /** Generated dim-date, full Jalali shape. DuckDB has no Persian
    * calendar, but over the reference artifact's span (1320–1429) the
    * Jalali leap pattern is exactly the arithmetic 33-year cycle with
    * leap residues {1,5,9,13,17,22,26,30} and 1320 ≡ 0 (mod 33) a cycle
    * start (verified against all 40,151 xlsx rows), so the oracle is
    * closed-form integer SQL. Also pinned by JalaliSpec's ICU4J sweep
    * and GoldenDimDateSpec. */
  private def q21(s: SparkSession, dir: String): DataFrame =
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
      .orderBy("miladi")

  /** S3 JSON envelope → flatten, round-tripped through nation. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Multimodal: binary media column + metadata features. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    Multimodal.byteFeatures(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text", "text"))
      .orderBy("media_id")

  /** Multimodal: frame sampling over binary payloads (stride 2 over
    * 100-byte blocks). */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text", "text"),
        blockSize = 100, stride = 2)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .withColumn("frame_bytes", col("frame_bytes").cast("long"))
      .orderBy("media_id", "frame_idx")

  /** Tumbling 15-minute event-time windows over the event stream (the
    * batch shape of the reference's micro-batch cadence, SURVEY.md §2.9;
    * streaming form in graft.streaming). */
  private def q25(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", expr("(ts DIV 1000) DIV 900000000"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .withColumn("window_start_us", col("bucket") * lit(900000000L))
      .select("bucket", "window_start_us", "event_type", "n_events", "sum_value")
      .orderBy("bucket", "event_type")

  /** Analytic window functions per user (row_number/lag/lead/running
    * sum) — SURVEY.md §2.11 engine-completeness surface. */
  private def q26(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** ROLLUP aggregation (grouping-sets surface). */
  private def q27(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("cohort", (col("user_id") % 10).cast("long"))
      .rollup(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("cohort"))

  /** CUBE grouping sets (all 4 combinations of the two dimensions). */
  private def q48(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("cohort", (col("user_id") % 10).cast("long"))
      .cube(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("cohort"))

  /** UNPIVOT/melt: wide metric columns to (metric, val) rows. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 500 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  /** LOCF resampling: hourly as-of snapshots of each sampled user's
    * irregular event stream (grid ⋈asof observations; see Resample). */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .filter(col("user_id") % 25 === 0)
      // asofJoin determinism contract: unique (key, time)
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("value"))
    Resample.resampleLocf(obs, "user_id", "ts_us", Seq("value", "ts_us"),
        stepUs = 3600L * 1000000L)
      .orderBy("user_id", "grid_ts")
  }

  /** JSON scalar extraction from the event payload column. */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") >= 50)
      .orderBy("event_id")

  /** Revenue by part brand × supplier nation: the full-star aggregation
    * over the remaining dimension tables (part, supplier). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name").as("supp_nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
        ).cast("double").as("revenue"))
      .orderBy("p_brand", "supp_nation")

  /** Per-vector statistics over the embedding column (array math with
    * engine-exact sequential folds). */
  private def q30(s: SparkSession, dir: String): DataFrame =
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
      .orderBy("vec_id")

  /** Near-dup clusters (LSH pairs → connected components → keeper per
    * cluster) over the document corpus. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupClusters(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("doc_id")

  /** Soft dedup ([[TextOps.softDedupWeights]]): q31's near-dup
    * clusters turned into inverse-cluster-size document weights —
    * keep the duplicates, downweight them to ~one document of mass
    * per cluster. All-integer (ppm) outputs; the oracle replays the
    * clustering and the weight arithmetic. */
  private def q136(s: SparkSession, dir: String): DataFrame =
    TextOps.softDedupWeights(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("doc_id")

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
  private def q137(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Closed-loop curation — the WHOLE training-data pipeline as one
    * certified query, each stage an operator this library already
    * serves on its own:
    *
    *   crawl (embedded docs, doc_id % 10 ≠ 7 — the %10=7 slice is the
    *     held-out benchmark that must never enter the corpus)
    *   → exact dedup ([[TextOps.exactDedup]]: min-id keeper per
    *     normalized text)
    *   → ONE frozen semantic model (q97's integer k-means over the
    *     survivors' embeddings) serving every semantic stage — the
    *     production discipline: train once, serve everywhere
    *   → SemDeDup ([[Similarity.semPairsWithin]] over that model's own
    *     assignment: capped within-cluster integer pairs, drop the
    *     prototype)
    *   → benchmark decontamination ([[Similarity.semPairsAcross]]:
    *     the benchmark frozen-routed through the SAME centroids, probed
    *     against the surviving members — q124's pair decision)
    *   → quality filter (q122's NB classifier trained on the surviving
    *     corpus's doc_id % 4 ≠ 3 slice, scored over ALL survivors; keep
    *     docs whose prediction agrees with the label — the CCNet shape)
    *   → BPE-budget mix (q116's 32-merge model trained on the curated
    *     corpus, q118's per-source budget take in learned-BPE tokens)
    *   → leakage-safe split (q128: whole clusters of the one model →
    *     train/val/test, so near-duplicates can never straddle splits).
    *
    * The oracle replays every stage in one statement — dedup keepers,
    * the k-means chain, both pair tails, the NB model, the unrolled
    * BPE chain, the budget window and the split cuts — so the loop is
    * certified END TO END, not stage by stage. Output: one row per
    * curated document with its full lineage. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
    val crawl = d.join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .filter(col("doc_id") % 10 =!= 7)
    // keeper ids cut once (round-20): e1's build, d2 and (through d2)
    // the across-cap and docs3 subtrees all consume d1, and every
    // re-execution replayed the whole normalize+md5+aggregate dedup —
    // the block is a slim id list
    val d1 = TextOps.exactDedup(crawl, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
      .localCheckpoint(eager = true)
    val e1 = e.join(d1.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = true) // one model, five consumers
    val (assign, cents) = Clustering.kmeansQuantized(e1, "vec_id",
      "embedding", KmeansK, KmeansIters, keepVec = true)
    // overflow-fence dimension from the trained centroids (driver-side
    // already): every vector here — corpus and bench — comes from the
    // one embeddings table the model was trained on, so the pair
    // fences need no one-row peek jobs over the composed plans
    val semDim = cents.headOption.map(_._2.length)
    val sdrop = Similarity
      .semPairsWithin(assign, SemThrNum, SemThrDen, SemCap, SampleSeed,
        knownDim = semDim)
      .select(col("drop_id").as("doc_id")).distinct()
    // within-dedup survivors cut once (round-20): both the across-pair
    // members side and docs3 consume d2 — another slim id list
    val d2 = d1.join(sdrop, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    val members = assign.join(d2.select(col("doc_id").as("id")), Seq("id"))
    val bench = Clustering.assignToCentroidsKeepVec(
      e.filter(col("vec_id") % 10 === 7), "vec_id", "embedding", cents)
    val contaminated = Similarity
      .semPairsAcross(members, bench, SemThrNum, SemThrDen, SemCap,
        SampleSeed, knownDim = semDim)
      .select(col("store_id").as("doc_id")).distinct()
    val docs3 = d.join(d2.join(contaminated, Seq("doc_id"), "left_anti"),
        Seq("doc_id"))
      .localCheckpoint(eager = true) // NB + BPE both re-scan this corpus
    val pred = TextOps.nbTrainPredict(docs3.filter(col("doc_id") % 4 =!= 3),
      docs3, "doc_id", "lang", "text")
    val d4 = docs3.join(pred, Seq("doc_id"))
      .filter(col("pred") === col("lang"))
      .select("doc_id", "source", "lang", "text")
      .localCheckpoint(eager = true) // the BPE model trains + encodes it
    val merges = TextOps.bpeLearnMerges(d4, "text", BpeMerges, BpeMaxWords)
    val counted = TextOps.bpeTokenCounts(d4, "doc_id", "text", merges)
      .join(d4.select("doc_id", "source", "lang"), Seq("doc_id"))
    val d5 = Sampling.budgetTake(counted, "source", "doc_id", "bpe_tokens",
      BpeMixDefaultBudget, BpeMixBudgets, SampleSeed)
    val split = Sampling.splitAssign(
      assign.select(col("id").as("doc_id"), col("cluster")), "cluster",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), SampleSeed)
    d5.join(split.select("doc_id", "cluster", "split"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("cluster").cast("int").as("cluster"), col("split"),
        col("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Distinct aggregation (count distinct + multi-agg). */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy("event_type")

  /** Sessionization: a gap of AT LEAST 1 hour of event time starts a
    * new session per user; one row per session. `>=` (split at exactly
    * gap) is Spark `session_window` semantics — a session spans
    * [first, last + gap), so an event landing exactly on last + gap
    * falls outside — which makes this batch shape and the streaming
    * EventTimeStreams.sessionize equal by law (EventTimeStreamsSpec). */
  private def q33(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Set operations: users seen in clicks INTERSECT purchases, minus
    * users who hit errors (EXCEPT) — distinct-set semantics both
    * engines share. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(t: String, minValue: Double) =
      ev.filter(col("event_type") === t && col("value") > minValue)
        .select(col("user_id"))
    val engaged = users("click", 95).intersect(users("purchase", 95))
    engaged.except(users("error", 99)).orderBy("user_id")
  }

  /** Pivot: event counts per user across event-type columns. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
      .orderBy("user_id")
  }

  /** Multi-table hyperplane-LSH ANN (scale path). Fully oracle-checked:
    * the bucket function is deterministic splitmix64 integer math
    * (ArrayMath.planeCoeff), transliterated to DuckDB HUGEINT SQL, so
    * the oracle reproduces the exact candidate sets and rerank — not
    * just a rows-only count. Recall is additionally spec-gated against
    * brute force in SimilaritySpec. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10, nPlanes = 4, nTables = 8)
      .orderBy("query_id", "rank")
  }

  /** IVF ANN (scale path). iters = 0 keeps the quantizer deterministic
    * and SQL-expressible (seed centroids = 16 smallest vec_ids) so the
    * DuckDB oracle replays assignment, probing, and rerank exactly; the
    * Lloyd-trained variant is recall-gated in SimilaritySpec. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4,
        iters = 0)
      .orderBy("query_id", "rank")
  }

  /** AS-OF join: each click matched to the user's latest signup event
    * at-or-before its time (point-in-time lookup against a versioned
    * dimension — DuckDB verifies with its native ASOF JOIN). */
  private def q38(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Skew-guarded as-of join: q38's semantics via asofJoinBucketed with
    * 1-day time buckets, so one hot user's history shards across tasks
    * instead of serializing into a single partition. Same oracle as q38
    * (output is defined to be identical). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
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
  }

  private val SampleSeed = "graft-mix"
  private val SampleRate = 0.1

  /** Deterministic hash-Bernoulli sample of events: membership is a
    * pure function of (event_id, seed) — reproducible across runs,
    * engines, and re-partitionings; shuffle-free filter. */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(
        Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        "event_id", SampleRate, SampleSeed)
      .select("event_id", "user_id", "event_type", "value", "ts_us")
      .orderBy("event_id")

  /** Exact stratified sample with per-stratum training-mix weights:
    * 20% of clicks, 5% of everything else, exact quota per stratum. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        stratumCol = "event_type", idCol = "event_id",
        defaultFrac = 0.05, fracs = Map("click" -> 0.2), seed = SampleSeed)
      .select("event_id", "user_id", "event_type", "value", "ts_us")
      .orderBy("event_id")

  /** TF-IDF top-5 terms per document (rounded-score ranking). */
  private def q43(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank")

  /** Benchmark-contamination check: every 100th document plays the
    * "eval suite"; each doc scores the fraction of its 3-gram shingles
    * found anywhere in that probe set (broadcast — a benchmark is tiny
    * next to a pre-training corpus). */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.contamination(docs, "doc_id", "text",
        probes = docs.filter(col("doc_id") % 100 === 0), n = 3)
      .orderBy("doc_id")
  }

  /** Sequence packing: shard by doc_id % 8, contiguous-fill bins with a
    * 2048-token budget over whitespace token counts. */
  private def q45(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(
        TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
            col("ws_tokens")),
        shardCol = "shard", idCol = "doc_id", tokensCol = "ws_tokens",
        budgetTokens = 2048L)
      .orderBy("doc_id")

  /** Exact grouped quantiles (R-7 interpolation, the convention Spark's
    * percentile and DuckDB's quantile_cont share) — via the two-phase
    * histogram→rank-select path ([[Stats.exactGroupedQuantilesScalable]]):
    * same exact values as `percentile`, but no per-group value
    * buffering, so a hot event type at 100× stays a hash aggregate
    * instead of a single-task sort. */
  private def q46(s: SparkSession, dir: String): DataFrame =
    Stats.exactGroupedQuantilesScalable(Tables.events(s, dir), "event_type",
        "value", Seq(0.5, 0.9, 0.99))
      .orderBy("event_type")

  /** Fixed-width value histogram per event type (sparse buckets). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    Stats.histogram(Tables.events(s, dir), "event_type", "value", 10.0)
      .orderBy("event_type", "bucket_lo")

  /** Bucketized range join: sampled lineitem price points against part
    * price±size intervals (equi-join on buckets, never a cross product). */
  private def q39(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space
    * analogue of q11's MinHash pairs, in the corpus-size-safe banded
    * form: 16 bands of ⌈log2 n⌉ hyperplanes each (key space per band
    * scales with the corpus, so the candidate self-join stays O(n)
    * instead of Θ(n²/2^p) on a fixed key space), candidates agree on
    * any band, exact rounded-cosine verify at ≥ 0.35. Fully
    * oracle-checked via the same splitmix64 bucket transliteration as
    * q36 plus an integer bit-length replay of the auto-sizing. */
  private def q51(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDedupPairsAuto(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.35, nTables = 16)
      .orderBy("id_a", "id_b")

  /** PII scrub over deterministic contact strings built from the
    * customer fixture (name-derived email + an 8-digit account run):
    * emails and long digit runs are counted, then redacted. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(lower(col("c_name")), lit("@example.com ph "),
      lpad(((col("c_custkey") * 7919L) % 100000000L).cast("string"), 8, "0"),
      lit(" "), col("c_mktsegment"))
    TextOps.redactPii(
        Tables.customer(s, dir).select(col("c_custkey"), contact.as("contact")),
        "c_custkey", "contact")
      .orderBy("c_custkey")
  }

  /** Canonical text normalization (the exactDedup canon, standalone):
    * certifies the string pipeline byte-for-byte across engines. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm_text"))
      .orderBy("doc_id")

  /** Per-document 3-gram repetition signal. */
  private def q54(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Context-window chunking: 32-token chunks overlapping by 8. */
  private def q55(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")

  /** Winsorize event values to each type's [p05, p95] band. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    Stats.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", pLo = 0.05, pHi = 0.95)
      .select("event_id", "event_type", "value", "clipped")
      .orderBy("event_id")

  /** X3 first-array-element field extract as a driver-oracled query
    * (the reference's Python row loop over `categories[0]['id']`,
    * mabna_tables_create.py:113-117). Each customer's 'F'-status orders
    * are packed into a sorted array-of-structs; [[JsonFlatten
    * .firstElementField]] extracts the earliest order's key and date.
    * Customers whose orders all miss the filter get an EMPTY array —
    * `try_element_at` returns NULL, the reference's KeyError-guard
    * branch. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** §2.9 end-to-end incremental refresh as ONE driver query — the
    * reference's update loop (mabna_tables_update.py:383-410) composed
    * from its operators: the target starts as the first 5 000 events,
    * its watermark is PROBED from the data (A1, a real driver action,
    * exactly as the reference queries `max(version)` before each fetch),
    * the source is filtered past it (F3), and target ∪ delta is
    * keep-last-deduped (W1). The oracle is the replay ≡ full-refresh
    * law: the merged result must hash-equal a full keep-last dedup over
    * the whole source. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts")
    val target = src.filter(col("event_id") <= 5000L)
    val wm = Incremental.maxWatermark(target, "event_id")
    val delta = Incremental.newerThan(src, "event_id", wm)
    Dedup.keepLast(target.unionByName(delta),
        Seq("user_id", "event_type"), Seq(col("ts_us"), col("event_id")))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** Multimodal ingest end-to-end: the sf directory's parquet files
    * themselves, read as opaque media via Spark's `binaryFile` source,
    * flow through [[Multimodal.mediaProfile]] — byte features, the
    * codegen'd decode kernel (parquet is not BMP/WAV, so the real
    * parser's opaque-payload fallback applies: pseudo-dimensions from
    * pure byte-length arithmetic, which is exactly what lets DuckDB's
    * `read_blob` oracle reproduce them from file sizes), and the
    * stride-4 / 4 KiB frame-sample aggregate — all as columns of ONE
    * select over ONE scan of the blob source. The round-8 shape (four
    * scans of the binaryFile source re-joined on media_id) paid 4× the
    * blob I/O, and on a media corpus the bytes are the entire cost;
    * plan-pinned to a single FileScan now. File identity is the
    * engine's cross-engine hash60 of the basename. Ten files —
    * metadata scale; at 100 TB the same plan fans out one file per
    * task with zero joins and zero shuffles before the final sort. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val media = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(dir)
      .select(
        regexp_extract(col("path"), "[^/]+$", 0).as("file_name"),
        col("content").as("media"))
      .select(col("file_name"),
        conv(substring(md5(col("file_name")), 1, 15), 16, 10).cast("long")
          .as("media_id"),
        col("media"),
        struct(lit("parquet").as("format"),
          octet_length(col("media")).cast("long").as("n_bytes")).as("meta"))
    Multimodal.mediaProfile(media, blockSize = 4096, stride = 4,
        passthrough = Seq("file_name"))
      .select(col("file_name"), col("media_id"), col("format"), col("n_bytes"),
        col("width"), col("height"), col("n_frames"), col("frame_bytes_total"))
      .orderBy("file_name")
  }

  /** Training-mix corpus prep end-to-end as ONE driver query — the
    * LLM-pipeline analogue of q58's incremental loop: a staged second
    * crawl (byte-identical copies of every 10th doc at doc_id+100000,
    * the classic re-crawl duplicate) is unioned with the corpus, then
    * [[TextOps.trainingMixChunks]] runs quality gate (= 1.0) → language
    * keep (en) → keep-first exact dedup (every re-crawl copy collapses
    * onto its original; min doc_id wins) → 32/8 context-window chunking.
    * One shuffle end to end; every stage is the same expression the
    * individually-oracled q16/q15/q09/q55 queries certify. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val recrawl = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))
    TextOps.trainingMixChunks(docs.unionByName(recrawl), "doc_id", "text",
        minQuality = 1.0, keepLangs = Seq("en"), chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")
  }

  private val MixDefaultBudget = 800L
  private val MixBudgets = Map("src0" -> 5000L, "src1" -> 0L)

  /** Token-budget mix: per-source token budgets (the "N tokens of web,
    * M of code" pre-training mix spec) taken in deterministic hash
    * order via the two-phase skew-proof prefix take — 800 tokens of
    * every source, 5000 of src0, none of src1. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("ws_tokens",
        size(TextOps.tokens(col("text"))).cast("long"))
    Sampling.budgetTake(docs, "source", "doc_id", "ws_tokens",
        MixDefaultBudget, MixBudgets, SampleSeed)
      .select("doc_id", "source", "ws_tokens")
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle: every document's 1-based position in
    * the seeded-hash training order, computed without a global sort
    * (bucket offsets from a tiny histogram + rank within bucket). */
  private def q62(s: SparkSession, dir: String): DataFrame =
    Sampling.shufflePositions(Tables.documents(s, dir).select("doc_id"),
        "doc_id", SampleSeed)
      .select("doc_id", "shuffle_pos")
      .orderBy("shuffle_pos")

  /** Sketch accuracy audit: HLL distinct users and approximate median
    * value per event type, certified within 5% of their exact
    * counterparts (the flags oracle as constant TRUE; the sketch path
    * is the constant-memory 100 TB form of both aggregates). */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Stats.sketchAccuracy(Tables.events(s, dir), "event_type",
        distinctCol = "user_id", valueCol = "value")
      .orderBy("event_type")

  /** Skew-salted join: lineitem ⋈ supplier on suppkey via
    * [[Shuffles.saltedEquiJoin]] (8-way salt, supplier replicated 8×),
    * aggregated to per-nation revenue. The oracle is the PLAIN join —
    * green means the salting rewrite is semantics-preserving, promoting
    * the previously spec-only operator to driver-oracle coverage. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Heavy-hitter tokens per source: the custom Misra-Gries mergeable
    * aggregate (k=100 counters) audited in-query against exact counts —
    * every token above 4% of its source's token mass, with the sketch's
    * completeness flag (provably TRUE since 25 ≤ k). */
  private def q65(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyTokens(Tables.documents(s, dir), "source", "text",
        k = 100, reportFrac = 25)
      .orderBy("source", "item")

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
  private def q66(s: SparkSession, dir: String): DataFrame = {
    // session-unique tag: the warehouse DIRECTORY outlives the in-memory
    // catalog, so a name reused across sessions would hit
    // LOCATION_ALREADY_EXISTS on the second session's CREATE; within one
    // session the tableExists guard reuses the bucketed build
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      dir + s.sparkContext.applicationId)) % 1000000).toString
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
  }

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
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-layout-events-$tag"
    builtOnce(path) {
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
  }

  /** Bloom-prefiltered semi join: lineitem reduced to lines of URGENT
    * orders. The probe keys build a [[Blooms]] bloom filter IN-PLAN (a
    * scalar subquery — no driver collect); `might_contain` prunes the
    * big side at the scan, and the exact left-semi join above it
    * removes the bloom's false positives, so the result is EXACTLY the
    * plain semi join — which is what the oracle runs. At 100 TB the
    * plain semi join shuffles every lineitem row; the bloom (a few MB,
    * broadcast) lets only ~20% of rows plus an ~3% false-positive tail
    * reach the shuffle. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
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
  }

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
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-layout-zorder-$tag"
    builtOnce(path) {
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
  }

  /** SCD2 history build ([[Cdc.scd2]]): the events log per user,
    * consecutive equal event_types collapsed into effective-dated
    * versions (valid_from/valid_to/is_current). The reference keeps
    * only latest state (replace / append+dedup,
    * mabna_tables_update.py:271-280) — this is the history the
    * warehouse loses, built in ONE hash shuffle: all three window
    * passes (change-detect lag, dating lead, version row_number) share
    * the user_id partitioning, pinned in PlanContractSpec. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    Cdc.scd2(Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        Seq("user_id"), "ts_us", Seq(col("event_id")), Seq("event_type"))
      .withColumnRenamed("valid_from", "valid_from_us")
      .withColumnRenamed("valid_to", "valid_to_us")
      .orderBy("user_id", "version")
  }

  /** Snapshot diff ([[Cdc.snapshotDiff]]): per-(user,event_type) last
    * value in the first three days vs the last three days of the
    * month, every key classified inserted/deleted/changed/unchanged.
    * Both snapshots are keep-last windows hash-partitioned on the key,
    * so the full-outer join REUSES their partitioning — the whole diff
    * costs two exchanges, the join itself none (pinned). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val ord = Seq(col("ts_us"), col("event_id"))
    // slice bounds in epoch µs: 2024-01-04 / 2024-01-28 UTC
    val t1 = 1704326400000000L
    val t2 = 1706400000000000L
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts_us"), col("event_id"))
    val oldSnap = Dedup.keepLast(ev.filter(col("ts_us") < t1), keys, ord)
    val newSnap = Dedup.keepLast(ev.filter(col("ts_us") >= t2), keys, ord)
    Cdc.snapshotDiff(oldSnap.drop("ts_us", "event_id"),
        newSnap.drop("ts_us", "event_id"), keys, Seq("value"))
      .orderBy("user_id", "event_type")
  }

  /** Quantize-shortlist-rerank ANN ([[Similarity.quantizedTopK]]) with
    * an in-query recall audit: the same query set as q12 retrieved via
    * int8-quantized scores (4× scan bandwidth of the f32 corpus — the
    * 100 TB embedding-store economics), shortlist 32, exact rerank to
    * top-10, then each hit checked against the exact brute-force top-10
    * (q63-style certification — the exact branch is the baseline a
    * production run would drop). `hit` false rows are exactly the
    * recall loss the shortlist width buys back. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val approx = Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
      k = 10, shortlist = 32)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    approx.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("__hit"), lit(false)))
      .select("query_id", "rank", "neighbor_id", "cosine", "q_rank", "hit")
      .orderBy("query_id", "rank")
  }

  /** Small-file compaction ([[Layout.compact]]): events shattered into
    * 64 micro-batch-sized files (the reference's every-15-minutes
    * append layout, mabna_tables_update.py:58-59), compacted by a
    * shuffle-free coalesce rewrite sized from the layout's actual
    * bytes, then aggregated. Oracle = the same aggregate on the flat
    * table: green proves the rewrite preserved every row. The plan pin
    * asserts the compaction plan has NO Exchange — compaction must be
    * read-concat-write, never a shuffle. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      dir + s.sparkContext.applicationId)) % 1000000).toString
    val tmp = System.getProperty("java.io.tmpdir")
    val small = s"$tmp/graft-compact-small-$tag"
    val compacted = s"$tmp/graft-compact-out-$tag"
    builtOnce(small) {
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(64) // simulate 64 micro-batch appends
        .write.mode("overwrite").parquet(small)
    }
    builtOnce(compacted) {
      Layout.compact(s, small, compacted, targetBytes = 1L << 20)
    }
    s.read.parquet(compacted)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      .orderBy("event_type")
  }

  /** Incremental aggregate maintenance ([[Incremental.aggState]] /
    * mergeAggState): per-type stats built as two half-month partial
    * states merged WITHOUT rescanning raw history — sum-of-sums on
    * decimal state is exact and associative. Oracle = the straight
    * full-table aggregate, so green certifies merge ≡ recompute. At
    * 100 TB this is the difference between O(batch) and the
    * reference's O(table) per 15-minute update. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
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
  }

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
  private def q76(s: SparkSession, dir: String): DataFrame = {
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
  }

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
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      dir + s.sparkContext.applicationId)) % 1000000).toString
    val storePath = s"${System.getProperty("java.io.tmpdir")}/graft-sigstore-$tag"
    val parts = 16 // fixed row budget per partition; grows with corpus
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 8 === 0
    builtOnce(storePath) {
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
  }

  /** Corpus vocabulary ([[Vocab.vocabulary]]): token counts over
    * `documents`, sub-`minCount` tail dropped, dense 1-based ids in
    * (cnt DESC, token ASC) order. The global rank is DECOMPOSED —
    * cumulative offsets over a (cnt, token-prefix) bucket histogram +
    * in-bucket row_number — so no task ever windows the whole
    * vocabulary; the only single-partition window runs over the
    * metadata-sized histogram (pinned in PlanContractSpec). Oracle =
    * the naive single-window row_number, certifying the decomposition
    * law end-to-end. */
  private def q77(s: SparkSession, dir: String): DataFrame =
    Vocab.vocabulary(Tables.documents(s, dir), "text", minCount = 2L)
      .orderBy("vocab_id")

  /** Incremental vocabulary maintenance ([[Vocab.tokenCountState]] /
    * mergeTokenCountState / vocabularyFromState): history and an
    * arriving batch are counted SEPARATELY, the mergeable states are
    * summed, and only the merged state — vocabulary-sized, not
    * corpus-sized — is re-ranked. Token counting runs once per slice;
    * history text is never recounted on refresh (q74/q76's state
    * discipline applied to q77's operator). Oracle = the from-scratch
    * recount + naive global rank: the merge ≡ recompute law end-to-end. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 3 === 0
    val history = Vocab.tokenCountState(docs.filter(!isNew), "text")
    val batch = Vocab.tokenCountState(docs.filter(isNew), "text")
    Vocab.vocabularyFromState(
        Vocab.mergeTokenCountState(Seq(history, batch)), minCount = 3L)
      .orderBy("vocab_id")
  }

  /** Deterministic train/val/test split assignment ([[Sampling
    * .splitAssign]]): a pure projection — every id's split is a
    * function of its engine-portable hash alone, so the assignment
    * survives re-partitioning, retries, corpus growth, and re-reads
    * from any engine (the DuckDB oracle reproduces it bit-for-bit from
    * the same md5 arithmetic). No shuffle anywhere. */
  private def q80(s: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), SampleSeed)
      .orderBy("doc_id")

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
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q78" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-$tag"
    val store = graft.operators.TableStore(s, root)
    val ev = Tables.events(s, dir).withColumn("ts_us", tsUs)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    val keys = Seq("user_id", "event_type")
    val ord = Seq(col("ts_us"), col("event_id"))
    val batches = Seq(
      ev.filter(col("event_id") <= 4000L),
      ev.filter(col("event_id") > 4000L && col("event_id") <= 7000L),
      ev.filter(col("event_id") > 7000L))
    val compactedRoot = s"$root/prod/events_compacted"
    if (!store.exists("prod", "events")) {
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
          s"$compactedRoot/event_type=$p", 8L * 1024 * 1024)
      }
    }
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
  }

  /** Duplicated-passage removal ([[TextOps.removeDuplicatedBlocks]]):
    * repeated 16-token blocks keep only their first corpus occurrence,
    * documents rebuilt from surviving blocks. The passage-level sibling
    * of q09's doc-level exact dedup — sf0.01 has ~70 repeated block
    * texts across otherwise-distinct documents. */
  private def q81(s: SparkSession, dir: String): DataFrame =
    TextOps.removeDuplicatedBlocks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", blockTokens = 16)
      .orderBy("doc_id")

  /** Per-source frequency cap ([[Sampling.stratumCap]]): at most N
    * documents per source, smallest (hash, id) kept — the "no single
    * domain dominates the corpus" pass. Overrides exercise all paths:
    * src3 capped above its size (keeps everything), src7 capped at 0
    * (drops entirely), everyone else at the default. */
  private def q82(s: SparkSession, dir: String): DataFrame =
    Sampling.stratumCap(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", defaultCap = 10L,
        caps = Map("src3" -> 100L, "src7" -> 0L), seed = SampleSeed)
      .orderBy("doc_id")

  /** Incremental IVF maintenance ([[Similarity.appendToIvfIndex]]):
    * the index is built (seeded centroids, iters=0 — q37's
    * deterministic convention) over history only, persisted, and the
    * batch (vec_id % 10 == 0) is APPENDED by assigning it to the frozen
    * centroids — no retraining, no history rewrite. Queries probe the
    * updated index. Oracle assigns everything in one pass against the
    * same centroids: append-then-probe ≡ assign-all-at-once, the exact
    * law frozen-centroid assignment guarantees. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q83" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-$tag"
    val e = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 10 === 0
    builtOnce(path) {
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(e.filter(!isNew), "vec_id", "embedding",
          nCentroids = 16, iters = 0), path)
      Similarity.appendToIvfIndex(s, path, e.filter(isNew),
        "vec_id", "embedding")
    }
    Similarity.probeIvfIndex(Similarity.readIvfIndex(s, path),
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  /** Grouped top-k ([[Stats.topKPerGroup]]): the 3 highest-quality
    * documents per source — the per-domain shortlist shape (best docs
    * per site, top products per category). Quality is the oracled q16
    * surface; rank order ends in doc_id so the kept set is a total
    * order. The plan is the scale story: WindowGroupLimit pre-prunes
    * each map task to its local top-3 before the exchange (pinned). */
  private def q84(s: SparkSession, dir: String): DataFrame =
    Stats.topKPerGroup(
        TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text",
            passthrough = Seq("source"))
          .select("doc_id", "source", "quality_score"),
        "source", 3, Seq(col("quality_score").desc, col("doc_id")))
      .orderBy("source", "rank")

  /** BM25 retrieval ([[TextOps.bm25TopK]]): every 100th document's
    * first five tokens become a query; top-10 documents per query by
    * exact decimal-summed BM25. The query doc itself ranking first is
    * expected (it contains its own terms) and deterministic. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Indexed BM25 ([[TextOps.bm25TopKIndexed]]): q85 against a
    * persisted posting index — the query batch's term-hash partition
    * set prunes the postings/dfreq read to matching directories.
    * Same oracle as q85: the index changes what is READ, never what
    * is computed. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q86" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writePostingIndex(docs, "doc_id", "text", path, parts)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Incremental posting-index maintenance
    * ([[TextOps.appendToPostingIndex]]): q86's index built from the
    * doc_id % 4 != 0 three-quarters of the corpus, then the % 4 == 0
    * batch APPENDED — its postings and per-batch dfreq rows land only
    * in the batch's term-hash partitions, and corpus stats merge by
    * (n, dl_sum, dl_cnt) summation — and the same query batch
    * retrieves over the union. Same oracle as q85/q86 (the full
    * direct-BM25 replay): index maintenance changes WHEN rows are
    * written, never what is computed. The one persisted store that
    * was still overwrite-only now has the same incremental discipline
    * as the signature store (q75) and the IVF index (q83). */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q87" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-incr-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", path, parts)
      TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", path, parts)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Store retention in the lifecycle loop ([[Layout.compactStore]]):
    * q87's append discipline run to its steady state — a build plus
    * three appends shatter every term-hash partition into one file
    * per batch (the reference's 15-minute cadence would add 96/day,
    * mabna_tables_update.py:58-59) — then the store is compacted IN
    * PLACE: trigger is the observable per-partition file count,
    * target file count from actual listed bytes, partition dirs keep
    * their names so the pruned probe layout is untouched. Same oracle
    * as q85/q86/q87: retention changes bytes-on-disk, never a
    * result. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q89" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-compact-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 === 1),
        "doc_id", "text", path, parts)
      Seq(2L, 3L, 0L).foreach(m =>
        TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === m),
          "doc_id", "text", path, parts))
      Layout.compactStore(s, s"$path/postings", 64L * 1024 * 1024, maxFiles = 1)
      Layout.compactStore(s, s"$path/dfreq", 64L * 1024 * 1024, maxFiles = 1)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Multimodal retrieval composition ([[Multimodal.mediaEmbeddings]]
    * → [[Similarity.quantizedTopK]]): the multimodal family (q23/q24/
    * q59) and the ANN family (q12/q72) meeting in ONE pipeline. The sf
    * directory's parquet files are ingested once as opaque blobs
    * (binaryFile), decoded and embedded in a single pass, and the
    * compact (media_id, emb) store is MATERIALIZED — the blob source
    * is read exactly once (q59's pin, by construction) and retrieval
    * never touches bytes again; at 100 TB the blobs are the entire
    * I/O cost and the store is ~8 doubles per object. Retrieval is
    * q72's discipline over the store: int8-quantized shortlist 5,
    * exact rerank to top-3, ids-only shuffles. Every stage is DuckDB-
    * reproducible from read_blob file sizes. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q88" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val store = s"${System.getProperty("java.io.tmpdir")}/graft-mediaemb-$tag"
    builtOnce(store) {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet").load(dir)
        .select(
          conv(substring(md5(regexp_extract(col("path"), "[^/]+$", 0)), 1, 15),
            16, 10).cast("long").as("media_id"),
          col("content").as("media"))
      Multimodal.mediaEmbeddings(media)
        .write.mode("overwrite").parquet(store)
    }
    val e = s.read.parquet(store)
    val queries = e.filter(col("media_id") % 2 === 0)
    Similarity.quantizedTopK(e, queries, "media_id", "emb",
        k = 3, shortlist = 5)
      .orderBy("query_id", "rank")
  }

  /** Store purge ([[TextOps.purgeFromPostingIndex]]): the retraction
    * path of the index lifecycle — build over three quarters of the
    * corpus, append the rest (so the purge spans rows from BOTH
    * batches), then PURGE every doc_id ≡ 3 (mod 5): their posting rows
    * are anti-joined out of only the term-hash partitions the purged
    * docs' terms name, df retracts by appended NEGATIVE contributions
    * into the same pruned partitions (the mergeable-state reader
    * already sums), and one negative (n, dl_sum, dl_cnt) row rebalances
    * the corpus stats. The query batch (doc_id ≡ 0 mod 100, disjoint
    * from the purge set) then retrieves over the index. Oracle: the
    * full direct-BM25 replay over the corpus WITHOUT the purged docs —
    * purge(build(A∪B), B) must read identically to build(A). */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q90" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-purge-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", path, parts)
      TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", path, parts)
      TextOps.purgeFromPostingIndex(s, path, parts,
        docs.filter(col("doc_id") % 5 === 3), "doc_id", "text")
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Priority sampling ([[Sampling.prioritySample]], Duffield–Lund–
    * Thorup): a fixed-size weight-sensitive audit sample of the
    * document corpus, weighted by token count — the k kept rows plus
    * the τ-floored estimator answer any "tokens in slice X" question
    * unbiasedly without rescanning the corpus. Deterministic u from
    * the portable 60-bit hash; priority/τ/estimator are
    * division-and-compare only, so the oracle replays them
    * bit-for-bit. */
  private def q91(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("toks")),
        "doc_id", "toks", k = 25, seed = SampleSeed)
      .orderBy("rank")

  /** ANN recall evaluation: every approximate retrieval arm (q36's
    * LSH, q37's IVF, q72's int8 shortlist-rerank) audited against
    * q12's exact brute force in ONE evaluation table — the index
    * quality regression gate a pipeline runs before swapping a new
    * index build into serving. recall@10 denominates by |queries|·k
    * (an arm that returns fewer than k rows — LSH with sparse buckets
    * — is penalized for the misses, as it should be). The exact side
    * broadcasts (|queries|·k ids — metadata-scale) onto the union of
    * arms, so the audit adds no corpus-sized join; each arm keeps its
    * own already-pinned plan. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val denom = broadcast(queries
      .agg((count(lit(1)) * 10).cast("double").as("__denom")))
    Seq(
      "lsh" -> Similarity.lshTopK(e, queries, "vec_id", "embedding",
        k = 10, nPlanes = 4, nTables = 8),
      "ivf" -> Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4, iters = 0),
      "int8" -> Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
        k = 10, shortlist = 32))
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
      }
      .reduce(_.unionByName(_))
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_results"),
        sum(coalesce(col("__hit"), lit(false)).cast("long")).as("n_hits"))
      .crossJoin(denom)
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("__denom"), 6))
      .select("method", "n_results", "n_hits", "recall_at_10")
      .orderBy("method")
  }

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
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q93" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val backlog = s"${System.getProperty("java.io.tmpdir")}/graft-stream-backlog-$tag"
    builtOnce(backlog) {
      Tables.events(s, dir)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .select("event_time", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(backlog)
    }
    val sinkName = s"q93_sink_${tag}_${Q93Runs.incrementAndGet()}"
    EventTimeStreams.runTumblingBacklog(s, backlog, "event_time",
        lateness = "10 minutes", windowLen = "15 minutes",
        filesPerBatch = 2, queryName = sinkName)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_us", "event_type")
  }
  // memory-sink names must be fresh per run (a bench rep re-streams
  // the backlog from a clean checkpoint; reusing the temp-view name
  // would collide with the previous rep's still-registered sink)
  private val Q93Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Index time travel ([[TextOps.writePostingIndexVersioned]] +
    * `asOf`): the posting index built as three versioned batches
    * (doc_id mod 3), then read AS OF batch 1 — "retrieval as the
    * pipeline saw it before batch 2 landed", the audit primitive for
    * reproducing a historical training run or bisecting when a bad
    * document entered serving. `b` is a partition column under each
    * term-hash dir, so the as-of cut composes with q86's term pruning
    * as one static partition filter — batch 2's files are never
    * LISTED, let alone read (pinned in TextOpsSpec via inputFiles).
    * Oracle: the direct BM25 replay over batches 0-1 only — time
    * travel changes WHICH batches are read, never what is computed. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q94" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-asof-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      (0L to 2L).foreach(m =>
        TextOps.writePostingIndexVersioned(docs.filter(col("doc_id") % 3 === m),
          "doc_id", "text", path, parts, batch = m))
    }
    // query docs drawn from the as-of corpus (batches 0-1) so the
    // oracle's query set — which bm25SqlOver derives from its filtered
    // corpus — is identical; an external query text would work the
    // same, there would just be nothing to replay it against
    val queries = docs
      .filter(col("doc_id") % 100 === 0 && col("doc_id") % 3 =!= 2)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10, asOf = Some(1L))
      .orderBy("query_id", "rank")
  }

  /** Index retention folding ([[TextOps.foldPostingIndexVersions]]):
    * the lifecycle move that keeps q94's time-travel history from
    * growing forever. Four versioned batches (doc_id mod 4) land, then
    * batches ≤ 2 FOLD into one base snapshot at b=2 — every artifact
    * row relabels, and the reader sums df and stats across rows as it
    * does before the fold — while batch 3 keeps its
    * own history level. The query then reads AS OF the fold point:
    * by the fold law (every as-of ≥ the fold point is preserved,
    * pinned in TextOpsSpec) the answer is identical to the unfolded
    * store's, with one directory level per touched partition instead
    * of three. Oracle: the direct BM25 replay over batches 0-2 —
    * folding changes bytes-on-disk and listing cost, never a result. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q115" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-postidx-fold-$tag"
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      (0L to 3L).foreach(m =>
        TextOps.writePostingIndexVersioned(docs.filter(col("doc_id") % 4 === m),
          "doc_id", "text", path, parts, batch = m))
      TextOps.foldPostingIndexVersions(s, path, upTo = 2L)
    }
    val queries = docs
      .filter(col("doc_id") % 100 === 0 && col("doc_id") % 4 =!= 3)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10, asOf = Some(2L))
      .orderBy("query_id", "rank")
  }

  private val BpeMerges = 32
  private val BpeMaxWords = 100000
  private val BpeMixDefaultBudget = 2400L
  private val BpeMixBudgets = Map("src0" -> 15000L, "src1" -> 0L)

  /** BPE merge-table build ([[TextOps.bpeLearnMerges]]): deterministic
    * Sennrich training on the corpus's own word-frequency dictionary —
    * 32 merges, ties toward the lexicographically smallest pair. The
    * model IS a table (rank, left, right), like q100's bigram LM;
    * oracle = the entire training loop unrolled (the q97/q98
    * iterative-oracle discipline): per step, pair counts weighted by
    * word frequency, argmax, and the left-to-right non-overlapping
    * apply via run-parity windows over the dictionary — all integer
    * counts and total-ordered ties, so 32 chained steps replay
    * bit-exact. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val merges = TextOps.bpeLearnMerges(Tables.documents(s, dir), "text",
      BpeMerges, BpeMaxWords)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }.toSeq
      .toDF("rank", "left", "right")
      .orderBy("rank")
  }

  /** Learned-BPE token accounting ([[TextOps.bpeTokenCounts]]): every
    * document's token count under the q116 model — the unit a real
    * training-data pipeline budgets in (whitespace tokens under-count
    * sub-word models). Encoding applies the merges in rank order via
    * ONE codegen'd call per row (frozen model as a plan constant — no
    * explode, no shuffle); the oracle counts each dictionary word's
    * final symbols in the unrolled training state, equal to the
    * encode by the train-state ≡ encode law (BpeSpec). */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(d, "text", BpeMerges, BpeMaxWords)
    TextOps.bpeTokenCounts(d, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  /** Token-budget mix in BPE tokens ([[Sampling.budgetTake]] over
    * q117's counts): q61's per-source budgeted take re-run in the
    * budget unit that matters — documents admitted in seeded-hash
    * order until each source's BPE-token budget is spent. Same
    * monotone prefix-take machinery; only the measure changed. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(d, "text", BpeMerges, BpeMaxWords)
    val docs = TextOps.bpeTokenCounts(d, "doc_id", "text", merges)
      .join(d.select("doc_id", "source"), "doc_id")
    Sampling.budgetTake(docs, "source", "doc_id", "bpe_tokens",
        BpeMixDefaultBudget, BpeMixBudgets, SampleSeed)
      .select("doc_id", "source", "bpe_tokens")
      .orderBy("doc_id")
  }

  /** Tokenizer drift monitor: the q113 source-drift discipline applied
    * to the TOKENIZER itself. A frozen model (trained before the last
    * data quarter landed — doc_id % 4 ≠ 3) and a retrained model (full
    * corpus) both encode the whole corpus; per source, the fertility
    * (BPE tokens per whitespace word, basis points — integer
    * floor-div, exact) under each model and the drift between them.
    * Rising frozen-model fertility on a source is the "tokenizer no
    * longer fits the data" signal that triggers retraining — and
    * retraining shifts every downstream token budget, which is why
    * both numbers publish side by side. OOV words under the frozen
    * model encode exactly (merges apply to any word); the oracle
    * carries them through the chain at learning weight 0. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val frozen = TextOps.bpeLearnMerges(d.filter(col("doc_id") % 4 =!= 3),
      "text", BpeMerges, BpeMaxWords)
    val retrained = TextOps.bpeLearnMerges(d, "text", BpeMerges, BpeMaxWords)
    val counts = TextOps.bpeTokenCounts(d, "doc_id", "text", frozen)
      .withColumnRenamed("bpe_tokens", "tf")
      .join(TextOps.bpeTokenCounts(d, "doc_id", "text", retrained)
        .withColumnRenamed("bpe_tokens", "tr"), "doc_id")
      .join(d.select(col("doc_id"), col("source"),
        size(array_remove(TextOps.tokens(col("text")), ""))
          .cast("long").as("ws")), "doc_id")
    counts.groupBy("source")
      .agg(sum("ws").as("ws_tokens"),
        sum("tf").as("tokens_frozen"),
        sum("tr").as("tokens_retrained"))
      .select(col("source"), col("ws_tokens"), col("tokens_frozen"),
        col("tokens_retrained"),
        expr("tokens_frozen * 10000 DIV ws_tokens").as("fertility_frozen_bp"),
        expr("tokens_retrained * 10000 DIV ws_tokens").as("fertility_retrained_bp"),
        expr("tokens_retrained * 10000 DIV ws_tokens" +
          " - tokens_frozen * 10000 DIV ws_tokens").as("drift_bp"))
      .orderBy("source")
  }

  /** Late-interaction retrieval ([[Similarity.maxSimTopK]], the
    * ColBERT-family MaxSim): the embedding table regrouped into
    * multi-vector documents (8 consecutive vec_ids per doc — standing
    * in for per-token/per-passage embeddings), query bags scored
    * against document bags by Σ_qv max_dv cosine. The exact arm — the
    * recall baseline the shortlist composition (quantized/IVF
    * per-vector candidates → exact MaxSim on survivors) is audited
    * against, exactly as q12 anchors q36/q37/q72. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(expr("vec_id DIV 8").as("doc_id"), col("vec_id"),
        col("embedding"))
    val queries = e.filter(col("doc_id") % 20 === 0)
    Similarity.maxSimTopK(e, "doc_id", "embedding",
        queries, "doc_id", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Approximate late-interaction retrieval
    * ([[Similarity.maxSimTopKShortlisted]]): q95's MaxSim behind an
    * int8-quantized per-query-vector shortlist — the shortlist-then-
    * exact economics of q72 applied to multi-vector retrieval. Unlike
    * most ANN, every stage is deterministic integer/rounded
    * arithmetic, so the oracle replays the ENTIRE approximate
    * composition (quantize → shortlist → candidate docs → exact
    * MaxSim), not just a recall floor. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(expr("vec_id DIV 8").as("doc_id"), col("vec_id"),
        col("embedding"))
    val queries = e.filter(col("doc_id") % 20 === 0)
    Similarity.maxSimTopKShortlisted(e, "doc_id", "vec_id", "embedding",
        queries, "doc_id", "vec_id", "embedding", k = 5, shortlist = 8)
      .orderBy("query_id", "rank")
  }

  /** Corpus clustering ([[Clustering.kmeansQuantized]]): fixed-
    * iteration Lloyd k-means over the int8-quantized embedding space —
    * the topic/domain-bucketing primitive between dedup and sampling.
    * Assignment is a shuffle-free projection against broadcast centroid
    * literals (k fused `squared_l2` kernels per row); the update step's
    * only exchange is a k·dim-group partial-sum aggregate. Integer
    * arithmetic end to end (quantized components, exact integer
    * distances, floor-div centroid means), so the oracle replays every
    * iteration bit-for-bit — clustering as a certified operator, not a
    * "looks reasonable" one. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = Clustering.kmeansQuantized(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    assign.select(col("id").as("vec_id"), col("cluster"), col("dist"))
      .orderBy("vec_id")
  }

  private val KmeansK = 8
  private val KmeansIters = 3

  /** Graph ranking ([[Graphs.pageRankFixed]]): integer-scaled PageRank
    * over the customer↔supplier trade graph (edge = "this customer's
    * order had a line from this supplier", symmetrized) — the source-
    * credibility primitive (rank a domain/citation graph, then weight
    * documents by their origin's rank). Three fixed update passes; all
    * arithmetic is floor-divided scaled integers, so rank mass is
    * exactly reproducible and the oracle replays the full iteration.
    * Node encoding: customer c ↦ 2c, supplier s ↦ 2s+1. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graphs.pageRankFixed(edges, iters = PageRankIters)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node DIV 2").as("node_key"), col("rank_scaled"))
      .orderBy("node_type", "node_key")
  }

  private val PageRankIters = 3

  /** PageRank with dangling-mass redistribution
    * ([[Graphs.pageRankFixed]] `redistributeDangling = true`) on the
    * DIRECTED customer→supplier bipartite graph — every supplier is
    * dangling (no out-edges), the shape where q98's simple treatment
    * visibly leaks mass to the teleport floor. Each pass sums the
    * dangling rank (one node-sized scalar), damps it and floor-splits
    * it evenly — integer-exact, so the oracle replays the term; rank
    * mass is conserved up to flooring loss (law in GraphsSpec). */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    Graphs.pageRankFixed(fwd, iters = PageRankIters,
        redistributeDangling = true)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node DIV 2").as("node_key"), col("rank_scaled"))
      .orderBy("node_type", "node_key")
  }

  /** Record linkage ([[Linkage.blockedFuzzyPairs]]): blocked edit-
    * distance matching — the character-level complement to the token-
    * set dedup arms (q10/q11 see reordered copies; this sees dense
    * in-place edits). Blocking key = normalized 12-char prefix, blocks
    * capped deterministically, threshold'd Levenshtein only inside
    * blocks. Every stage — normalization, cap, DP distance — is
    * integer/string-exact, so the oracle replays distances verbatim. */
  private def q99(s: SparkSession, dir: String): DataFrame =
    Linkage.blockedFuzzyPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** LM quality scoring ([[TextOps.bigramLmScores]]): corpus-trained
    * add-one bigram model, per-doc log-likelihood — the perplexity
    * filter of the CCNet recipe with the model AS a table (two counting
    * aggregates), never driver state. Rounded-ln + DECIMAL sums keep
    * the scores engine-exact. */
  private def q100(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramLmScores(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Cluster profiling: the quality gate over q97's clustering (the
    * q92 pattern applied to k-means) — per cluster, its size, total
    * inertia, dominant ground-truth label and integer purity. The
    * label column plays the held-out reference; a pipeline runs this
    * before trusting cluster-balanced sampling. All-integer outputs
    * (counts, exact distances, floor-div purity percent), so the
    * oracle replays the clustering AND the audit. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (assign, _) = Clustering.kmeansQuantized(
      e, "vec_id", "embedding", k = KmeansK, iters = KmeansIters)
    val a = assign.select(col("id").as("vec_id"), col("cluster"), col("dist"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    val byLabel = a.groupBy("cluster", "label").agg(count(lit(1)).as("label_n"))
    val top = Stats.topKPerGroup(byLabel, "cluster", 1,
      Seq(col("label_n").desc, col("label").asc)).drop("rank")
    a.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("dist").as("sum_dist"))
      .join(top, "cluster")
      .select(col("cluster"), col("n"), col("sum_dist"),
        col("label").as("top_label"), col("label_n").as("top_label_n"),
        expr("label_n * 100 DIV n").as("purity_pct"))
      .orderBy("cluster")
  }

  /** Community detection ([[Graphs.labelPropagation]]): deterministic
    * frequency-LPA over the same symmetrized trade graph as q98 —
    * three synchronous rounds, each node adopting its neighbors' most
    * frequent label (ties toward the smaller). Integer counts + total
    * tie order make the whole fixpoint engine-exact. Output is the
    * community roster: per community label, its size and member split
    * by node type. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    // strong ties only (high-quantity lines): the dense full graph
    // collapses to one community per side in two LPA rounds — real
    // community structure needs the sparse backbone
    val l = Tables.lineitem(s, dir)
      .where(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graphs.labelPropagation(edges, iters = LpaIters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
      .orderBy("community")
  }

  private val LpaIters = 3

  /** Temperature-rebalanced source mix ([[Sampling.temperatureSample]]):
    * the UniMax-family α=0.5 rule — sample shares ∝ √(source token
    * mass), flattening the head so low-resource sources punch above
    * their raw weight. Output is the per-source audit: full-corpus
    * size, the derived integer threshold, and what survived. Exact
    * end to end (integer sums, correctly-rounded √, decimal
    * normalizer, floored thresholds), so the oracle replays the whole
    * derivation. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val w = d.select(col("doc_id"), col("source"))
      .join(TextOps.tokenCounts(d, "doc_id", "text")
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
    val full = w.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ws_tokens").as("tokens"))
    val kept = Sampling.temperatureSample(w, "doc_id", "source",
      "ws_tokens", frac = 0.25, seed = "graft-temp")
    val ag = kept.groupBy("source")
      .agg(min("sample_thresh").as("sample_thresh"),
        count(lit(1)).as("n_sampled"),
        sum("ws_tokens").as("tokens_sampled"))
    full.join(ag, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tokens"),
        col("sample_thresh"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tokens_sampled"), lit(0L)).as("tokens_sampled"))
      .orderBy("source")
  }

  /** Dataset card / per-source corpus report: the audit table a
    * curation pipeline publishes with every release — size, token
    * mass, exact-dup rate, language mix with dominant language, char-
    * length envelope and exact lower-median. Composes the counting,
    * distinct, argmax, dedup and order-statistic machinery in ONE
    * query; everything integer/string-exact. The per-source median
    * window is the q46 exact-order-statistic shape (bounded group
    * count; the mergeable-sketch variant is the unbounded path). */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = d
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("__h"))
      .join(TextOps.tokenCounts(d, "doc_id", "text")
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
    val agg = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("ws_tokens").as("tokens"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(col("__h"))).as("n_exact_dupes"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"))
    val topLang = Stats.topKPerGroup(
        base.groupBy("source", "lang").agg(count(lit(1)).as("lang_n")),
        "source", 1, Seq(col("lang_n").desc, col("lang").asc))
      .select(col("source"), col("lang").as("top_lang"),
        col("lang_n").as("top_lang_n"))
    // exact lower median via the two-phase histogram→rank-select path:
    // no per-source buffering window, so one hot source stays a hash
    // aggregate (the value at rank (n+1) DIV 2 is tie-independent —
    // same number the old order-statistic window produced)
    // — and over the slim (source, n_chars) projection, not the
    // token-joined base: the tokenCounts join is 1:1 on doc_id, so the
    // row set is identical and the median passes scan 2 columns only
    val med = Stats.exactGroupedRankValues(
        d.select(col("source"), col("n_chars")), "source", "n_chars",
        n => Seq(("p50", (n + 1) / 2)))
      .select(col("source"), col("value").cast("long").as("p50_chars"))
    agg.join(topLang, "source").join(broadcast(med), "source")
      .select(col("source"), col("n_docs"), col("tokens"), col("n_langs"),
        col("top_lang"), col("top_lang_n"), col("n_exact_dupes"),
        col("min_chars"), col("p50_chars"), col("max_chars"))
      .orderBy("source")
  }

  /** Per-doc duplicated-gram fraction ([[TextOps.dupGramFraction]]):
    * the Gopher-family corpus-level repetition score — share of a
    * doc's distinct 3-grams that appear in other documents. No pair
    * enumeration; integer floor-div percent. */
  private def q105(s: SparkSession, dir: String): DataFrame =
    TextOps.dupGramFraction(Tables.documents(s, dir), "doc_id", "text", n = 3)
      .orderBy("doc_id")

  /** Containment pairs ([[TextOps.containmentPairs]]): asymmetric
    * near-dup detection — |Sₐ∩S_b|/|Sₐ| ≥ 0.8, the quote/subset-copy
    * measure Jaccard resemblance misses. Directed output names which
    * side is contained. */
  private def q106(s: SparkSession, dir: String): DataFrame =
    TextOps.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("src_id", "dst_id")

  /** Ordered funnel ([[Events.funnelDepth]]): signup → view →
    * purchase reach, each step strictly after the previous (earliest-
    * qualifying-event greedy; order = (µs, event_id) so the oracle
    * sees identical ties). Output: per step, users reached. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("ts_us"), col("event_id"))
    val steps = Seq("signup", "view", "purchase")
    Events.funnelDepth(e, "user_id", "event_type", "ts_us", "event_id", steps)
      .where(col("depth") >= 1)
      .select(explode(sequence(lit(1), col("depth"))).as("step"))
      .groupBy(col("step").cast("long").as("step"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("step_name",
        element_at(typedlit(steps), col("step").cast("int")))
      .select(col("step"), col("step_name"), col("n_users"))
      .orderBy("step")
  }

  /** Cohort retention ([[Events.cohortRetention]]): users grouped by
    * first-activity week, counted in each later week they return —
    * the engagement matrix. Weeks are integer µs floor-divisions, so
    * the whole matrix is exact. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"),
        expr(s"(ts DIV 1000) DIV $weekUs").as("week"))
    Events.cohortRetention(e, "user_id", "week")
      .orderBy("cohort_period", "period_offset")
  }

  /** Frozen-centroid serving assignment
    * ([[Clustering.assignToCentroids]]): train on 3/4 of the corpus,
    * route the held-out batch against the frozen centroids — the q83
    * frozen-quantizer discipline applied to k-means, and the
    * production serve path for semantic routing. Output: the batch's
    * per-cluster landing profile (exact counts and integer inertia). */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (_, cents) = Clustering.kmeansQuantized(
      e.filter(col("vec_id") % 4 =!= 3), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    Clustering.assignToCentroids(
        e.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_batch"), sum("dist").as("sum_dist"))
      .orderBy("cluster")
  }

  /** Cluster-balanced corpus ([[Sampling.stratumCap]] over q97's
    * clusters): cap every semantic cluster at 20 members — the
    * "cluster then balance" curation move (diversity-preserving
    * downsampling), with the cap's smallest-(hash, id) rule exactly
    * replayable. Output: per cluster, population vs kept. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = Clustering.kmeansQuantized(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    val a = assign.select(col("id").as("vec_id"), col("cluster"))
    val capped = Sampling.stratumCap(a, "cluster", "vec_id",
      defaultCap = 20L, seed = SampleSeed)
    a.groupBy("cluster").agg(count(lit(1)).as("n_total"))
      .join(capped.groupBy("cluster").agg(count(lit(1)).as("n_kept")),
        "cluster")
      .orderBy("cluster")
  }

  /** SemDeDup ([[Similarity.semDedupPairs]]): semantic near-dup pairs
    * via k-means cluster blocking — cluster the int8-quantized space
    * (bit-identical to q97's clusters), cap each cluster by the
    * smallest-(hash, id) rule (q110's cap, replayed), then decide each
    * within-cluster pair in PURE INTEGER arithmetic:
    * dot²·400 ≥ 49·‖a‖²·‖b‖² ⇔ cosine ≥ 0.35 (q51's threshold as an
    * exact rational). The paraphrase-dedup arm: LSH bands (q51) only
    * see cosine ≈ 1 agreement; cluster blocking surfaces the 0.35-0.7
    * band the SemDeDup recipe prunes. drop_id = the more-prototypical
    * member (smaller exact centroid distance, ties to the larger id). */
  private def q121(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = KmeansK, iters = KmeansIters,
        thrNum = SemThrNum, thrDen = SemThrDen, clusterCap = SemCap,
        seed = SampleSeed)
      .orderBy("cluster", "id_a", "id_b")

  private val SemThrNum = 49L // threshold² = 49/400 ⇒ cosine ≥ 0.35
  private val SemThrDen = 400L
  private val SemCap = 48L

  /** Semantic contamination ([[Similarity.semContaminationPairs]]):
    * the vec_id%10=7 slice plays the benchmark, the rest the training
    * corpus. k-means is trained on the CORPUS ONLY; both sides route
    * through the frozen centroids (q109 discipline), both are capped
    * per cluster, and every within-cluster corpus×benchmark pair is
    * decided by the q121 integer threshold. The semantic complement
    * to q44's lexical n-gram contamination — a paraphrased eval item
    * shares no 8-gram but sits above cosine 0.35 here. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.semContaminationPairs(
        e.filter(col("vec_id") % 10 =!= 7), e.filter(col("vec_id") % 10 === 7),
        "vec_id", "embedding", k = KmeansK, iters = KmeansIters,
        thrNum = SemThrNum, thrDen = SemThrDen, clusterCap = SemCap,
        seed = SampleSeed)
      .orderBy("cluster", "corpus_id", "bench_id")
  }

  /** Trained language/quality classifier ([[TextOps.nbTrainPredict]]):
    * multinomial Naive Bayes trained on the doc_id%4≠3 split, scored
    * on the held-out quarter, reported as the (true lang × predicted
    * lang) confusion matrix with exact count and min/max joint
    * log-likelihood — the learned-classifier arm next to q15's
    * n-gram heuristic (the CCNet/GPT-3 quality-filter shape: a linear
    * model over token counts, trained on a curated reference). Every
    * prediction is an exact-decimal argmax, so the confusion matrix —
    * not a tolerance band — is the oracle. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val pred = TextOps.nbTrainPredict(
      d.filter(col("doc_id") % 4 =!= 3), d.filter(col("doc_id") % 4 === 3),
      "doc_id", "lang", "text")
    pred.join(d.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy("lang", "pred")
  }

  /** Weighted exact grouped quantiles
    * ([[Stats.exactGroupedRankValues]] with `weightCol`): per source,
    * the document sizes below which 25/50/75% of the corpus's TOKEN
    * MASS sits — the quantile a training pipeline actually budgets in
    * (a source can have a modest median doc but carry its mass in a
    * few huge docs; the doc-count median can't see that). Ranks are
    * exact integer positions in cumulative token weight
    * (k_p = ⌈p·W⌉), resolved by the same two-phase histogram →
    * targeted rank-select as q46/q104/q112 — no data-sized window,
    * weighted or not. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .where(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars"),
        size(filter(TextOps.tokens(col("text")), w => length(w) > 0))
          .cast("long").as("__w"))
    Stats.exactGroupedRankValues(d, "source", "n_chars",
        tw => Seq(("wp25", (tw + 3) / 4), ("wp50", (tw + 1) / 2),
          ("wp75", (3 * tw + 3) / 4)),
        weightCol = Some("__w"))
      .orderBy("source", "stat")
  }

  /** Two-level (hierarchical) centroid assignment
    * ([[Clustering.assignToCentroidsTwoLevel]]): the large-k scale
    * path, audited in-query — train k=8 centroids exactly as q97,
    * coarse-cluster them into 3 cells on the driver, route every
    * vector coarse→fine, and report per final cluster its size,
    * integer inertia, and agreement count vs the exact argmin (q97's
    * assignment). The oracle replays BOTH k-means chains (distributed
    * fine + driver coarse — same CTE shapes over centroid rows) and
    * the two-level routing, so even the approximation is certified,
    * not eyeballed. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (exact, cents) = Clustering.kmeansQuantized(
      e, "vec_id", "embedding", k = KmeansK, iters = KmeansIters)
    val two = Clustering.assignToCentroidsTwoLevel(e, "vec_id", "embedding",
      cents, coarseK = TwoLevelCoarseK, coarseIters = TwoLevelCoarseIters)
    two.select(col("id").as("vec_id"), col("cluster"), col("dist"))
      .join(exact.select(col("id").as("vec_id"), col("cluster").as("__exc")),
        "vec_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("dist").as("sum_dist"),
        sum(when(col("cluster") === col("__exc"), 1L).otherwise(0L))
          .as("n_agree"))
      .orderBy("cluster")
  }

  private val TwoLevelCoarseK = 3
  private val TwoLevelCoarseIters = 2

  /** Persisted semantic-dedup store lifecycle
    * ([[Similarity.writeSemStore]] → append → probe): the cluster
    * structure as a maintained artifact — build on vec_id%4∈{0,1},
    * APPEND the %4=2 batch through the frozen centroids (no
    * re-clustering, no history re-route), then dedup the %4=3 batch
    * against the store with per-cluster probe-time caps and q121's
    * integer threshold. Members are uncapped on disk, which is what
    * makes append ≡ build-of-union and purge ≡ build-of-remainder
    * EXACT laws (SimilaritySpec); the oracle replays training on the
    * build slice, frozen routing of both later slices, caps and
    * pairing. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q127" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-semstore-$tag"
    val e = Tables.embeddings(s, dir)
    builtOnce(path) {
      Similarity.writeSemStore(e.filter(col("vec_id") % 4 <= 1),
        "vec_id", "embedding", k = KmeansK, iters = KmeansIters, path)
      Similarity.appendToSemStore(s, path,
        e.filter(col("vec_id") % 4 === 2), "vec_id", "embedding")
    }
    Similarity.probeSemStore(s, path, e.filter(col("vec_id") % 4 === 3),
        "vec_id", "embedding", SemThrNum, SemThrDen, SemCap, SampleSeed)
      .orderBy("cluster", "store_id", "batch_id")
  }

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
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q140" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-semfold-$tag"
    val e = Tables.embeddings(s, dir)
    builtOnce(path) {
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
  }

  /** Stream-stream interval join through the REAL streaming engine
    * ([[graft.streaming.EventTimeStreams.runAttributionBacklog]]):
    * view→purchase attribution — every purchase paired with the same
    * user's views from the preceding 4 hours — run as two watermarked
    * `readStream` file sources over an 8-file backlog, interval-joined
    * in Append mode under `Trigger.AvailableNow`. The q93 discipline
    * extended from stateful aggregation to stateful JOIN state: with
    * lateness covering the backlog span, whatever micro-batch
    * boundaries the file listing produces, the appended result equals
    * the batch interval self-join bit-for-bit — which is exactly what
    * the oracle replays (DuckDB side at native µs, Spark side on the
    * loader's ns DIV 1000, equal by the events-ts convention). */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q141" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val backlog = s"${System.getProperty("java.io.tmpdir")}/graft-attr-backlog-$tag"
    builtOnce(backlog) {
      Tables.events(s, dir)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .select("event_id", "event_time", "user_id", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(backlog)
    }
    val sinkName = s"q141_sink_${tag}_${Q141Runs.incrementAndGet()}"
    // filesPerBatch = 8 (was 2, round 14): r13 measured the 4-batch
    // config at 15.7 s — 10% of the whole bench, all of it checkpoint
    // round-trips and AvailableNow coordination, none of it join work.
    // The oracle needs the rows, not the boundaries; micro-batch
    // boundary invariance is pinned where it belongs, in
    // EventTimeStreamsSpec (filesPerBatch 1 vs 3 vs the batch join)
    EventTimeStreams.runAttributionBacklog(s, backlog, "event_time",
        horizon = "4 hours", lateness = "600 days",
        filesPerBatch = 8, queryName = sinkName)
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("view_ts")).as("view_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("purchase_value"))
      .orderBy("view_id", "purchase_id")
  }
  private val Q141Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** DSIR importance resampling ([[Sampling.dsirSample]]): src0/src1
    * play the target domain, every other source is the raw pool, and
    * the 50 winners are drawn Gumbel-top-k proportional to their
    * hashed-unigram importance weight — the data-selection recipe for
    * "make the pretraining mix look like the domain I care about".
    * Audit columns carry the whole chain (token count, decimal score,
    * Gumbel, key); the oracle replays bucket LMs, rounded-ln weights,
    * decimal sums and the keyed order. */
  private def q142(s: SparkSession, dir: String): DataFrame =
    Sampling.dsirSample(Tables.documents(s, dir),
        "doc_id", "source", "text",
        targetPred = col("source").isin("src0", "src1"),
        buckets = 256, k = 50, seed = SampleSeed)
      .orderBy("rank")

  /** DSIR with the production train/serve split ([[Sampling.dsirSample]]
    * `trainPred`): both bucket LMs estimate from the doc_id % 4 ≤ 2
    * slice only — train once on a sample — and EVERY pool document,
    * the held-out quarter included, is scored through the frozen
    * weight table (a bucket the train slice never hit scores at the
    * zero-count smoothed weight). The q109/q138 frozen-model
    * discipline applied to data selection; the oracle replays the
    * sliced LMs, the full-spine weight table and the frozen scoring. */
  private def q143(s: SparkSession, dir: String): DataFrame =
    Sampling.dsirSample(Tables.documents(s, dir),
        "doc_id", "source", "text",
        targetPred = col("source").isin("src0", "src1"),
        buckets = 256, k = 50, seed = SampleSeed,
        trainPred = pmod(col("doc_id"), lit(4)) <= 2)
      .orderBy("rank")

  /** Persisted DSIR model + batch serving ([[Sampling.writeDsirWeights]]
    * / [[Sampling.scoreDsirBatch]]): q143's weight table trained once
    * on the doc_id % 4 ≤ 2 slice and written as a 256-row parquet
    * artifact, then the UNSEEN %4 = 3 batch scored against the stored
    * model — no target labels, no training corpus on the serve side,
    * the q83/q132 artifact discipline applied to data selection. The
    * oracle replays the sliced LMs and frozen-scores exactly the
    * serving batch. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q144" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-dsirstore-$tag"
    val d = Tables.documents(s, dir)
    builtOnce(path) {
      Sampling.writeDsirWeights(
        d.filter(pmod(col("doc_id"), lit(4)) <= 2), "doc_id", "text",
        targetPred = col("source").isin("src0", "src1"),
        buckets = 256, path = path, seed = SampleSeed)
    }
    Sampling.scoreDsirBatch(s, path,
        d.filter(pmod(col("doc_id"), lit(4)) === 3 &&
          !col("source").isin("src0", "src1")),
        "doc_id", "source", "text", k = 20, seed = SampleSeed)
      .orderBy("rank")
  }

  /** Persisted NB classifier + batch serving ([[TextOps.writeNbModel]]
    * / [[TextOps.scoreNbBatch]]): q122's multinomial NB trained once on
    * the doc_id % 4 ≠ 3 split and frozen as its two tables (K-row
    * classes, vocab·K-row token log-likelihoods), then the held-out
    * quarter scored from the STORE — no labels, no training corpus on
    * the serve side. The q144 train-once/score-forever lifecycle for
    * the quality classifier, and the last chain stage of the closed
    * curation loop that lacked a frozen artifact. Every stored number
    * is an exact integer or DECIMAL(18,6) (bit-exact through parquet),
    * so stored-model serving replays q122's in-query scoring to the
    * bit and the oracle replays train + serve in one statement —
    * storage is read-invisible, the q140/q127 reuse discipline. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q146" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-nbstore-$tag"
    val d = Tables.documents(s, dir)
    builtOnce(path) {
      TextOps.writeNbModel(d.filter(col("doc_id") % 4 =!= 3),
        "lang", "text", path)
    }
    TextOps.scoreNbBatch(s, path, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Frozen-artifact incremental curation ([[operators.Curation]]):
    * q139's closed loop split into train-once / serve-forever — the
    * history slice (doc_id % 4 ≠ 3) trains EVERY model once (content
    * hashes, sem-store centroids + members, NB tables, BPE merges,
    * DSIR weights; each the already-certified artifact from
    * q127/q146/q144), then the UNSEEN %4 = 3 batch is curated entirely
    * against the frozen store: exact dedup within-batch and against
    * history hashes, semantic dedup within-batch and against stored
    * members under the frozen centroids, frozen-NB quality filter,
    * frozen-BPE token counts and frozen-DSIR scores as annotations. No
    * model sees the batch before serving it — q58's replay ≡
    * full-refresh discipline at the curation level. The oracle replays
    * artifact training AND batch serving in one statement (storage is
    * read-invisible); CurationSpec pins the containment law
    * serve(batch) ⊆ frozen-recurate(history ∪ batch) ∩ batch. */
  /** The q147/q155 shared frozen store (built once per JVM — sharing is
    * the production contract: artifacts are frozen, every consumer reads
    * the same ones). */
  private def q147Store(s: SparkSession, dir: String): String = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q147" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-curstore-$tag"
    builtOnce(path) {
      val d = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      Curation.writeCurationStore(
        d.filter(col("doc_id") % 4 =!= 3),
        e.filter(col("doc_id") % 4 =!= 3),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, path = path, seed = SampleSeed)
    }
    path
  }

  private def q147(s: SparkSession, dir: String): DataFrame = {
    val path = q147Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Curation.serveBatch(s, path,
        d.filter(col("doc_id") % 4 === 3),
        e.filter(col("doc_id") % 4 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed)
      .orderBy("doc_id")
  }

  /** Per-doc curation audit ([[Curation.auditBatch]]): q147's serve
    * with the question inverted — not "which docs survived" but "what
    * happened to EVERY doc", each labeled with the first stage that
    * dropped it (exact dup in batch / in history, vectorless, near-dup
    * in batch / of a stored member, quality) or 'survived'. The
    * dedup/quality reason on record a production crawl producer gets
    * back; the oracle re-reads the SAME chain CTEs as q147 and replays
    * the CASE, so the two queries certify the serve path and its audit
    * against one derivation. At sf0.1, where 3/5 of docs carry no
    * embedding by fixture design, the vectorless arm is exercised at
    * scale. Round 16: audits with the LEXICAL LANE on
    * ([[Curation.serveBatch]] lexicalLane) — a vectorless keeper is no
    * longer a terminal 'vectorless' verdict but 'quality' or
    * 'vectorless_curated' depending on the frozen-NB filter, matching
    * the lane-on serve (q159). */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val path = q147Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Curation.auditBatch(s, path,
        d.filter(col("doc_id") % 4 === 3),
        e.filter(col("doc_id") % 4 === 3),
        "doc_id", "embedding", "lang", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed,
        lexicalLane = true)
      .orderBy("doc_id")
  }

  /** Lexical-lane serve ([[Curation.serveBatch]] lexicalLane = true):
    * q147's batch with the vectorless keepers CURATED instead of
    * rejected — a real crawl pipeline still owes the docs its embedder
    * has not reached the stages that need no vector (exact dedup incl.
    * the bloom-split history check, frozen-NB quality, frozen-BPE/DSIR
    * annotation); they emerge with `cluster = null` while the vectored
    * lane's rows are byte-identical to q147's. The batch's vectors are
    * restricted to `doc_id % 8 = 3` — at sf0.01 every fixture doc
    * carries a vector, so without modeling an embedder that has only
    * reached half the batch the lane would be vacuous at the driver's
    * correctness SF (at sf0.1 the fixture itself leaves 3/5 of docs
    * vectorless). The oracle replays the union: the full q147 chain on
    * the vectored lane plus the 3-stage chain on the vectorless one. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val path = q147Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Curation.serveBatch(s, path,
        d.filter(col("doc_id") % 4 === 3),
        e.filter(col("doc_id") % 8 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed,
        lexicalLane = true)
      .orderBy("doc_id")
  }

  /** Shuffle-skew audit ([[Stats.skewAudit]]): the pre-flight check a
    * pipeline runs BEFORE keying a 100 TB join or aggregation — the 20
    * heaviest `user_id`s in the event stream with their corpus share
    * and the projected load of the 32-way hash-partitioner bucket each
    * lands in. `key_share_ppm` is the salting decision (q64),
    * `bucket_share_ppm` vs the uniform 31,250 line is the projected
    * partition imbalance, `hot_fraction_ppm` separates hot-key buckets
    * from collision-crowded ones. */
  private def q145(s: SparkSession, dir: String): DataFrame =
    Stats.skewAudit(Tables.events(s, dir), "user_id", parts = 32, k = 20)
      .orderBy("rank")

  /** Continuous curation ([[graft.streaming.CurationStream]]): the
    * q147 serve loop maintained by a crawl stream — each batch is
    * curated against the store AS IT STOOD (exact + semantic dedup vs
    * absorbed history, frozen NB/BPE/DSIR), then its survivors are
    * ABSORBED (routed vectors into the sem members, hashes into the
    * log) so the next batch dedups against everything curated before
    * it. Here: artifacts trained on the doc_id % 4 ≤ 1 half, then the
    * %4 = 2 and %4 = 3 quarters applied as batches 1 and 2; the output
    * is the store's `curated/b=` rows. The oracle replays the whole
    * chain — training, batch-1 serve, batch-1 absorption, batch-2
    * serve against history ∪ batch-1 survivors — in one statement;
    * CurationStreamSpec drives the REAL readStream path and pins
    * stream ≡ this sequential loop plus the crash-window redelivery
    * law (the batchCut fence). */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q149" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-curstream-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    builtOnce(path) {
      CurationStream.init(
        d.filter(col("doc_id") % 4 <= 1), e.filter(col("doc_id") % 4 <= 1),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, path = path, seed = SampleSeed)
      CurationStream.applyBatch(
        d.filter(col("doc_id") % 4 === 2), e.filter(col("doc_id") % 4 === 2),
        "doc_id", "embedding", "lang", "source", "text",
        path, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = 1L)
    }
    // bench honesty (r14 verdict #2): the store build — init + batch-1
    // serve+absorb — is the once-per-JVM artifact; batch 2 is SERVED
    // FRESH on every evaluation (read-only, batchCut-fenced — exactly
    // the serve applyBatch(2) would run), so the measured body is one
    // real serve of a new batch against the accumulated store, the
    // production 15-minute loop, not a read-back of cached output.
    val served2 = Curation.serveBatch(s, path,
        d.filter(col("doc_id") % 4 === 3), e.filter(col("doc_id") % 4 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed, batchCut = Some(2L))
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/curated")
      .select(col("b").cast("long").as("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score"))
      .unionByName(served2.select(col("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score")))
      .orderBy("b", "doc_id")
  }

  /** Continuous curation with the LEXICAL LANE on (q149 × q159): the
    * stream loop where each batch's vectorless keepers curate through
    * the no-vector stages instead of being rejected — the real-crawl
    * shape where the embedder lags the crawler. Both batches carry
    * vectors for only half their docs (`doc_id % 8`); absorption
    * composes naturally — a lexical survivor's HASH joins the log (so
    * its later exact copy drops in batch 2: lane-crossing dedup the
    * oracle replays through `sh` = ALL survivor hashes), while the
    * member absorption's inner join contributes no member row for it.
    * Bench honesty: init + batch 1 build once per JVM; batch 2 is
    * served fresh (lane on, batchCut-fenced) every evaluation. */
  /** The q160/q161 shared lane-on stream store (built once per JVM:
    * init on the %4 ≤ 1 history, batch 1 = the %4 = 2 quarter with
    * vectors only for `doc_id % 8 = 2`, absorbed lane-on). */
  private def q160Store(s: SparkSession, dir: String): String = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q160" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-curlex-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    builtOnce(path) {
      CurationStream.init(
        d.filter(col("doc_id") % 4 <= 1), e.filter(col("doc_id") % 4 <= 1),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, path = path, seed = SampleSeed)
      CurationStream.applyBatch(
        d.filter(col("doc_id") % 4 === 2), e.filter(col("doc_id") % 8 === 2),
        "doc_id", "embedding", "lang", "source", "text",
        path, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = 1L,
        lexicalLane = true)
    }
    path
  }

  private def q160(s: SparkSession, dir: String): DataFrame = {
    val path = q160Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val served2 = Curation.serveBatch(s, path,
        d.filter(col("doc_id") % 4 === 3), e.filter(col("doc_id") % 8 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed, batchCut = Some(2L),
        lexicalLane = true)
      .withColumn("b", lit(2L))
    s.read.parquet(s"$path/curated")
      .select(col("b").cast("long").as("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score"))
      .unionByName(served2.select(col("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score")))
      .orderBy("b", "doc_id")
  }

  /** Per-doc audit in the STREAM setting (q155 × q160): batch 2 of the
    * lane-on crawl loop audited against the ACCUMULATED store — history
    * hashes now include batch 1's survivors from BOTH lanes, so
    * `exact_dup_history` can name a batch-1 LEXICAL survivor as the
    * reason (lane-crossing provenance nothing else certifies), and the
    * vectorless arm resolves through the lane ('quality' /
    * 'vectorless_curated'). Same frozen primitives, same batchCut
    * fence, same access paths as the serve q160 measures. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val path = q160Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Curation.auditBatch(s, path,
        d.filter(col("doc_id") % 4 === 3),
        e.filter(col("doc_id") % 8 === 3),
        "doc_id", "embedding", "lang", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed,
        batchCut = Some(2L), lexicalLane = true)
      .orderBy("doc_id")
  }

  /** Maximal duplicated-span report ([[SpanDedup.duplicatedSpans]]):
    * stride-1 8-gram fingerprints + island merge find every cross-doc
    * repeated run of ≥ 8 tokens at ARBITRARY offsets — the recall
    * [[TextOps.removeDuplicatedBlocks]]'s block grid (q81) explicitly
    * trades away (a passage straddling two block boundaries reports
    * here as ONE exact-width span). sf0.01: 47 spans, 11–93 tokens,
    * none block-aligned. */
  private def q162(s: SparkSession, dir: String): DataFrame =
    SpanDedup.duplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start")

  /** Exact-substring span CUT ([[SpanDedup.cutDuplicatedSpans]]): the
    * action to q162's report — every non-first occurrence of a
    * duplicated 8-gram loses its covered tokens, docs rebuild from the
    * survivors, pure-boilerplate docs vanish (q81's convention). The
    * per-gram (doc, pos) rank makes the keeper deterministic at any
    * offset, not just on q81's block grid. */
  private def q163(s: SparkSession, dir: String): DataFrame =
    SpanDedup.cutDuplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8)
      .orderBy("doc_id")

  /** Interleaved multimodal packing ([[Packing.packInterleaved]]): the
    * VLM-training layout — docs with media (doc_id % 4 = 0, the q59
    * condition) lead with a 64-token image placeholder, text follows
    * in 32-token chunks, and the item stream contiguous-fills
    * 256-token bins per source shard with within-doc order preserved.
    * `doc_straddles` marks the attention-mask boundary docs. Item
    * construction and both windows are per-shard/per-doc — nothing
    * global, the q45 scale rule. */
  private def q164(s: SparkSession, dir: String): DataFrame =
    Packing.packInterleaved(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", "text",
        hasMedia = col("doc_id") % 4 === 0, imageTokens = 64L,
        chunkTokens = 32, budgetTokens = 256L)
      .orderBy("doc_id", "item_idx")

  /** Incremental span cut ([[SpanDedup.serveSpanCut]]): the batch
    * (doc_id % 4 = 3) cut against the FROZEN gram store of the other
    * three quarters — the 100 TB shape, where history's per-token gram
    * log never re-shuffles (bloom misses skip the store entirely, hits
    * verify through a hit-pruned exact semi-join). Store built once
    * per JVM (q66/q83 convention — the first bench rep pays it).
    * Oracle replays the exact serve derivation: history's distinct
    * gram set ∪ the within-batch non-first rank, islands, cut,
    * ordered rebuild. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q165" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-gramstore-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      SpanDedup.writeGramStore(s, d.filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text", k = 8, path)
    }
    SpanDedup.serveSpanCut(s, path, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", k = 8)
      .orderBy("doc_id")
  }

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
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q166" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-spanstream-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
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
  }

  /** Gram-store retention fold ([[graft.streaming.SpanStream
    * .foldGrams]]): q166's loop continued one batch and folded
    * mid-history — after batches 1 (% 4 = 2) and 2 (% 8 = 3) the gram
    * chain compacts to one b=2 snapshot (relabel-union deduped on the
    * hash, bloom re-swept to the fold point), then batch 3 (% 8 = 7)
    * serves against the FOLDED store. The oracle is the 3-round chain
    * with NO idea a fold happened: folding is read-invisible to a
    * later batch's fenced serve — certified through the driver gate,
    * the q150 discipline on the gram log. Batch 3 serves fresh per
    * evaluation (bench honesty). */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q167" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-spanfold-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      SpanStream.init(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", k = 8, path)
      SpanStream.applyBatch(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", k = 8, path, batchId = 1L)
      SpanStream.applyBatch(d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", k = 8, path, batchId = 2L)
      SpanStream.foldGrams(s, path, upTo = 2L)
    }
    val prior = s.read.parquet(s"$path/clean")
      .select(col("b").cast("long").as("b"), col("doc_id"),
        col("clean_text"), col("n_kept"))
    val r3 = SpanDedup.serveSpanCut(s, path,
        d.filter(col("doc_id") % 8 === 7),
        "doc_id", "text", k = 8, batchCut = Some(3L))
      .select(lit(3L).as("b"), col("doc_id"), col("clean_text"),
        col("n_kept"))
    prior.unionByName(r3).orderBy("doc_id")
  }

  /** Hard-negative mining ([[Retrieval.hardNegatives]]): q12's exact
    * retrieval arm labeled by a same-source weak positive (the
    * in-fixture stand-in for "clicked/linked" relevance labels) — a
    * retrieved neighbor from the QUERY DOC'S OWN source is a positive,
    * everything else it retrieved is a contrastive negative, densely
    * re-ranked to the 5 hardest per query. The DPR/ANCE training-pair
    * prep over the engine's own certified arm. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val topk = Similarity.bruteForceTopK(e,
      e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 10)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val positives = topk.select(col("query_id"), col("neighbor_id"))
      .join(src.select(col("doc_id").as("query_id"),
        col("source").as("__qs")), Seq("query_id"))
      .join(src.select(col("doc_id").as("neighbor_id"),
        col("source").as("__ns")), Seq("neighbor_id"))
      .filter(col("__qs") === col("__ns"))
    Retrieval.hardNegatives(topk, positives, nNeg = 5)
      .orderBy("query_id", "neg_rank")
  }

  /** Margin-calibration audit of the quality classifier
    * ([[TextOps.nbScoreMargin]]): the held-out quarter scored by the
    * q122 split's NB model, confidence proxied by the EXACT top-2
    * log-score margin (a softmax posterior is cross-engine float
    * soup; the DECIMAL difference is bit-exact), binned at 0.25
    * log-units in scaled-integer arithmetic, per-bin empirical
    * accuracy — the reliability table that says whether "margin ≥ X"
    * is a trustworthy auto-accept gate for the curation pipeline. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val (classes, model) = TextOps.nbModelTables(
      d.filter(col("doc_id") % 4 =!= 3), "lang", "text")
    TextOps.nbScoreMargin(classes, model, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .select(
        expr("CAST(margin * 1000000 AS BIGINT) div 250000").as("bin"),
        when(col("pred") === col("lang"), lit(1L)).otherwise(lit(0L))
          .as("__ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("__ok")).as("n_correct"),
        round(sum(col("__ok")).cast("double") / count(lit(1)), 6)
          .as("accuracy"))
      .orderBy("bin")
  }

  /** Content-defined chunking ([[TextOps.chunkContentDefined]]):
    * token p ends a chunk when the 4-gram ending at p hashes ≡ 0
    * mod 16 — cut points are local content, so an edit moves only
    * nearby boundaries and chunk-level dedup survives crawl-snapshot
    * drift (the FastCDC property; stability law in TextOpsSpec).
    * Expected chunk ≈ 16 tokens vs q55's fixed 32-token grid. */
  private def q170(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkContentDefined(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 4, modulus = 16)
      .orderBy("doc_id", "chunk_idx")

  /** Per-source span-duplication rate: q162's maximal-span report
    * rolled up to the corpus-health view — per source, the docs
    * carrying at least one cross-doc span, the duplicated token mass,
    * and its share of the source's total tokens in exact basis points
    * (spans are disjoint maximal runs, so the mass is a plain sum) —
    * the "which domain ships the boilerplate" dashboard row that
    * decides where [[SpanDedup.cutDuplicatedSpans]] runs first. */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val spans = SpanDedup.duplicatedSpans(
        d.select(col("doc_id"), col("text")), "doc_id", "text", k = 8)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("__dup"), count(lit(1)).as("__ns"))
    d.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("__nt"))
      .join(spans, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__ns").isNotNull, 1L).otherwise(0L))
          .as("n_docs_with_spans"),
        sum(col("__nt")).as("n_tokens"),
        sum(coalesce(col("__dup"), lit(0L))).as("dup_tokens"),
        expr("CAST(sum(coalesce(__dup, 0)) * 10000 div sum(__nt) AS BIGINT)")
          .as("dup_bp"))
      .orderBy("source")
  }

  /** Perceptual image hashes ([[Multimodal.perceptualHash]]): every
    * payload rides the REAL wrap→DIB-parse→plane chain (q153's oracled
    * roundtrip) into the exact-integer aHash/dHash kernel — 64-bit
    * gradient and mean fingerprints, the re-encode-robust media
    * near-dup signal byte-feature ANN (q88/q129) cannot see. No float
    * resize anywhere, so the oracle replays every bit from the text's
    * UTF-8 bytes + the wrap's zero tail. */
  private def q181(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHash(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64)
      .orderBy("media_id")

  /** Media near-dup pairs ([[Multimodal.phashNearDups]]): dHash
    * Hamming ≤ 3 via the simhash pigeonhole (4 exact 16-bit chunks —
    * any pair within distance shares one, so candidates are an
    * equi-join, never n²). The oracle brute-forces all pairs, which
    * only the fixture can afford — the banded plan IS the scale path,
    * and the law they agree is the query. sf0.001: 22 pairs (11 exact
    * dups at distance 0 + near-encodes up to 3). */
  private def q182(s: SparkSession, dir: String): DataFrame =
    Multimodal.phashNearDups(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64, maxDist = 3)
      .orderBy("id_a", "id_b")

  /** The composed production pipeline, end to end in ONE query: the
    * curation serve (q147's frozen-store chain — exact dedup incl.
    * history, frozen-centroid semdedup, frozen-NB quality) feeds
    * span-level benchmark decontamination (q174's surgical cut against
    * the eval set's grams), and the surviving CLEAN text packs into
    * interleaved multimodal context-window bins whose shard manifest
    * (q176's receipt: counts, fill, image share, modular checksum) is
    * the output — the artifact a training job actually consumes. Every
    * stage is the already-oracled operator; the composition law is
    * that the full chain replays end to end (the oracle re-derives
    * serve → cut → pack → manifest from the raw tables). Stage order
    * matters and is the production order: decontaminate AFTER dedup
    * (fewer docs to scan) and BEFORE packing (bins must never contain
    * leaked eval text — a post-pack cut would leave holes in the
    * fill). Store shared with q147/q155 (frozen-artifact discipline);
    * the serve re-runs per rep — bench honesty, the cost IS the
    * measurement. */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val path = q147Store(s, dir)
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val served = Curation.serveBatch(s, path,
      d.filter(col("doc_id") % 4 === 3), e.filter(col("doc_id") % 4 === 3),
      "doc_id", "embedding", "lang", "source", "text",
      SemThrNum, SemThrDen, SemCap, SampleSeed)
    val survivors = d.select(col("doc_id"), col("text"))
      .join(served.select("doc_id"), Seq("doc_id"), "left_semi")
    val clean = SpanDedup.cutBenchmarkSpans(survivors, "doc_id", "text",
      d.filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text")),
      "doc_id", "text", k = 8)
    val packed = Packing.packInterleaved(
      clean.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("clean_text")),
      "source", "doc_id", "clean_text",
      hasMedia = col("doc_id") % 8 === 3, imageTokens = 64L,
      chunkTokens = 32, budgetTokens = 256L)
    val itemKey = concat_ws(":", col("modality"),
      col("doc_id").cast("string"), col("item_idx").cast("string"))
    packed
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("cost_tokens")).as("fill_tokens"),
        sum(when(col("modality") === "image", 1L).otherwise(0L))
          .as("n_images"),
        (sum(TextOps.hash60(itemKey) % 1000000000L) % 1000000000L)
          .as("checksum"))
      .orderBy("source", "bin")
  }

  /** Media near-dup keeper table ([[Multimodal.phashDedupClusters]]):
    * q182's perceptual pairs closed into clusters by the certified
    * min-label connected components, every decodable media row labeled
    * (cluster = smallest reachable id, keeper = itself) — the dedup
    * DECISION, where q182 is the evidence. Oracle: the brute-force
    * pair set + the q31 recursive-CTE reachability. */
  private def q184(s: SparkSession, dir: String): DataFrame =
    Multimodal.phashDedupClusters(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64, maxDist = 3)
      .orderBy("media_id")

  /** Incremental media dedup against a frozen phash store
    * ([[Multimodal.writePhashStore]]/[[Multimodal.servePhashDedup]]):
    * the q165 serve shape for IMAGES — history's perceptual index
    * persists once (16 bytes/image, the media bytes never travel
    * again), a new crawl batch band-joins it plus itself, and each
    * batch image reports `dup_of` (history wins over within-batch, the
    * store-keeper convention) or `is_fresh`. Store built once per JVM
    * (q66/q165 discipline — the first bench rep pays it); the oracle
    * brute-forces both match sets, so the banding is certified as pure
    * access path. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q185" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-phashstore-$tag"
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    builtOnce(path) {
      Multimodal.writePhashStore(mt(d.filter(col("doc_id") % 4 =!= 3)),
        width = 64, path)
    }
    Multimodal.servePhashDedup(s, path,
        mt(d.filter(col("doc_id") % 4 === 3)), width = 64, maxDist = 3)
      .orderBy("media_id")
  }

  /** Continuous media dedup — the phash store MAINTAINED across crawl
    * batches (q166's absorption chain for images): batch 1 serves
    * against history (fenced, `b < 1`) and its FRESH keepers' hashes
    * absorb under `b = 1` ([[Multimodal.appendPhash]], idempotent
    * dynamic overwrite); batch 2 then serves against history ∪ batch-1
    * keepers — a batch-2 re-encode of a batch-1 image is caught by the
    * absorbed index, which the oracle replays round by round. Store
    * build + round 1 persist once per JVM; round 2 serves FRESH per
    * rep behind the `b < 2` fence (the q149 bench-honesty discipline). */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q186" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-phashstream-$tag"
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    builtOnce(path) {
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
  }

  /** q186's chain + a THIRD round with a retention fold between —
    * [[graft.streaming.PhashStream.foldPhash]] compacts batches
    * b ≤ 2 into one snapshot between rounds 2 and 3, and the oracle
    * has NO idea (read-invisibility through the `b < 3` fence — the
    * q167/q150 discipline on the media index). Store chain built once
    * per JVM; round 3 serves fresh per rep. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PhashStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q187" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-phfold-$tag"
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    builtOnce(path) {
      PhashStream.init(mt(d.filter(col("doc_id") % 4 <= 1)),
        width = 64, path)
      PhashStream.applyBatch(mt(d.filter(col("doc_id") % 4 === 2)),
        width = 64, maxDist = 3, path, batchId = 1L)
      PhashStream.applyBatch(mt(d.filter(col("doc_id") % 8 === 3)),
        width = 64, maxDist = 3, path, batchId = 2L)
      PhashStream.foldPhash(s, path, upTo = 2L)
    }
    val served3 = Multimodal.servePhashDedup(s, path,
        mt(d.filter(col("doc_id") % 8 === 7)),
        width = 64, maxDist = 3, batchCut = Some(3L))
      .withColumn("b", lit(3L))
    s.read.parquet(s"$path/served")
      .select(col("b").cast("long").as("b"), col("media_id"),
        col("dup_of"), col("is_fresh"))
      .unionByName(served3.select(col("b"), col("media_id"),
        col("dup_of"), col("is_fresh")))
      .orderBy("b", "media_id")
  }

  /** Media contamination report ([[Multimodal.phashLeaks]]) — q173's
    * story for images: the eval set's perceptual hashes persist as the
    * benchmark index (doc_id % 50 = 0 plays the image benchmark) and
    * every TRAINING image within Hamming ≤ 3 of any eval image is
    * flagged with its CLOSEST eval match and the count of distinct
    * eval images it leaks — a re-encoded benchmark image is exactly
    * what byte-level checks miss and this catches. Within-batch
    * matches deliberately not consulted (contamination is
    * batch-vs-benchmark only). */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q188" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-phbench-$tag"
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    builtOnce(path) {
      Multimodal.writePhashStore(mt(d.filter(col("doc_id") % 50 === 0)),
        width = 64, path)
    }
    Multimodal.phashLeaks(s, path,
        mt(d.filter(col("doc_id") % 50 =!= 0)), width = 64, maxDist = 3)
      .orderBy("media_id")
  }

  /** Duplicate-heavy media near-dup clusters — the round-18 hot-bucket
    * collapse oracled end-to-end on the blank-thumbnail regime: 10% of
    * the corpus collapses onto 8 identical planted payloads (the
    * mega-cluster input the uncollapsed banded join melted on — 762 s
    * vs 10 s at the 10× storm, docs/SCALE.md), the rest keep their
    * real text. Clusters come from the SPARSE edge set
    * ([[graft.operators.Hamming.sparseEdges]]: star within
    * identical-hash groups + rep-level near-dup edges — linear where
    * all-pairs is quadratic); the oracle re-derives the skewed corpus
    * in SQL and replays brute-force pairs + recursive reachability,
    * so collapse ≡ brute force is certified WITH the skew present,
    * not just on q184's distinct-ish corpus. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 7,
        concat(lit("blank thumbnail "),
          expr("repeat(concat('variant', CAST(doc_id % 8 AS STRING), ' '), 12)")))
        .otherwise(col("text")).as("text"))
    Multimodal.phashDedupClusters(
        Multimodal.asMediaTable(d, "doc_id", "text", "image"),
        width = 64, maxDist = 3)
      .orderBy("media_id")
  }

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
  private def q190(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PhashStream
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q190" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-phfull-$tag"
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    builtOnce(path) {
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
  }

  /** Guarded span cut ([[SpanDedup.cutDuplicatedSpans]] with
    * `minSpanTokens = 24`): the production exact-substring default —
    * only repeats of 24+ tokens cut (q163 cuts everything ≥ 8), so
    * short recurring phrases survive while licenses/boilerplate go.
    * The guard filters maximal ISLANDS post-merge, never their short
    * sub-repeats. sf0.01: 487 docs / 25,945 tokens survive vs q163's
    * 486 / 25,911. */
  private def q179(s: SparkSession, dir: String): DataFrame =
    SpanDedup.cutDuplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8, minSpanTokens = 24)
      .orderBy("doc_id")

  /** Windowed PCM energy / VAD gate ([[Multimodal.pcmWindowEnergy]]):
    * every doc's payload rides the REAL wrap→RIFF-parse→plane chain
    * (q152's oracled identity) and the plane scores 16-sample windows
    * by exact integer energy Σ (sample − 128)²; `active` gates at
    * 40 000 — the silence-trim decision audio pipelines make before
    * transcription. Oracle replays from the text's UTF-8 bytes, which
    * the roundtrip law makes the plane's exact content. */
  private def q178(s: SparkSession, dir: String): DataFrame =
    Multimodal.pcmWindowEnergy(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "audio"),
        sampleRate = 16000, windowSamples = 16, activeThreshold = 40000L)
      .orderBy("media_id", "window_idx")

  /** Store-backed decontamination ([[SpanDedup.cutSpansAgainstStore]]):
    * eval sets ARRIVE — the first (doc_id % 50 = 0) seeds the
    * benchmark gram store, a second (doc_id % 50 = 25) absorbs under
    * b=1 — and the corpus decontaminates against the accumulated
    * union through the same bloom split the span serve uses (misses
    * definitively clean). The incremental sibling of q174's one-shot
    * cut; ≡-direct and ≡-plain laws in SpanDedupSpec. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q177" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-benchstore-$tag"
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    builtOnce(path) {
      SpanDedup.writeGramStore(s, d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 8, path)
      SpanDedup.appendGrams(d.filter(col("doc_id") % 50 === 25),
        "doc_id", "text", k = 8, path, batchId = 1L)
    }
    SpanDedup.cutSpansAgainstStore(s, path,
        d.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 25),
        "doc_id", "text", k = 8)
      .orderBy("doc_id")
  }

  /** Shard manifest over the interleaved packing (q164): one row per
    * (source shard, bin) with item/doc counts, the token fill, the
    * image share, and an order-independent modular content checksum
    * (Σ hash60(modality:doc:item) mod 1e9 — exact in both engines,
    * no overflow at any bin size) — the receipt a training job uses
    * to verify the shards it read are the shards the pipeline wrote.
    * Pure aggregate above q164's join-free plan. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val packed = Packing.packInterleaved(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text")),
      "source", "doc_id", "text",
      hasMedia = col("doc_id") % 4 === 0, imageTokens = 64L,
      chunkTokens = 32, budgetTokens = 256L)
    val itemKey = concat_ws(":", col("modality"),
      col("doc_id").cast("string"), col("item_idx").cast("string"))
    packed
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("cost_tokens")).as("fill_tokens"),
        sum(when(col("modality") === "image", 1L).otherwise(0L))
          .as("n_images"),
        (sum(TextOps.hash60(itemKey) % 1000000000L) % 1000000000L)
          .as("checksum"))
      .orderBy("source", "bin")
  }

  /** Hard-negative REFRESH across an index update (the ANCE training
    * loop's data half): round 1 mines negatives against the IVF index
    * over the old corpus; the new crawl batch (vec_id % 10 = 0)
    * appends to the frozen-centroid index (q83's discipline — no
    * retrain, no rewrite); round 2 re-mines against the updated index
    * and the freshly-indexed docs start appearing as negatives. Both
    * index states persist once per JVM (two frozen stores — a rep
    * never mutates), every rep probes both. Oracle = q83's
    * assign-all-at-once replay per state + the q168 label filter. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q175" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-anceref-$tag"
    val e = Tables.embeddings(s, dir)
    val old = e.filter(col("vec_id") % 10 =!= 0)
    val fresh = e.filter(col("vec_id") % 10 === 0)
    builtOnce(path) {
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(old, "vec_id", "embedding",
          nCentroids = 16, iters = 0), s"$path/r1")
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(old, "vec_id", "embedding",
          nCentroids = 16, iters = 0), s"$path/r2")
      Similarity.appendToIvfIndex(s, s"$path/r2", fresh,
        "vec_id", "embedding")
    }
    val queries = e.filter(col("vec_id") % 50 === 0)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    def mine(sub: String, round: Long) = {
      val topk = Similarity.probeIvfIndex(
        Similarity.readIvfIndex(s, s"$path/$sub"), queries,
        "vec_id", "embedding", k = 10, nProbe = 4)
      val positives = topk.select(col("query_id"), col("neighbor_id"))
        .join(src.select(col("doc_id").as("query_id"),
          col("source").as("__qs")), Seq("query_id"))
        .join(src.select(col("doc_id").as("neighbor_id"),
          col("source").as("__ns")), Seq("neighbor_id"))
        .filter(col("__qs") === col("__ns"))
      Retrieval.hardNegatives(topk, positives, nNeg = 5)
        .select(lit(round).as("round"), col("query_id"), col("neg_rank"),
          col("neighbor_id"), col("cosine"))
    }
    mine("r1", 1L).unionByName(mine("r2", 2L))
      .orderBy("round", "query_id", "neg_rank")
  }

  /** Span-level contamination report ([[SpanDedup.benchmarkSpans]]):
    * the eval set is the doc_id % 50 = 0 slice; every other doc
    * reports the maximal runs it shares verbatim with it — WHERE the
    * leak sits, not just q44's how-much. The fixture's planted
    * repeats make real multi-span hits. */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    SpanDedup.benchmarkSpans(d.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text",
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start")
  }

  /** Surgical decontamination ([[SpanDedup.cutBenchmarkSpans]]): cut
    * exactly q173's spans out of the corpus — the per-passage
    * alternative to dropping whole documents (q124/q128 drop; this
    * keeps the doc minus the leak). Docs reduced to nothing vanish. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    SpanDedup.cutBenchmarkSpans(d.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text",
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 8)
      .orderBy("doc_id")
  }

  /** Cross-snapshot chunk reuse ([[TextOps.chunkContentDefined]] run
    * on two crawl snapshots): snapshot B re-crawls A with one doc in
    * five prefix-edited; per doc, how many of B's chunks already
    * existed in A's chunking of the SAME doc (exact multiset
    * intersection on chunk text — duplicate chunk texts inside a doc
    * count with multiplicity). This is WHY chunking is
    * content-defined: edited docs still reuse all but the
    * boundary-local chunks, so chunk-level storage/dedup/embedding
    * caches survive the re-crawl; a fixed grid would re-pay every
    * chunk of every edited doc (q170's spec pins that contrast). */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val edited = d.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit("recrawl banner tokens "), col("text")))
        .otherwise(col("text")).as("text"))
    def counts(df: DataFrame) =
      TextOps.chunkContentDefined(df, "doc_id", "text", k = 4, modulus = 16)
        .groupBy(col("doc_id"), col("chunk_text"))
        .agg(count(lit(1)).as("__n"))
    val a = counts(d).withColumnRenamed("__n", "__na")
    counts(edited).withColumnRenamed("__n", "__nb")
      .join(a, Seq("doc_id", "chunk_text"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("__nb")).as("n_chunks"),
        sum(least(col("__nb"), coalesce(col("__na"), lit(0L))))
          .as("n_reused"))
      .withColumn("edited", col("doc_id") % 5 === 0)
      .orderBy("doc_id")
  }

  /** Vocabulary growth curve (Heaps' law audit) over BIGRAMS — the
    * unit BPE merges (q116) operate on, and the one that still grows
    * at this fixture's scale (the 31-word unigram vocab saturates in
    * decile 0): the corpus in doc_id-order deciles; per decile the
    * bigram occurrences, the bigrams seen for the FIRST time, and the
    * cumulative vocabulary — the table a tokenizer/merge budget is
    * planned against: a curve still steep at decile 9 means the vocab
    * is undersized for the corpus. One generate → distinct (map-side
    * combined) → min-decile per bigram → a ≤10-row window; nothing
    * data-sized crosses the final aggregate. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val bound = d.agg((max(col("doc_id")) + 1).as("__n"))
    val a = col("__a")
    val toks = d.crossJoin(broadcast(bound))
      .select(expr("doc_id * 10 div __n").as("decile"),
        TextOps.tokens(col("text")).as("__a"))
      .select(col("decile"), a,
        explode(when(size(a) >= 2, sequence(lit(1), size(a) - 1)))
          .as("__s"))
      .select(col("decile"),
        concat_ws(" ", slice(a, col("__s"), lit(2))).as("tok"))
    val occ = toks.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_occurrences"))
    val firsts = toks.distinct()
      .groupBy(col("tok")).agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_new_tokens"))
    occ.join(firsts, Seq("decile"), "left")
      .select(col("decile"), col("n_occurrences"),
        coalesce(col("n_new_tokens"), lit(0L)).as("n_new_tokens"))
      .withColumn("cumulative_vocab",
        sum(col("n_new_tokens")).over(org.apache.spark.sql.expressions
          .Window.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, 0)))
      .orderBy("decile")
  }

  /** Curation-store retention fold
    * ([[graft.streaming.CurationStream.foldStore]]): q149's loop with
    * the q140/q115 lifecycle move applied to the SERVE-PATH artifacts —
    * after batches 1 (%4 = 2) and 2 (%8 = 3), `sem/members` and
    * `hashes` history is folded into one b=2 snapshot, then batch 3
    * (%8 = 7) is served against the FOLDED store. The oracle is the
    * 3-round curation chain with NO idea a fold happened: folding is a
    * pure relabel-union deduped on the store's unique keys, and a
    * later batch's cut (`b < 3`) sees the identical hash set and
    * member rows either way — read-invisibility certified through the
    * driver gate, the q140-reuses-q127 discipline at the curation
    * level. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q150" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-curfold-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def slice(df: DataFrame, m: Int, r: Int) =
      df.filter(col("doc_id") % m === r)
    builtOnce(path) {
      CurationStream.init(
        d.filter(col("doc_id") % 4 <= 1), e.filter(col("doc_id") % 4 <= 1),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, path = path, seed = SampleSeed)
      Seq((4, 2, 1L), (8, 3, 2L)).foreach { case (m, r, b) =>
        CurationStream.applyBatch(slice(d, m, r), slice(e, m, r),
          "doc_id", "embedding", "lang", "source", "text",
          path, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = b)
      }
      CurationStream.foldStore(s, path, upTo = 2L)
    }
    // bench honesty (r14 verdict #2, as in q149): batch 3 is SERVED
    // FRESH per evaluation against the FOLDED store — the measured body
    // is the post-fold serve path (incl. the rebuilt hash bloom), not a
    // read of previously-written output
    val served3 = Curation.serveBatch(s, path,
        slice(d, 8, 7), slice(e, 8, 7),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed, batchCut = Some(3L))
      .withColumn("b", lit(3L))
    s.read.parquet(s"$path/curated")
      .select(col("b").cast("long").as("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score"))
      .unionByName(served3.select(col("b"), col("doc_id"), col("source"),
        col("lang"), col("cluster"), col("bpe_tokens"), col("dsir_score")))
      .orderBy("b", "doc_id")
  }

  /** Classifier drift — WHEN to retrain the frozen quality model
    * (q120's tokenizer-drift question asked of the NB classifier, and
    * the missing piece of the frozen-artifact story: q146/q147/q149
    * all serve a frozen NB and declare retraining "a scheduled offline
    * move" — this is the signal that schedules it). Two models score
    * the WHOLE corpus: the frozen one (trained on the %4 ≠ 3 history,
    * exactly q146's artifact) and a retrained one (all documents).
    * Per language: how often they disagree (`drift_bp`, basis points)
    * and each model's self-consistency against the labeled corpus —
    * all exact integers, so the oracle replays two namespaced NB
    * chains and compares predictions row for row. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val frozen = TextOps.nbTrainPredict(
        d.filter(col("doc_id") % 4 =!= 3), d, "doc_id", "lang", "text")
      .select(col("doc_id"), col("pred").as("__pf"))
    val retrained = TextOps.nbTrainPredict(d, d, "doc_id", "lang", "text")
      .select(col("doc_id"), col("pred").as("__pr"))
    d.select(col("doc_id"), col("lang"))
      .join(frozen, Seq("doc_id"))
      .join(retrained, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__pf") === col("__pr"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("__pf") === col("lang"), 1L).otherwise(0L))
          .as("n_frozen_correct"),
        sum(when(col("__pr") === col("lang"), 1L).otherwise(0L))
          .as("n_retrained_correct"))
      .withColumn("drift_bp",
        expr("(n_docs - n_agree) * 10000 DIV n_docs"))
      .orderBy("lang")
  }

  /** Epoch-versioned curation with an atomic swap
    * ([[graft.streaming.CurationEpochs]]) — the drift→retrain loop
    * CLOSED: q151's report schedules the retrain, this is the retrain
    * reaching a live serve loop. Epoch 0 trains on the %4 ≤ 1 history
    * and serves batch 1 (%4 = 2, absorbed); the offline retrain then
    * builds a COMPLETE epoch-1 store on the grown corpus (%4 ≤ 2) and
    * publishes it — one atomic marker create — so batch 2 (%4 = 3)
    * serves entirely against the fresh store. The output is all curated
    * rows, each carrying the epoch that served it. The oracle replays
    * the two epochs as two independent serve chains (nested-WITH
    * subqueries): epoch 1's history is exactly the retrain corpus, so
    * a swap that leaked ANY pre-swap state — old centroids, old hash
    * log, old NB/BPE/DSIR tables — would hash-mismatch. Swap atomicity
    * (unpublished epoch invisible; redelivery honors the batch's
    * pinned epoch across a swap) is law-pinned in CurationStreamSpec. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q154" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-curepoch-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    builtOnce(root) {
      CurationEpochs.initEpoch(
        d.filter(col("doc_id") % 4 <= 1), e.filter(col("doc_id") % 4 <= 1),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, root = root, epoch = 0L, seed = SampleSeed)
      CurationEpochs.applyBatchEpoch(
        d.filter(col("doc_id") % 4 === 2), e.filter(col("doc_id") % 4 === 2),
        "doc_id", "embedding", "lang", "source", "text",
        root, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = 1L)
      // the scheduled offline retrain: a full epoch-1 store on the
      // grown corpus, then the atomic swap
      CurationEpochs.initEpoch(
        d.filter(col("doc_id") % 4 <= 2), e.filter(col("doc_id") % 4 <= 2),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, root = root, epoch = 1L, seed = SampleSeed)
    }
    // bench honesty (r14 verdict #2): the post-swap batch is SERVED
    // FRESH per evaluation against the retrained epoch-1 store — the
    // exact serve a pinned applyBatchEpoch(batchId=2) runs (pin and
    // redelivery laws live in CurationStreamSpec); the measured body is
    // the post-swap serve path, never a read-back
    val served = Curation.serveBatch(s, CurationEpochs.epochPath(root, 1L),
        d.filter(col("doc_id") % 4 === 3), e.filter(col("doc_id") % 4 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed, batchCut = Some(2L))
      .withColumn("epoch", lit(1L)).withColumn("b", lit(2L))
    CurationEpochs.readCurated(s, root)
      .select(col("epoch"), col("b").cast("long").as("b"), col("doc_id"),
        col("source"), col("lang"), col("cluster"), col("bpe_tokens"),
        col("dsir_score"))
      .unionByName(served.select(col("epoch"), col("b"), col("doc_id"),
        col("source"), col("lang"), col("cluster"), col("bpe_tokens"),
        col("dsir_score")))
      .orderBy("epoch", "doc_id")
  }

  /** Epoch retention ([[CurationEpochs.foldEpochs]]): q154's versioned
    * loop run long enough that retention matters — three epochs each
    * serve one batch (epoch 0 on the %4 ≤ 1 history serves %4 = 2;
    * epoch 1, retrained on %4 ≤ 2, serves %8 = 3; epoch 2, retrained on
    * %8 ≠ 7, is published), then the chain is FOLDED to the serving
    * epoch + 1 (epoch 0's curated output compacts into the consolidated
    * archive and its full store is deleted) and the final batch
    * (%8 = 7) is served fresh per evaluation against epoch 2. The
    * oracle replays the three serve chains with NO idea a fold
    * happened: [[CurationEpochs.readCurated]] must return the archived
    * epoch's rows bit-identically from the archive — the q150
    * read-invisibility discipline applied to the epoch chain (round-15
    * verdict #5: unbounded epoch lists and superseded stores were the
    * last unbounded growth on the serve side). */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q158" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-curefold-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def epochOn(docPred: org.apache.spark.sql.Column,
                vecPred: org.apache.spark.sql.Column, epoch: Long): Unit =
      CurationEpochs.initEpoch(
        d.filter(docPred), e.filter(vecPred),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, root = root, epoch = epoch, seed = SampleSeed)
    builtOnce(root) {
      epochOn(col("doc_id") % 4 <= 1, col("doc_id") % 4 <= 1, 0L)
      CurationEpochs.applyBatchEpoch(
        d.filter(col("doc_id") % 4 === 2), e.filter(col("doc_id") % 4 === 2),
        "doc_id", "embedding", "lang", "source", "text",
        root, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = 1L)
      epochOn(col("doc_id") % 4 <= 2, col("doc_id") % 4 <= 2, 1L)
      CurationEpochs.applyBatchEpoch(
        d.filter(col("doc_id") % 8 === 3), e.filter(col("doc_id") % 8 === 3),
        "doc_id", "embedding", "lang", "source", "text",
        root, SemThrNum, SemThrDen, SemCap, SampleSeed, batchId = 2L)
      epochOn(col("doc_id") % 8 =!= 7, col("doc_id") % 8 =!= 7, 2L)
      CurationEpochs.foldEpochs(s, root, keep = 2)
    }
    // bench honesty (the q149/q154 shape): the final batch is SERVED
    // FRESH per evaluation against the post-fold serving epoch — the
    // measured body is the serve path over a folded epoch chain
    val served = Curation.serveBatch(s, CurationEpochs.epochPath(root, 2L),
        d.filter(col("doc_id") % 8 === 7), e.filter(col("doc_id") % 8 === 7),
        "doc_id", "embedding", "lang", "source", "text",
        SemThrNum, SemThrDen, SemCap, SampleSeed, batchCut = Some(3L))
      .withColumn("epoch", lit(2L)).withColumn("b", lit(3L))
    CurationEpochs.readCurated(s, root)
      .select(col("epoch"), col("b").cast("long").as("b"), col("doc_id"),
        col("source"), col("lang"), col("cluster"), col("bpe_tokens"),
        col("dsir_score"))
      .unionByName(served.select(col("epoch"), col("b"), col("doc_id"),
        col("source"), col("lang"), col("cluster"), col("bpe_tokens"),
        col("dsir_score")))
      .orderBy("epoch", "doc_id")
  }

  /** Drift-gated retrain ([[CurationEpochs.retrainIfDrifted]]): the
    * signal→action wiring — q151 reports drift, q154 swaps epochs, this
    * is the scheduler tick that CONSUMES the report and decides. Two
    * gates run against the epoch-0 store (trained on %4 ≤ 1) with the
    * grown %4 ≤ 2 corpus: one at an unreachable threshold (10001 bp —
    * drift is ≤ 10000 by construction, so it can never publish) and one
    * at 1 bp (publishes iff the models disagree at all). The output is
    * the gate's append-only decision log; the oracle replays the drift
    * (two namespaced NB chains, exact-integer agreement, floor-div bp)
    * AND the decision CASE, so a gate that lied about its own signal or
    * its action would hash-mismatch. */
  /** The q156/q157 shared gate root (built once per JVM, the q147Store
    * convention): epoch 0 trained on the %4 ≤ 1 history, then the two
    * gates run against the grown %4 ≤ 2 corpus. */
  private def q156Root(s: SparkSession, dir: String): String = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q156" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-curgate-$tag"
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    builtOnce(root) {
      CurationEpochs.initEpoch(
        d.filter(col("doc_id") % 4 <= 1), e.filter(col("doc_id") % 4 <= 1),
        "doc_id", "embedding", "lang", "text",
        k = KmeansK, iters = KmeansIters,
        numMerges = BpeMerges, maxWords = BpeMaxWords,
        dsirTarget = col("source").isin("src0", "src1"),
        dsirBuckets = 256, root = root, epoch = 0L, seed = SampleSeed)
      Seq((10001L, 1L), (1L, 2L)).foreach { case (thr, seq) =>
        CurationEpochs.retrainIfDrifted(
          d.filter(col("doc_id") % 4 <= 2), e.filter(col("doc_id") % 4 <= 2),
          "doc_id", "embedding", "lang", "text",
          k = KmeansK, iters = KmeansIters,
          numMerges = BpeMerges, maxWords = BpeMaxWords,
          dsirTarget = col("source").isin("src0", "src1"),
          dsirBuckets = 256, root = root, newEpoch = 1L,
          thresholdBp = thr, gateSeq = seq, seed = SampleSeed)
      }
    }
    root
  }

  private def q156(s: SparkSession, dir: String): DataFrame = {
    val root = q156Root(s, dir)
    s.read.parquet(s"$root/_gate")
      .select("gate_seq", "threshold_bp", "drift_bp", "published",
        "serving_epoch")
      .orderBy("gate_seq")
  }

  /** The drift gate's SIGNAL path, replay-only
    * ([[CurationEpochs.driftSignal]]): the grown %4 ≤ 2 corpus scored
    * through epoch 0's STORED NB and through a candidate retrained on
    * the corpus, reduced to the exact-integer disagreement row the gate
    * decides on. q156's measured body is a once-per-JVM log read-back
    * (a published gate mutates state — re-gating per rep would measure
    * a different question), which left the gate's expensive part — two
    * full scoring passes — without a band (round-15 verdict #4); this
    * query IS that part, idempotent per rep, so the bench bands it.
    * [[CurationEpochs.retrainIfDrifted]] consumes exactly this row,
    * and the oracle replays both NB chains. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val root = q156Root(s, dir)
    CurationEpochs.driftSignal(s,
      s"${CurationEpochs.epochPath(root, 0L)}/nb",
      Tables.documents(s, dir).filter(col("doc_id") % 4 <= 2),
      "doc_id", "lang", "text")
  }

  /** Real-codec certification, audio: wrap each document's bytes as a
    * PCM-8 mono WAV and read every header field back through the REAL
    * RIFF parser ([[Multimodal.wavRoundtrip]]) — frames, sample rate,
    * channel count, file size — plus the md5 of the extracted channel-0
    * plane, which must equal the md5 of the original payload (PCM-8
    * mono stores the bytes verbatim). The oracle replays the header
    * arithmetic from the text length and hashes the text directly: a
    * parser that didn't actually read the file could not match. */
  private def q152(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavRoundtrip(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "audio"),
        sampleRate = 16000)
      .orderBy("media_id")

  /** Real-codec certification, image: the BMP twin of [[q152]] —
    * top-down 8-bpp grayscale BMPs of width 4, decoded back through the
    * real DIB parser ([[Multimodal.bmpRoundtrip]]). Restricted to
    * payloads whose length divides the width so the extracted plane is
    * the payload EXACTLY (no zero tail) and the oracle can hash the
    * text verbatim. */
  private def q153(s: SparkSession, dir: String): DataFrame =
    Multimodal.bmpRoundtrip(
        Multimodal.asMediaTable(
          Tables.documents(s, dir)
            // BYTE length (octet_length = UTF-8 bytes), not characters:
            // asMediaTable encodes text as UTF-8 and bmpWrapGray8 pads
            // rows on BYTES, so a char-based filter desyncs from the
            // padding on any non-ASCII doc (round-15 advice)
            .filter(octet_length(col("text")) % 4 === 0 &&
              octet_length(col("text")) > 0),
          "doc_id", "text", "image"),
        width = 4)
      .orderBy("media_id")

  /** Audit→action salted join ([[Shuffles.saltedJoinBySkew]]): q145's
    * skew audit measures and q64's salting rewrites — this closes the
    * loop, running the audit's ppm decision rule inline and salting
    * EXACTLY the keys above threshold (7000 ppm of the event stream):
    * hot fact rows spread over 8 salts with only the hot dim rows
    * replicated, cold rows join plain with zero replication. The
    * fixture exercises every decision regime across the driver's SFs —
    * all 15 users are hot at sf0.001, a handful at sf0.01, none at
    * sf0.1 — and the oracle replays audit + decision + join: the join
    * result must equal the PLAIN join whatever the threshold (the
    * rewrite is semantics-preserving), and `n_hot_users` replays the
    * integer ppm decision itself. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("value"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    // the production split: audit ONCE, reuse the hot set for the join
    // AND the report column (q64's lesson applied to the audit itself)
    val hotKeys = Shuffles.hotKeysByShare(ev, "user_id", thresholdPpm = 7000L)
      .localCheckpoint(eager = true)
    val joined = Shuffles.saltedJoinHot(ev, cust, "user_id",
      salts = 8, hotKeys = hotKeys)
    val hot = hotKeys.withColumn("__hot", lit(1L))
    joined.join(broadcast(hot), Seq("user_id"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        countDistinct(when(col("__hot") === 1L, col("user_id")))
          .as("n_hot_users"))
      .orderBy("c_mktsegment")
  }

  /** PQ-ADC retrieval ([[Similarity.pqTopK]]): product quantization
    * over the fixture embeddings — 4 subspaces × 16-code integer
    * codebooks (a stored vector is 4 codes: 64× under f32), queries
    * score every corpus vector by summing 4 exact-integer lookup
    * distances. Ranks are pure integer comparisons, so the oracle —
    * four namespaced k-means training chains + codes + lookup tables
    * + ADC ranking — replays with no rounding convention at all. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, m = PqM, codebookK = PqCodebookK,
        iters = PqIters, k = PqK)
      .orderBy("query_id", "rank")
  }

  private val PqM = 4
  private val PqCodebookK = 16
  private val PqIters = 2
  private val PqK = 5
  private val PqShortlist = 25
  private val IvfPqCoarse = 8
  private val IvfPqCoarseIters = 1
  private val IvfPqCodebookK = 8
  private val IvfPqIters = 1
  private val IvfPqProbe = 2

  /** PQ shortlist + exact rerank ([[Similarity.pqTopKReranked]]):
    * the production PQ recipe — ADC names 25 candidates from the
    * codes table, the exact integer L2 over the full int8 vectors of
    * just those candidates decides the final top-5; `q_rank` shows
    * how much the exact pass reordered. The oracle replays chains,
    * shortlist cut and rerank. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopKReranked(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, m = PqM, codebookK = PqCodebookK,
        iters = PqIters, k = PqK, shortlist = PqShortlist)
      .orderBy("query_id", "rank")
  }

  /** Persisted PQ index lifecycle ([[Similarity.buildPqIndex]] →
    * append → probe): codebooks train on the vec_id%4≤1 slice only,
    * the rest of the corpus is ENCODED against the frozen codebooks
    * and appended (the q83 IVF discipline at PQ's 64× compression),
    * then ADC serves from the stored codes — the probe plan touches
    * no corpus vector at all. Oracle: the four chains train under the
    * same predicate, codes come from frozen ROUTING of every row, ADC
    * ranks as in q130. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val tag = (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      "q132" + dir + s.sparkContext.applicationId)) % 1000000).toString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-pqidx-$tag"
    val e = Tables.embeddings(s, dir)
    builtOnce(path) {
      Similarity.buildPqIndex(e.filter(col("vec_id") % 4 <= 1),
        "vec_id", "embedding", dim = 64, m = PqM,
        codebookK = PqCodebookK, iters = PqIters, path)
      Similarity.appendToPqIndex(s, path, e.filter(col("vec_id") % 4 >= 2),
        "vec_id", "embedding", dim = 64)
    }
    Similarity.probePqIndex(s, path, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, k = PqK)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ residual retrieval ([[Similarity.ivfPqTopK]]): the coarse
    * inverted-list quantizer (q97's integer k-means) composed with PQ
    * codebooks trained on RESIDUALS from each list's centroid — the
    * faiss-IVFADC serving shape, engine-exact. A query probes its 2
    * nearest of 8 lists and ADC-scores only those lists' codes; every
    * distance in the composition is an exact integer, so the oracle
    * replays the coarse chain, routing, residual derivation, all four
    * codebook chains, the probes, the lookup tables, and the ranking.
    * `cid` names the list each neighbor was served from (audit). */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64,
        nCoarse = IvfPqCoarse, coarseIters = IvfPqCoarseIters,
        m = PqM, codebookK = IvfPqCodebookK, pqIters = IvfPqIters,
        nProbe = IvfPqProbe, k = PqK)
      .orderBy("query_id", "rank")
  }

  /** q135 under the PRODUCTION train/serve split (q132's discipline
    * uniformly across the index family): the coarse quantizer and all
    * four residual codebooks train on the vec_id % 4 ≤ 1 slice ONLY;
    * the whole corpus — held-out rows included — is then frozen-routed
    * and frozen-encoded through the fixed models, and queries are
    * served exactly as in q135. This is the shape a 100 TB deployment
    * actually runs (train once on a sample, encode forever); the
    * oracle replays the split chains, the frozen routing/encoding of
    * every row, and the ADC ranking — all exact integers. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64,
        nCoarse = IvfPqCoarse, coarseIters = IvfPqCoarseIters,
        m = PqM, codebookK = IvfPqCodebookK, pqIters = IvfPqIters,
        nProbe = IvfPqProbe, k = PqK,
        train = Some(e.filter(col("vec_id") % 4 <= 1)))
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval ([[Retrieval.rrfFuse]]): the lexical arm (q85's
    * BM25 over first-five-token queries) and the dense arm (q12's
    * exact cosine over the aligned embedding rows) fused by
    * reciprocal rank — scaled-integer contributions, so the fused
    * score and ranking are exact with no cross-arm calibration.
    * `lex_rank`/`vec_rank` ride along as the per-arm audit (NULL =
    * that arm missed the doc). The query set is doc_id ≡ 0 mod 100 on
    * BOTH arms (doc_id and vec_id are the same key space). */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    val lex = TextOps.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val e = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq("lex" -> lex, "vec" -> vec), k = 10)
      .orderBy("query_id", "rank")
  }

  /** Ranking-quality metrics ([[Retrieval.rankingMetrics]]): q92's
    * recall audit says WHETHER the exact top-10 came back per arm —
    * this says WHERE: MRR over the first relevant hit and
    * micro-averaged binary nDCG@10, for the same three approximate
    * arms against the same exact ground truth. The DCG discount table
    * is precomputed scaled integers inlined into both engines (there
    * is no cross-engine log2 to agree on), so every sum is exact and
    * only the two final ratios round. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id",
        "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val arms = Seq(
      "lsh" -> Similarity.lshTopK(e, queries, "vec_id", "embedding",
        k = 10, nPlanes = 4, nTables = 8),
      "ivf" -> Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4, iters = 0),
      "int8" -> Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
        k = 10, shortlist = 32))
      .map { case (m, df) =>
        m -> df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }
    Retrieval.rankingMetrics(arms, exact, k = 10)
  }

  /** Media semantic dedup — the multimodal arm composed with the
    * SemDeDup arm: blobs → one-pass deterministic features
    * ([[graft.operators.Multimodal.mediaEmbeddings]], q88's store
    * discipline: blob bytes are read once and never travel again) →
    * [[Similarity.semDedupPairs]] over the embedding store. The
    * "near-duplicate images/videos in the crawl" pass; in production
    * the encoder select is the only line that changes. k=2 coarse
    * clusters over the small blob fixture; every stage — byte
    * features, quantization, clustering, cap, pair decision — replays
    * in the oracle. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val media = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(dir)
      .select(
        conv(substring(md5(regexp_extract(col("path"), "[^/]+$", 0)), 1, 15),
          16, 10).cast("long").as("media_id"),
        col("content").as("media"))
    val e = Multimodal.mediaEmbeddings(media)
    Similarity.semDedupPairs(e, "media_id", "emb",
        k = MediaSemK, iters = KmeansIters,
        thrNum = SemThrNum, thrDen = SemThrDen, clusterCap = SemCap,
        seed = SampleSeed)
      .orderBy("cluster", "id_a", "id_b")
  }

  private val MediaSemK = 2

  /** Leakage-safe split ([[Sampling.splitAssign]] over the SEMANTIC
    * GROUP): a near-dup pair straddling train/test is silent
    * evaluation leakage — q80 splits by document and cannot prevent
    * it. Splitting by q97's cluster id instead gives every semantic
    * group exactly ONE split (the split is a pure hash of the group
    * key), so anything SemDeDup would pair stays on one side. Output:
    * per (cluster, split) doc count — one row per cluster IS the
    * coherence proof, and the oracle replays clustering + the
    * portable hash split. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = Clustering.kmeansQuantized(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    Sampling.splitAssign(assign.select(col("id"), col("cluster")), "cluster",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), SampleSeed)
      .groupBy("cluster", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("cluster", "split")
  }

  /** Equi-depth histogram ([[Stats.equiDepthHistogram]]): 8
    * quantile-boundary bins of event values per event type — the
    * balanced-bin profile where q47's fixed-width bins collapse under
    * skew. Edges are exact order statistics at ⌈j·n/8⌉ (two-phase
    * path, no data-sized window); assignment is a broadcast
    * projection; a row at an edge falls left in both engines. */
  private def q125(s: SparkSession, dir: String): DataFrame =
    Stats.equiDepthHistogram(
        Tables.events(s, dir).where(col("value").isNotNull),
        "event_type", "value", bins = 8)
      .orderBy("event_type", "bin")

  /** Hopping (sliding) window aggregation — q25's tumbling windows
    * generalized: 1-hour windows every 15 minutes, each event counted
    * in size/slide = 4 overlapping windows via an integer explode (no
    * timestamp structs, so the whole lattice is exact µs arithmetic).
    * The streaming equivalent is `window(col, "1 hour", "15 min")`;
    * this is the batch shape with the same semantics. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Robust outlier profile per event type: exact lower-median and
    * MAD (median absolute deviation), then the classic
    * |x − med| > 3·MAD flag count — the data-quality gate that doesn't
    * move when the outliers themselves do (unlike mean/stddev).
    * Medians are actual data values, so every output double is
    * bit-identical cross-engine. Both medians ride the two-phase
    * histogram→rank-select path ([[Stats.exactGroupedRankValues]]) —
    * no per-type buffering window, so a hot event type at 100× stays
    * a hash aggregate instead of a single-task sort (the value at
    * rank (n+1) DIV 2 is tie-independent, so the numbers match the
    * old order-statistic window exactly). */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    def medianOf(df: DataFrame, valCol: String, out: String): DataFrame =
      Stats.exactGroupedRankValues(df, "event_type", valCol,
          n => Seq((out, (n + 1) / 2)))
        .select(col("event_type"), col("value").as(out))
    val med = medianOf(e, "value", "median")
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("__dev", abs(col("value") - col("median")))
    val mad = medianOf(dev, "__dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("median")).as("median"),
        first(col("mad")).as("mad"),
        sum(when(col("__dev") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** Source drift ([[TextOps.sourceDriftKL]]): KL(source ‖ corpus)
    * over unigram distributions — the per-ingest-source drift monitor.
    * Rounded-ln + decimal sums make the statistic engine-exact. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceDriftKL(Tables.documents(s, dir), "doc_id", "source", "text")
      .orderBy("source")

  /** Event-type transition matrix (first-order Markov counts): for
    * each user's (µs, event_id)-ordered stream, count consecutive
    * type→type transitions, with each row's share of its from-type in
    * basis points — session-shape analytics over exact integers. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val tr = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts DIV 1000"))
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = tr.groupBy("from_type").agg(sum("n").as("__tot"))
    tr.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 10000 DIV __tot").as("share_bp"))
      .orderBy("from_type", "to_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_source_drift" -> q113,
    "q114_transition_matrix" -> q114,
    "q115_index_fold" -> q115,
    "q116_bpe_merges" -> q116,
    "q117_bpe_tokens" -> q117,
    "q118_bpe_budget_mix" -> q118,
    "q119_pagerank_dangling" -> q119,
    "q120_tokenizer_drift" -> q120,
    "q121_semdedup_pairs" -> q121,
    "q122_nb_classifier" -> q122,
    "q123_weighted_quantiles" -> q123,
    "q124_sem_contamination" -> q124,
    "q125_equidepth_hist" -> q125,
    "q126_twolevel_assign" -> q126,
    "q127_semstore_probe" -> q127,
    "q140_semstream_fold" -> q140,
    "q128_leakage_safe_split" -> q128,
    "q129_media_semdedup" -> q129,
    "q130_pq_adc" -> q130,
    "q131_pq_rerank" -> q131,
    "q132_pq_index" -> q132,
    "q133_hybrid_rrf" -> q133,
    "q134_retrieval_metrics" -> q134,
    "q135_ivfpq" -> q135,
    "q138_ivfpq_split" -> q138,
    "q139_curation_e2e" -> q139,
    "q141_stream_join" -> q141,
    "q142_dsir_sample" -> q142,
    "q143_dsir_split" -> q143,
    "q144_dsir_store" -> q144,
    "q145_skew_audit" -> q145,
    "q146_nb_store" -> q146,
    "q147_curation_serve" -> q147,
    "q148_salted_by_skew" -> q148,
    "q149_curation_stream" -> q149,
    "q150_curation_fold" -> q150,
    "q151_nb_drift" -> q151,
    "q152_wav_roundtrip" -> q152,
    "q153_bmp_roundtrip" -> q153,
    "q154_epoch_swap" -> q154,
    "q155_curation_audit" -> q155,
    "q156_drift_gate" -> q156,
    "q157_drift_signal" -> q157,
    "q158_epoch_fold" -> q158,
    "q159_lexical_lane" -> q159,
    "q160_lexical_stream" -> q160,
    "q161_stream_audit" -> q161,
    "q162_dup_spans" -> q162,
    "q163_span_cut" -> q163,
    "q164_interleaved_pack" -> q164,
    "q165_span_serve" -> q165,
    "q166_span_stream" -> q166,
    "q167_span_fold" -> q167,
    "q168_hard_negatives" -> q168,
    "q169_nb_calibration" -> q169,
    "q170_cdc_chunks" -> q170,
    "q171_vocab_growth" -> q171,
    "q172_cdc_reuse" -> q172,
    "q173_contamination_spans" -> q173,
    "q174_decontam_cut" -> q174,
    "q175_negative_refresh" -> q175,
    "q176_pack_manifest" -> q176,
    "q177_decontam_store" -> q177,
    "q178_audio_energy" -> q178,
    "q179_span_cut_guarded" -> q179,
    "q180_span_dup_rate" -> q180,
    "q181_media_phash" -> q181,
    "q182_phash_neardups" -> q182,
    "q183_pipeline_manifest" -> q183,
    "q184_phash_dedup" -> q184,
    "q185_phash_store_serve" -> q185,
    "q186_phash_stream" -> q186,
    "q187_phash_fold" -> q187,
    "q188_media_decontam" -> q188,
    "q189_phash_skew_dedup" -> q189,
    "q190_phash_full_absorb" -> q190,
    "q191_simhash_clusters" -> q191,
    "q192_simhash_store_serve" -> q192,
    "q193_simhash_stream" -> q193,
    "q194_simhash_fold" -> q194,
    "q195_simhash_decontam" -> q195,
    "q196_simhash_skew_clusters" -> q196,
    "q197_boilerplate_segments" -> q197,
    "q198_quality_keeper" -> q198,
    "q199_segment_df_store" -> q199,
    "q200_segdf_stream" -> q200,
    "q201_segdf_fold" -> q201,
    "q202_simhash_decontam_incr" -> q202,
    "q136_soft_dedup" -> q136,
    "q137_soft_mix" -> q137,
    "q111_hopping_windows" -> q111,
    "q112_robust_outliers" -> q112,
    "q109_cluster_assign" -> q109,
    "q110_cluster_balance" -> q110,
    "q107_funnel" -> q107,
    "q108_cohort_retention" -> q108,
    "q105_dup_fraction" -> q105,
    "q106_containment_pairs" -> q106,
    "q104_corpus_report" -> q104,
    "q103_temperature_mix" -> q103,
    "q102_communities" -> q102,
    "q101_cluster_profile" -> q101,
    "q100_bigram_lm" -> q100,
    "q99_fuzzy_pairs" -> q99,
    "q98_pagerank" -> q98,
    "q97_kmeans" -> q97,
    "q96_maxsim_shortlist" -> q96,
    "q93_stream_windows" -> q93,
    "q94_index_time_travel" -> q94,
    "q95_maxsim_topk" -> q95,
    "q90_store_purge" -> q90,
    "q91_priority_sample" -> q91,
    "q92_ann_recall" -> q92,
    "q88_media_ann" -> q88,
    "q89_store_compaction" -> q89,
    "q87_bm25_incremental" -> q87,
    "q86_bm25_indexed" -> q86,
    "q85_bm25_topk" -> q85,
    "q84_grouped_topk" -> q84,
    "q83_ivf_append" -> q83,
    "q82_source_cap" -> q82,
    "q81_dup_passages" -> q81,
    "q80_split_assign" -> q80,
    "q79_incremental_vocab" -> q79,
    "q78_warehouse_loop" -> q78,
    "q77_vocabulary" -> q77,
    "q57_first_order" -> q57,
    "q58_incremental_e2e" -> q58,
    "q59_binary_ingest" -> q59,
    "q60_training_mix" -> q60,
    "q61_token_budget_mix" -> q61,
    "q62_corpus_shuffle" -> q62,
    "q63_sketch_accuracy" -> q63,
    "q64_salted_join" -> q64,
    "q65_heavy_tokens" -> q65,
    "q66_bucketed_join" -> q66,
    "q67_partition_prune" -> q67,
    "q68_bloom_semijoin" -> q68,
    "q69_zorder_layout" -> q69,
    "q70_scd2_history" -> q70,
    "q71_snapshot_diff" -> q71,
    "q72_quantized_ann" -> q72,
    "q73_compaction" -> q73,
    "q74_incremental_agg" -> q74,
    "q75_incremental_dedup" -> q75,
    "q76_incremental_distinct" -> q76,
    "q51_cosine_dedup_pairs" -> q51,
    "q52_redact_pii" -> q52,
    "q53_normalize" -> q53,
    "q54_repetition" -> q54,
    "q55_chunking" -> q55,
    "q56_winsorize" -> q56,
    "q01_stg_trades" -> q01,
    "q02_prd_trades_star" -> q02,
    "q03_join_events_users" -> q03,
    "q04_watermark_max" -> q04,
    "q05_incremental_filter" -> q05,
    "q06_keeplast_dedup" -> q06,
    "q07_agg_pricing_summary" -> q07,
    "q08_topk_orders" -> q08,
    "q09_exact_dedup" -> q09,
    "q10_jaccard_pairs" -> q10,
    "q11_minhash_pairs" -> q11,
    "q12_ann_topk" -> q12,
    "q13_simhash" -> q13,
    "q14_simhash_pairs" -> q14,
    "q15_langid" -> q15,
    "q16_quality" -> q16,
    "q17_token_counts" -> q17,
    "q18_doc_fingerprint" -> q18,
    "q19_winnow_fingerprints" -> q19,
    "q20_dimdate_gregorian" -> q20,
    "q21_dimdate_jalali" -> q21,
    "q22_json_flatten" -> q22,
    "q23_media_features" -> q23,
    "q24_frame_sample" -> q24,
    "q25_tumbling_windows" -> q25,
    "q26_user_analytics" -> q26,
    "q27_rollup_agg" -> q27,
    "q28_json_props" -> q28,
    "q29_part_supplier_rev" -> q29,
    "q30_vector_stats" -> q30,
    "q31_dedup_clusters" -> q31,
    "q32_distinct_agg" -> q32,
    "q33_sessionization" -> q33,
    "q34_set_ops" -> q34,
    "q35_pivot" -> q35,
    "q36_ann_lsh" -> q36,
    "q37_ann_ivf" -> q37,
    "q38_asof_join" -> q38,
    "q39_range_join" -> q39,
    "q40_asof_bucketed" -> q40,
    "q41_hash_sample" -> q41,
    "q42_stratified_sample" -> q42,
    "q43_tfidf_topterms" -> q43,
    "q44_contamination" -> q44,
    "q45_seq_packing" -> q45,
    "q46_grouped_quantiles" -> q46,
    "q47_histogram" -> q47,
    "q48_cube_agg" -> q48,
    "q49_unpivot" -> q49,
    "q50_resample_locf" -> q50,
  )

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

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB 60-bit md5 hash — must mirror TextOps.hash60 exactly. */
  private def sqlHash60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Distinct 8-gram hash set of a (doc_id, text) source — CTEs
    * `<p>arr/<p>occ/<p>gs`; mirrors [[SpanDedup.gramStarts]]'
    * generate + [[TextOps.hash60]]. */
  private def spanGramSet(p: String, src: String,
                          textExpr: String = "text"): String = {
    val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
    s"""${p}arr AS (SELECT doc_id, string_split($textExpr, ' ') AS a FROM $src),
       |${p}occ AS (SELECT a, unnest(generate_series(1, len(a) - 7)) AS s
       |        FROM ${p}arr WHERE len(a) >= 8),
       |${p}gs AS (SELECT DISTINCT $gh AS gh FROM ${p}occ)""".stripMargin
  }

  /** Perceptual-hash CTEs (`ph` = media_id, h, dhash, ahash) —
    * mirrors [[graft.functions.MediaCodec.pHash]] over the
    * wrap-width-64 plane, which by the q153 roundtrip law is the
    * text's UTF-8 bytes zero-padded to h·64 (h = ceil(n/64)); bit 63
    * sums as Long.MIN_VALUE so the signed BIGINT matches the engine's
    * two's-complement long bit-for-bit. */
  /** [[phashCtes]] parametrized: prefix `p` namespaces the CTEs
    * (`<p>h` is the result: media_id, h, dhash, ahash) and `pred`
    * slices the documents table — the store/serve oracles derive a
    * history and a batch hash set from the one definition. */
  private def phashCtesFor(p: String, pred: String,
                           from: String = "documents"): String = {
    // byte value at 0-based plane index `i`: the UTF-8 byte when i < n,
    // the wrap's zero tail otherwise
    def byteAt(i: String): String =
      s"(CASE WHEN $i < n THEN ('0x' || substr(hx, 2*($i) + 1, 2))::BIGINT ELSE 0 END)"
    val d1 = byteAt("((r*h)//8)*64 + ((c*64)//9)")
    val d2 = byteAt("((r*h)//8)*64 + (((c+1)*64)//9)")
    val av = byteAt("((r*h)//8)*64 + ((c*64)//8)")
    s"""${p}t AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n FROM $from
       |       WHERE octet_length(encode(text)) >= 1 AND ($pred)),
       |${p}g AS (SELECT media_id, hx, n, (n + 63) // 64 AS h FROM ${p}t),
       |${p}rc AS (SELECT r, c FROM (SELECT unnest(generate_series(0,7)) AS r),
       |                         (SELECT unnest(generate_series(0,7)) AS c)),
       |${p}db AS (SELECT media_id, r*8 + c AS bit,
       |          CASE WHEN $d1 > $d2 THEN 1 ELSE 0 END AS b
       |        FROM ${p}g, ${p}rc),
       |${p}dh AS (SELECT media_id,
       |          sum(CASE WHEN b = 0 THEN 0
       |                   WHEN bit = 63 THEN -9223372036854775808
       |                   ELSE 1::BIGINT << bit END)::BIGINT AS dhash
       |        FROM ${p}db GROUP BY media_id),
       |${p}as AS (SELECT media_id, r*8 + c AS bit, $av AS v FROM ${p}g, ${p}rc),
       |${p}am AS (SELECT media_id, sum(v) // 64 AS mean FROM ${p}as GROUP BY media_id),
       |${p}ah AS (SELECT a.media_id,
       |          sum(CASE WHEN v <= mean THEN 0
       |                   WHEN bit = 63 THEN -9223372036854775808
       |                   ELSE 1::BIGINT << bit END)::BIGINT AS ahash
       |        FROM ${p}as a JOIN ${p}am USING (media_id) GROUP BY a.media_id),
       |${p}h AS (SELECT ${p}g.media_id, ${p}g.h, ${p}dh.dhash, ${p}ah.ahash
       |       FROM ${p}g JOIN ${p}dh USING (media_id) JOIN ${p}ah USING (media_id))""".stripMargin
  }

  private val phashCtes: String = phashCtesFor("p", "TRUE")

  /** One [[SpanDedup.serveSpanCut]] round as CTEs (`<p>out` is the
    * result): batch grams vs the `histG` gram-set CTE (any hit cuts)
    * ∪ the within-batch non-first rank, islands → positions → ordered
    * rebuild — the exact serve derivation, replayed per round. */
  private def spanServeRound(p: String, batSrc: String,
                             histG: String): String = {
    val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
    s"""${p}arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM $batSrc),
       |${p}occ AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
       |        FROM ${p}arr WHERE len(a) >= 8),
       |${p}g AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM ${p}occ),
       |${p}inh AS (SELECT g.doc_id, g.pos FROM ${p}g g JOIN $histG USING (gh)),
       |${p}dup AS (SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM ${p}g)
       |        GROUP BY gh HAVING count(*) >= 2),
       |${p}red0 AS (SELECT doc_id, pos FROM (
       |          SELECT g.doc_id, g.pos,
       |                 row_number() OVER (PARTITION BY gh ORDER BY g.doc_id, g.pos) AS rn
       |          FROM ${p}g g JOIN ${p}dup USING (gh)) WHERE rn > 1),
       |${p}red AS (SELECT doc_id, pos FROM ${p}inh
       |        UNION SELECT doc_id, pos FROM ${p}red0),
       |${p}isl AS (SELECT doc_id, pos,
       |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM ${p}red),
       |${p}sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
       |       FROM ${p}isl GROUP BY doc_id, grp),
       |${p}cut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos
       |        FROM ${p}sp),
       |${p}tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
       |        FROM $batSrc),
       |${p}keep AS (SELECT t.doc_id, t.pos, t.tok FROM ${p}tok t
       |         ANTI JOIN ${p}cut c ON t.doc_id = c.doc_id AND t.pos = c.pos),
       |${p}out AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       |        count(*)::BIGINT AS n_kept FROM ${p}keep GROUP BY doc_id)""".stripMargin
  }

  /** CDC chunk-count CTEs for one snapshot — `<p>cnt` is
    * (doc_id, chunk_text, n); mirrors [[TextOps.chunkContentDefined]]
    * (k=4, modulus=16, the q170 parameters). */
  private def cdcChunkCnt(p: String, src: String): String = {
    val gh = sqlHash60("array_to_string(w[i - 3 : i], ' ')")
    s"""${p}d AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |${p}t AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
       |        FROM ${p}d),
       |${p}f AS (SELECT doc_id, i - 1 AS p, w[i] AS tok,
       |        CASE WHEN i >= 4 AND $gh % 16 = 0 THEN 1 ELSE 0 END AS bnd
       |      FROM ${p}t),
       |${p}c AS (SELECT doc_id, p, tok,
       |        coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY p
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
       |      FROM ${p}f),
       |${p}ch AS (SELECT doc_id, ci, string_agg(tok, ' ' ORDER BY p) AS chunk_text
       |        FROM ${p}c GROUP BY doc_id, ci),
       |${p}cnt AS (SELECT doc_id, chunk_text, count(*) AS n
       |        FROM ${p}ch GROUP BY 1, 2)""".stripMargin
  }

  /** Shared CTE chain for q162/q163: every token position's 8-gram
    * hash (stride 1) + the cross-doc duplicated hash set — mirrors
    * [[SpanDedup.gramStarts]]/[[SpanDedup.dupGrams]] exactly. */
  private def spanGramCtes: String = {
    val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
    s"""arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       |occ AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
       |        FROM arr WHERE len(a) >= 8),
       |g AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM occ),
       |dup AS (SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
       |        GROUP BY gh HAVING count(*) >= 2)""".stripMargin
  }

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

  private val P = TextOps.MinhashP

  /** Shared CTE: distinct word-3-gram shingles per doc. Positions come
    * from `generate_series(1, len(w) - 2)` — derived per document, so
    * no fixed cap can silently truncate when fixture docs grow (the
    * Spark side never had one). */
  private val shingleCte =
    """d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  private def jaccardOracle(threshold: Double, extraWhere: String = ""): String =
    s"""WITH $shingleCte
       |SELECT da AS id_a, db AS id_b,
       |       round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE c * 1.0 / (sa.n + sb.n - c) >= $threshold$extraWhere
       |ORDER BY id_a, id_b""".stripMargin

  /** SimHash per-doc CTE (mirrors TextOps.simhash bit for bit). */
  /** SimHash fingerprint CTE chain ending in `fp(doc_id, simhash)` —
    * parametrized on the source relation (round 19: q196 needs the
    * sketch over a DERIVED skewed corpus, not the raw table). */
  private def simhashCteFor(from: String): String = {
    val sums = (0 until TextOps.SimhashBits)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s$j").mkString(",\n         ")
    val bits = (0 until TextOps.SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)")
      .mkString(" | ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $from),
       |h AS (SELECT doc_id, ${sqlHash60("tok")} AS h FROM t),
       |s AS (SELECT doc_id,
       |         $sums
       |      FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, ($bits)::BIGINT AS simhash FROM s)""".stripMargin
  }

  private val simhashCte: String = simhashCteFor("documents")

  /** The 10-token segment lattice CTE chain ending in
    * `seg(doc_id, i, s)` — shared by the q197/q199-q201 boilerplate
    * oracles. */
  private val segLatticeCte: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ix AS (SELECT doc_id, toks,
      |         unnest(generate_series(0, (len(toks)-1) // 10)) AS i
      |       FROM t),
      |seg AS (SELECT doc_id, i,
      |          array_to_string(list_slice(toks, i*10+1, i*10+10), ' ') AS s
      |        FROM ix)""".stripMargin

  /** One segment-df serve round as CTEs (`<p>out` is the result):
    * summed df over the history predicate at minDf=2, the batch
    * predicate's docs cut against it, ordered rebuild — the exact
    * [[graft.operators.TextOps.serveSegmentCut]] derivation, replayed
    * per round for the q200/q201 stream oracles. */
  private def segCutRound(p: String, histPred: String,
                          batchPred: String): String =
    s"""${p}hot AS (SELECT s FROM seg WHERE $histPred
       |        GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
       |${p}k AS (SELECT doc_id, i, s, s IN (SELECT s FROM ${p}hot) AS is_hot
       |       FROM seg WHERE $batchPred),
       |${p}out AS (SELECT doc_id,
       |    coalesce(string_agg(CASE WHEN NOT is_hot THEN s END, ' ' ORDER BY i), '') AS clean_text,
       |    count(*) FILTER (NOT is_hot)::BIGINT AS n_kept_segments,
       |    count(*) FILTER (is_hot)::BIGINT AS n_dropped_segments
       |  FROM ${p}k GROUP BY doc_id)""".stripMargin

  /** Language-ID oracle (mirrors TextOps.languageId + LangMarkers). */
  private val langidOracle: String = {
    val scores = TextOps.LangMarkers.map { case (lang, markers) =>
      val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($lst, t)))::BIGINT AS score_$lang"
    }.mkString(",\n       ")
    val langs = TextOps.LangMarkers.map(_._1).sorted
    val m = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val pick = langs.map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |       ${scores}
       |  FROM documents),
       |g AS (SELECT doc_id, $m AS m, * FROM s)
       |SELECT doc_id, CASE $pick END AS lang_pred, m AS lang_score
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** Training-mix e2e oracle: the q16 quality gate, the q15 language
    * argmax, the q09 normalized-content keep-first, and the q55 chunk
    * geometry, composed over the corpus ∪ staged re-crawl — each
    * fragment verbatim from the individually-certified oracle so the
    * composition can only fail where the COMPOSITION is wrong. */
  private val trainingMixOracle: String = {
    val scores = TextOps.LangMarkers.map { case (lang, markers) =>
      val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($lst, t)))::BIGINT AS score_$lang"
    }.mkString(",\n         ")
    val langs = TextOps.LangMarkers.map(_._1).sorted
    val m = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val pick = langs.map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
    s"""WITH crawl AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |f AS (
       |  SELECT doc_id, text,
       |         len(string_split(text, ' '))::BIGINT AS n_tokens_d,
       |         round(length(text) * 1.0 / len(string_split(text, ' ')), 6) AS mean_token_len,
       |         round(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
       |               / length(text), 6) AS punct_ratio,
       |         round(len(list_filter(string_split(lower(text), ' '),
       |                 t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
       |               * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio
       |  FROM crawl),
       |q AS (
       |  SELECT doc_id, text,
       |         ((CASE WHEN n_tokens_d >= 10 THEN 0.25 ELSE 0 END)
       |        + (CASE WHEN mean_token_len BETWEEN 3 AND 12 THEN 0.25 ELSE 0 END)
       |        + (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END)
       |        + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0 END))::DOUBLE
       |           AS quality_score
       |  FROM f),
       |s AS (
       |  SELECT doc_id, text, quality_score,
       |         $scores
       |  FROM q WHERE quality_score >= 1.0),
       |g AS (SELECT *, $m AS m FROM s),
       |l AS (SELECT doc_id, text, quality_score, CASE $pick END AS lang_pred FROM g),
       |ded AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
       |    ORDER BY doc_id) AS rn
       |  FROM l WHERE lang_pred IN ('en')),
       |d AS (SELECT doc_id, lang_pred, quality_score, string_split(text, ' ') w
       |      FROM ded WHERE rn = 1),
       |c AS (SELECT doc_id, lang_pred, quality_score, w,
       |        unnest(generate_series(1, least(len(w), greatest(len(w) - 8, 1)), 24)) AS s
       |      FROM d)
       |SELECT doc_id, lang_pred, quality_score,
       |       ((s - 1) // 24)::BIGINT AS chunk_idx,
       |       array_to_string(w[s:s+31], ' ') AS chunk_text,
       |       least(32, len(w) - s + 1)::BIGINT AS n_tokens
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Rounded cosine between two DOUBLE[] lists — the exact convention
    * of the native kernel + round(…, 6) used by every ANN query. */
  private def sqlCosine(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** DuckDB transliteration of ArrayMath.planeCoeff — the splitmix64
    * (plane, dim) mix, bit for bit. HUGEINT carries the unsigned-64
    * domain; the two 64×64 wrapping multiplies are split hi/lo-32 so no
    * intermediate exceeds 2^96 (a full 64×64 product overflows INT128).
    * Validated coefficient-for-coefficient against the JVM kernel.
    * Emits `coef(plane, dim, c)` and `coefl(plane, cl)` — the latter a
    * dim-ORDERED coefficient list, so the bucket-sign dot product runs
    * through `list_dot_product` in the same sequential dim order as the
    * JVM kernel (a hash-aggregate SUM would accumulate in chunk order
    * and could flip the sign of a dot within an ulp of zero). */
  private def planeCoeffCte(nPlanes: Int, nTables: Int): String =
    planeCoeffCteDyn((nTables * nPlanes).toString)

  /** [[planeCoeffCte]] with a data-derived plane count: `totalPlanes` is
    * any scalar SQL expression (DuckDB's range() rejects subquery
    * bounds, but scalar generate_series + unnest accepts them — the
    * auto-sized q51 oracle derives its plane count from count(*)). */
  private def planeCoeffCteDyn(totalPlanes: String): String = {
    def mulmod(a: String, hi: Long, lo: Long): String =
      s"((($a) * $hi::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT" +
        s" + ($a) * $lo::HUGEINT) % 18446744073709551616::HUGEINT"
    s"""pl AS (SELECT unnest(generate_series(0, ($totalPlanes) - 1)) AS plane),
       |dims AS (SELECT unnest(generate_series(0, (SELECT max(len(embedding)) - 1 FROM embeddings))) AS dim),
       |pd AS (SELECT pl.plane::HUGEINT AS plane, dims.dim::HUGEINT AS dim
       |       FROM pl, dims),
       |s0 AS (SELECT plane, dim,
       |  (plane * 11400714819323198485::HUGEINT % 18446744073709551616::HUGEINT
       |   + dim * 14029467366897019727::HUGEINT % 18446744073709551616::HUGEINT
       |   + 1609587929392839161::HUGEINT) % 18446744073709551616::HUGEINT AS z FROM pd),
       |s1 AS (SELECT plane, dim, ${mulmod("xor(z, z // 1073741824::HUGEINT)", 3210233709L, 484763065L)} AS z FROM s0),
       |s2 AS (SELECT plane, dim, ${mulmod("xor(z, z // 134217728::HUGEINT)", 2496678331L, 321982955L)} AS z FROM s1),
       |coef AS (SELECT plane::BIGINT AS plane, dim::BIGINT AS dim,
       |  ((xor(z, z // 2147483648::HUGEINT) // 2048::HUGEINT)::DOUBLE / 9007199254740992::DOUBLE) * 2.0 - 1.0 AS c
       |  FROM s2),
       |coefl AS (SELECT plane, list(c ORDER BY dim) AS cl FROM coef GROUP BY plane)""".stripMargin
  }

  /** q36 oracle: full replay of lshTopK — per-table sign-pattern
    * buckets from the splitmix64 planes, candidate equi-join on
    * (table, bucket), exact rounded-cosine rerank. */
  private def annLshOracle(nPlanes: Int, nTables: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |${planeCoeffCte(nPlanes, nTables)},
       |dots AS (
       |  SELECT e.vec_id, coefl.plane // $nPlanes AS tbl, coefl.plane % $nPlanes AS p,
       |         list_dot_product(e.v, coefl.cl[1:len(e.v)]) AS dot
       |  FROM e, coefl),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM dots GROUP BY 1, 2),
       |qb AS (SELECT vec_id, tbl, bucket FROM buckets WHERE vec_id % 50 = 0),
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM qb JOIN buckets c ON qb.tbl = c.tbl AND qb.bucket = c.bucket
       |         WHERE c.vec_id != qb.vec_id),
       |s AS (SELECT cand.query_id, cand.neighbor_id, ${sqlCosine("eq.v", "ec.v")} AS cosine
       |      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
       |                JOIN e ec ON ec.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** q37 oracle: full replay of the deterministic-quantizer IVF probe —
    * seed centroids (smallest ids), rounded-cosine argmax assignment,
    * nProbe nearest lists per query, exact rerank. */
  private def annIvfOracle(nCentroids: Int, nProbe: Int, k: Int,
                           centPred: String = "TRUE",
                           queryPred: String = "vec_id % 50 = 0"): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e WHERE $centPred ORDER BY vec_id LIMIT $nCentroids),
       |asg AS (SELECT e.vec_id, cent.centroid_id,
       |          row_number() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${sqlCosine("e.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
       |        FROM e, cent),
       |idx AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE $queryPred),
       |pr AS (SELECT q.query_id, cent.centroid_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY ${sqlCosine("q.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
       |       FROM q, cent),
       |cand AS (SELECT pr.query_id, idx.neighbor_id
       |         FROM pr JOIN idx ON pr.centroid_id = idx.centroid_id
       |         WHERE pr.rn <= $nProbe AND idx.neighbor_id != pr.query_id),
       |s AS (SELECT cand.query_id, cand.neighbor_id, ${sqlCosine("eq.v", "ec.v")} AS cosine
       |      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
       |                JOIN e ec ON ec.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

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

  /** Shared by q122 (confusion over the held-out quarter) and q146
    * (per-doc predictions served from the persisted model): the NB
    * train + score replay up to the `pred` CTE. One source of truth —
    * the store between train and serve in q146 is read-invisible, so
    * both queries replay the identical computation and differ only in
    * the final SELECT. */
  /** The NB train + per-doc-prediction replay as a WITH-list fragment,
    * parameterized over the train/score slices — shared by q122/q146
    * (train %4≠3, score the held-out quarter) and the curation-chain
    * oracles (train on their history slice, score every batch doc;
    * predictions are per-doc, so consumers restrict by joining
    * `pred`). */
  private def nbPredCtesFor(trainPred: String, testPred: String,
                            p: String = ""): String =
    s"""${p}tr AS (SELECT lang, text FROM documents WHERE $trainPred),
      |${p}te AS (SELECT doc_id, lang, text FROM documents WHERE $testPred),
      |${p}tt AS (SELECT lang AS lab, unnest(list_filter(string_split(text, ' '),
      |         t -> len(t) > 0)) AS tok FROM ${p}tr),
      |${p}cwt AS (SELECT lab, tok, count(*) AS c FROM ${p}tt GROUP BY 1, 2),
      |${p}ct AS (SELECT lab, count(*) AS c FROM ${p}tt GROUP BY 1),
      |${p}vocab AS (SELECT count(DISTINCT tok) AS v FROM ${p}tt),
      |${p}nlab AS (SELECT lang AS lab, count(*) AS nl FROM ${p}tr GROUP BY 1),
      |${p}ntr AS (SELECT count(*) AS n FROM ${p}tr),
      |${p}cls AS (SELECT ct.lab, ct.c AS ctc, vocab.v,
      |          CAST(round(ln(nlab.nl::DOUBLE / ntr.n), 6) AS DECIMAL(18,6)) AS prior,
      |          CAST(round(ln(1.0 / (ct.c + vocab.v)), 6) AS DECIMAL(18,6)) AS floor_lp
      |        FROM ${p}ct ct JOIN ${p}nlab nlab USING (lab), ${p}vocab vocab, ${p}ntr ntr),
      |${p}model AS (SELECT cwt.lab, cwt.tok,
      |            CAST(round(ln((cwt.c + 1)::DOUBLE / (cls.ctc + cls.v)), 6)
      |              AS DECIMAL(18,6)) AS lp
      |          FROM ${p}cwt cwt JOIN ${p}cls cls USING (lab)),
      |${p}toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |           t -> len(t) > 0)) AS tok FROM ${p}te),
      |${p}perdoc AS (SELECT t.doc_id, c.lab,
      |             CAST(sum(coalesce(m.lp, c.floor_lp)) AS DECIMAL(28,6)) AS s
      |           FROM ${p}toks t CROSS JOIN ${p}cls c
      |           LEFT JOIN ${p}model m ON m.lab = c.lab AND m.tok = t.tok
      |           GROUP BY 1, 2),
      |${p}scored AS (SELECT p.doc_id, p.lab,
      |             CAST(p.s + c.prior AS DECIMAL(28,6)) AS score
      |           FROM ${p}perdoc p JOIN ${p}cls c USING (lab)),
      |${p}pred AS (SELECT doc_id, lab AS pred,
      |           CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score
      |         FROM (SELECT doc_id, lab, score,
      |                 row_number() OVER (PARTITION BY doc_id
      |                   ORDER BY score DESC, lab ASC) AS rn
      |               FROM ${p}scored) WHERE rn = 1)""".stripMargin

  private val nbPredCtesBody: String =
    nbPredCtesFor("doc_id % 4 != 3", "doc_id % 4 = 3")

  private val nbPredCtes: String = "WITH " + nbPredCtesBody

  /** Shared by q85 (direct) and q86 (indexed): the full BM25 replay. */
  /** The direct-BM25 replay, optionally over a restricted corpus —
    * q90 purges docs from the index, so its oracle is the SAME replay
    * with the purged docs excluded at the source: index maintenance
    * (build / append / compact / purge) changes what is STORED, never
    * what is computed. The query batch (doc_id ≡ 0 mod 100) is
    * disjoint from every predicate used, so the query set is invariant
    * across variants. */
  private def bm25SqlOver(corpusPred: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE $corpusPred),""".stripMargin +
    """
      |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w))::DOUBLE AS avgdl FROM d),
      |q AS (SELECT doc_id AS query_id, w[1:5] AS qw FROM d WHERE doc_id % 100 = 0),
      |qterm AS (SELECT DISTINCT query_id, term
      |          FROM (SELECT query_id, unnest(qw) AS term FROM q)
      |          WHERE len(term) > 0),
      |tok AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term FROM d),
      |toks AS (SELECT * FROM tok
      |         WHERE len(term) > 0
      |           AND term IN (SELECT DISTINCT term FROM qterm)),
      |post AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, min(dl) AS dl
      |         FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY 1),
      |sc AS (SELECT qt.query_id, p.doc_id,
      |         sum(CAST(round(
      |           ln((stats.n - f.df + 0.5) / (f.df + 0.5) + 1)
      |             * p.tf * (1.2 + 1)
      |             / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / stats.avgdl)),
      |           6) AS DECIMAL(18,6))) AS s
      |       FROM post p
      |       JOIN qterm qt USING (term)
      |       JOIN dfreq f USING (term), stats
      |       GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id,
      |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY s DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, score
      |FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  private val bm25Sql = bm25SqlOver("TRUE")

  /** Unrolled BPE training chain (the q97/q98 iterative-oracle
    * discipline): learning dict (word freqs under `learnPred`, capped)
    * → per-char state s0 over the FULL corpus vocabulary (capped-out
    * and unseen-under-the-predicate words ride along at freq 0:
    * they contribute nothing to pair counts but every merge applies
    * to them, so the final state IS the encode of every corpus word —
    * including OOV words under a frozen model, which is what lets a
    * drift oracle replay a model trained on yesterday's corpus).
    * Then per merge step r: re-densify positions, best pair by
    * (Σfreq DESC, pair ASC) over freq>0 words, candidate marks,
    * left-to-right non-overlap via run-parity (consecutive candidate
    * positions alternate), apply + absorb. CTEs are MATERIALIZED: the
    * chain references each step's state several times, and DuckDB
    * inlines plain CTEs — 32 steps of inlining would replicate the
    * scan tree exponentially. `prefix` namespaces the CTEs so two
    * models can train in one statement. */
  private def bpeChainCtes(m: Int, w: Int, learnPred: String,
                           prefix: String,
                           srcSql: String =
                             "SELECT doc_id, text FROM documents"): String = {
    val P = prefix
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""${P}av AS MATERIALIZED (SELECT DISTINCT word FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word FROM ($srcSql))
        |  WHERE len(word) > 0)""".stripMargin,
      s"""${P}wf AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word FROM ($srcSql)
        |   WHERE $learnPred)
        |  WHERE len(word) > 0 GROUP BY 1)""".stripMargin,
      s"${P}dict AS MATERIALIZED (SELECT word, freq FROM ${P}wf ORDER BY freq DESC, word LIMIT $w)",
      s"""${P}s0 AS MATERIALIZED (SELECT word, freq, pos, substring(word, pos::INT, 1) AS sym
        |  FROM (SELECT a.word, coalesce(d.freq, 0) AS freq,
        |          unnest(range(1, len(a.word)+1)) AS pos
        |        FROM ${P}av a LEFT JOIN ${P}dict d USING (word)))""".stripMargin)
    for (r <- 1 to m) {
      val p = r - 1
      ctes += s"""${P}x$r AS MATERIALIZED (SELECT word, freq,
        |  row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym FROM ${P}s$p)""".stripMargin
      ctes += s"""${P}b$r AS MATERIALIZED (SELECT l, r FROM (
        |    SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, freq
        |    FROM ${P}x$r WHERE freq > 0)
        |  WHERE r IS NOT NULL GROUP BY l, r
        |  ORDER BY sum(freq) DESC, l, r LIMIT 1)""".stripMargin
      ctes += s"""${P}c$r AS MATERIALIZED (SELECT word, freq, pos, sym,
        |  CASE WHEN sym = (SELECT l FROM ${P}b$r)
        |        AND lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM ${P}b$r)
        |       THEN 1 ELSE 0 END AS cand
        |  FROM ${P}x$r)""".stripMargin
      ctes += s"""${P}m$r AS MATERIALIZED (SELECT word, freq, pos, sym, cand,
        |  CASE WHEN cand = 1 AND (row_number() OVER (PARTITION BY word, runid ORDER BY pos)) % 2 = 1
        |       THEN 1 ELSE 0 END AS applied
        |  FROM (SELECT *, CASE WHEN cand = 1
        |          THEN pos - row_number() OVER (PARTITION BY word, cand ORDER BY pos) END AS runid
        |        FROM ${P}c$r))""".stripMargin
      ctes += s"""${P}s$r AS MATERIALIZED (SELECT word, freq, pos,
        |  CASE WHEN applied = 1 THEN sym || nxt ELSE sym END AS sym
        |  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
        |          lag(applied) OVER (PARTITION BY word ORDER BY pos) AS prv
        |        FROM ${P}m$r)
        |  WHERE coalesce(prv, 0) = 0)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  private def bpeChainSql(m: Int, w: Int): String =
    "WITH " + bpeChainCtes(m, w, "TRUE", "")

  /** Per-dict-word token counts from the final training state + the
    * per-document rollup (LEFT JOIN: a wordless doc counts 0). */
  private def bpeDocCountsSql(m: Int, w: Int): String =
    bpeChainSql(m, w) + s""",
      |wtok AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n FROM s$m GROUP BY word),
      |docw AS (SELECT doc_id, word FROM
      |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE len(word) > 0),
      |dcnt AS (SELECT d.doc_id, sum(w.n)::BIGINT AS bpe_tokens
      |         FROM docw d JOIN wtok w USING (word) GROUP BY 1)""".stripMargin

  /** q12 oracle: exact brute-force cosine top-k — also the ground
    * truth CTE of q92's recall evaluation. */
  /** q97 oracle: the ENTIRE Lloyd iteration replayed in SQL. Vectors
    * are int8-quantized (q72's exact integer formula) then kept
    * unnested as (vec_id, pos, val); each iteration is three CTEs —
    * distances (exact integer sums), argmin assignment (tie toward the
    * smaller cluster id), floor-div centroid means (empty clusters
    * coalesce to the previous centroid) — chained `iters` times, then
    * one final assignment. Every intermediate is an integral double,
    * so the replay is bit-identical to the Spark loop. */
  private def kmeansOracleCtes(k: Int, iters: Int,
                               trainPred: String = "TRUE",
                               srcSql: String =
                                 "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
                               p: String = "",
                               lead: String = "WITH "): String = {
    // `p` namespaces every CTE (the q120 BPE-chain discipline) so
    // several independent chains — e.g. one per PQ subspace — can
    // train in one statement; `lead` lets non-first chains continue
    // an existing WITH list.
    val header =
      s"""$lead${p}e AS ($srcSql),
         |${p}sc AS (SELECT vec_id, v,
         |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
         |       FROM ${p}e),
         |${p}qzall AS (SELECT vec_id,
         |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
         |         END AS qv
         |       FROM ${p}sc),
         |${p}vzall AS (SELECT vec_id, unnest(qv) AS val,
         |              generate_subscripts(qv, 1) AS pos
         |       FROM ${p}qzall),
         |${p}qz AS (SELECT * FROM ${p}qzall WHERE $trainPred),
         |${p}vz AS (SELECT vec_id, unnest(qv) AS val,
         |              generate_subscripts(qv, 1) AS pos
         |       FROM ${p}qz),
         |${p}c0 AS (SELECT i.cid, z.pos, z.val
         |       FROM (SELECT vec_id,
         |               row_number() OVER (ORDER BY vec_id) - 1 AS cid
         |             FROM (SELECT vec_id FROM ${p}qz ORDER BY vec_id LIMIT $k)) i
         |       JOIN ${p}vz z USING (vec_id)),
         |""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${p}d$i AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM ${p}vz v JOIN ${p}c${i - 1} c USING (pos) GROUP BY 1, 2),
         |${p}a$i AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM ${p}d$i) WHERE rn = 1),
         |${p}m$i AS (SELECT a.cid, v.pos,
         |          floor(sum(v.val) / count(*)) AS val
         |        FROM ${p}a$i a JOIN ${p}vz v USING (vec_id) GROUP BY 1, 2),
         |${p}c$i AS (SELECT c.cid, c.pos, coalesce(m.val, c.val) AS val
         |        FROM ${p}c${i - 1} c
         |        LEFT JOIN ${p}m$i m ON m.cid = c.cid AND m.pos = c.pos),
         |""".stripMargin
    }.mkString
    val footer =
      s"""${p}f AS (SELECT v.vec_id, c.cid,
         |        CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS dist
         |      FROM ${p}vz v JOIN ${p}c$iters c USING (pos) GROUP BY 1, 2),
         |${p}fa AS (SELECT vec_id, cid::INTEGER AS cluster, dist FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM ${p}f) WHERE rn = 1)
         |""".stripMargin
    header + steps + footer
  }

  /** The k-means replay as a reusable CTE block ending in `fa`
    * (vec_id, cluster, dist) — q97 selects it, q101 profiles it. */
  private def kmeansOracleSql(k: Int, iters: Int): String =
    kmeansOracleCtes(k, iters) +
      "SELECT vec_id, cluster, dist FROM fa ORDER BY vec_id"

  /** The SemDeDup tail shared by q121 (fixture embeddings) and q129
    * (media embeddings): q110's cap replay over `fa` + the integer
    * pair decision over `vzall` — everything an exact BIGINT. */
  private def semPairsTailSql: String =
    s""", rk AS (SELECT vec_id, cluster, dist,
      |         row_number() OVER (PARTITION BY cluster
      |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
      |                    vec_id) AS rn
      |       FROM fa),
      |cap AS (SELECT vec_id, cluster, dist FROM rk WHERE rn <= $SemCap),
      |nm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
      |       FROM vzall v JOIN cap c USING (vec_id) GROUP BY 1),
      |pr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
      |         a.dist AS da, b.dist AS db
      |       FROM cap a JOIN cap b
      |         ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |dt AS (SELECT p.cluster, p.id_a, p.id_b, p.da, p.db,
      |         CAST(sum(va.val * vb.val) AS BIGINT) AS dot
      |       FROM pr p
      |       JOIN vzall va ON va.vec_id = p.id_a
      |       JOIN vzall vb ON vb.vec_id = p.id_b AND vb.pos = va.pos
      |       GROUP BY 1, 2, 3, 4, 5),
      |sd AS (SELECT d.cluster, d.id_a, d.id_b, d.dot, d.da, d.db,
      |         na.n2 AS na, nb.n2 AS nb
      |       FROM dt d JOIN nm na ON na.vec_id = d.id_a
      |                 JOIN nm nb ON nb.vec_id = d.id_b
      |       WHERE d.dot > 0
      |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2)
      |SELECT cluster, id_a, id_b,
      |  round(dot / sqrt((na * nb)::DOUBLE), 6) AS cosine,
      |  CASE WHEN da < db THEN id_a WHEN db < da THEN id_b
      |       ELSE greatest(id_a, id_b) END AS drop_id
      |FROM sd ORDER BY cluster, id_a, id_b""".stripMargin

  /** q130 oracle: the base int8 quantization, then one NAMESPACED
    * k-means chain per PQ subspace over the sliced quantized vectors
    * (each chain re-quantizes its slice exactly as
    * [[graft.operators.Clustering.kmeansQuantized]] does), then codes
    * (= each chain's final assignment), per-query lookup tables of
    * exact integer subspace distances, and the ADC ranking. */
  private def pqOracleSql(m: Int, codebookK: Int, iters: Int, dim: Int,
                          k: Int, queryPred: String): String =
    pqChainsCtes(m, codebookK, iters, dim, queryPred) +
      s""", r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY adc_dist, neighbor_id) AS rank
         |      FROM adc)
         |SELECT query_id, rank, neighbor_id, adc_dist
         |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** q131 oracle: the PQ chains + ADC ranking cut at `shortlist`,
    * then the exact full-space integer L2 rerank of just those
    * candidates — the composition, replayed. */
  private def pqRerankOracleSql(m: Int, codebookK: Int, iters: Int,
                                dim: Int, k: Int, shortlist: Int,
                                queryPred: String): String =
    pqChainsCtes(m, codebookK, iters, dim, queryPred) +
      s""", r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY adc_dist, neighbor_id) AS rank
         |      FROM adc),
         |short AS (SELECT query_id, neighbor_id, rank AS q_rank
         |          FROM r WHERE rank <= $shortlist),
         |fdr AS (SELECT s.query_id, s.neighbor_id, s.q_rank,
         |          CAST(sum((vq.val - vn.val) * (vq.val - vn.val)) AS BIGINT)
         |            AS l2_dist
         |        FROM short s
         |        JOIN bvzall vq ON vq.vec_id = s.query_id
         |        JOIN bvzall vn ON vn.vec_id = s.neighbor_id
         |                      AND vn.pos = vq.pos
         |        GROUP BY 1, 2, 3),
         |rr AS (SELECT query_id, neighbor_id, l2_dist, q_rank,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY l2_dist, neighbor_id) AS rank
         |       FROM fdr)
         |SELECT query_id, rank, neighbor_id, l2_dist, q_rank
         |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared PQ CTE block ending at `adc(query_id, neighbor_id,
    * adc_dist)`; also exposes `bvzall` (the full-space quantized
    * components) for the rerank tail. With `codesFromRouting` the
    * codes come from FROZEN routing of every row against the final
    * codebooks (the q132 lifecycle: training saw only `trainPred`
    * rows, appended rows were encoded after the fact) — identical to
    * the training assignments when trainPred is TRUE. */
  private def pqChainsCtes(m: Int, codebookK: Int, iters: Int, dim: Int,
                           queryPred: String,
                           trainPred: String = "TRUE",
                           codesFromRouting: Boolean = false): String = {
    val subDim = dim / m
    val base =
      """WITH be AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bsc AS (SELECT vec_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |       FROM be),
        |bqzall AS (SELECT vec_id,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM bsc),
        |bvzall AS (SELECT vec_id, unnest(qv) AS val,
        |              generate_subscripts(qv, 1) AS pos
        |       FROM bqzall),
        |""".stripMargin
    val chains = (0 until m).map { s =>
      kmeansOracleCtes(codebookK, iters, trainPred,
        srcSql = s"SELECT vec_id, qv[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM bqzall",
        p = s"s${s}_", lead = if (s == 0) "" else ", ")
    }.mkString
    val lds = (0 until m).map { s =>
      s""", s${s}ld AS (SELECT v.vec_id AS query_id, c.cid AS code,
         |         CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS d
         |       FROM s${s}_vzall v JOIN s${s}_c$iters c USING (pos)
         |       WHERE $queryPred
         |       GROUP BY 1, 2)
         |""".stripMargin
    }.mkString
    val routes = if (!codesFromRouting) "" else (0 until m).map { s =>
      s""", s${s}rt AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM s${s}_vzall v JOIN s${s}_c$iters c USING (pos)
         |       GROUP BY 1, 2),
         |s${s}rc AS (SELECT vec_id, cid AS code FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM s${s}rt) WHERE rn = 1)
         |""".stripMargin
    }.mkString
    val codesUnion =
      if (codesFromRouting)
        (0 until m).map(s => s"SELECT $s AS s, vec_id, code FROM s${s}rc")
          .mkString(" UNION ALL ")
      else
        (0 until m).map(s => s"SELECT $s AS s, vec_id, cluster AS code FROM s${s}_fa")
          .mkString(" UNION ALL ")
    val ldUnion = (0 until m)
      .map(s => s"SELECT $s AS s, query_id, code, d FROM s${s}ld")
      .mkString(" UNION ALL ")
    base + chains + lds + routes +
      s""", codes AS ($codesUnion),
         |ld AS ($ldUnion),
         |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
         |          CAST(sum(l.d) AS BIGINT) AS adc_dist
         |        FROM ld l JOIN codes c ON c.s = l.s AND c.code = l.code
         |        WHERE c.vec_id != l.query_id GROUP BY 1, 2)
         |""".stripMargin
  }

  /** q135 oracle: the coarse k-means chain, every row's residual from
    * its assigned centroid, one namespaced codebook chain per subspace
    * over the sliced residuals (each chain re-quantizes, exactly as
    * the engine does), then the query side — probed lists by exact
    * integer L2, per-(query, list) residuals re-quantized into lookup
    * tables — and the ADC ranking over probed-list candidates only.
    * Every intermediate is an exact integer. */
  private def ivfPqOracleSql(nCoarse: Int, cIters: Int, m: Int,
                             codebookK: Int, pqIters: Int, dim: Int,
                             nProbe: Int, k: Int,
                             queryPred: String,
                             trainPred: String = "TRUE"): String = {
    val subDim = dim / m
    // trainPred != TRUE (the q138 split): the coarse chain and every
    // codebook chain train on the predicate's rows only, and ALL rows
    // are then frozen-routed/encoded against the final centroids —
    // the same argmin CTE shape the chains' own footer uses, applied
    // to vzall instead of vz (the q132 codesFromRouting discipline)
    val split = trainPred != "TRUE"
    val coarse = kmeansOracleCtes(nCoarse, cIters, trainPred, p = "g_")
    val routeAll = if (!split) "" else
      s""", g_rf AS (SELECT v.vec_id, c.cid,
         |        CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS dist
         |      FROM g_vzall v JOIN g_c$cIters c USING (pos) GROUP BY 1, 2),
         |g_ra AS (SELECT vec_id, cid::INTEGER AS cluster, dist FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM g_rf) WHERE rn = 1)
         |""".stripMargin
    val gAssign = if (split) "g_ra" else "g_fa"
    val resid =
      s""", rr AS (SELECT v.vec_id, v.pos, v.val - c.val AS val
         |      FROM g_vzall v
         |      JOIN $gAssign a ON a.vec_id = v.vec_id
         |      JOIN g_c$cIters c ON c.cid = a.cluster AND c.pos = v.pos),
         |rl AS (SELECT vec_id, list(val ORDER BY pos) AS v
         |       FROM rr GROUP BY 1)
         |""".stripMargin
    val chains = (0 until m).map { s =>
      kmeansOracleCtes(codebookK, pqIters, trainPred,
        srcSql = s"SELECT vec_id, v[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM rl",
        p = s"s${s}_", lead = ", ")
    }.mkString
    val subRoutes = if (!split) "" else (0 until m).map { s =>
      s""", s${s}rt AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM s${s}_vzall v JOIN s${s}_c$pqIters c USING (pos)
         |       GROUP BY 1, 2),
         |s${s}rc AS (SELECT vec_id, cid AS code FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM s${s}rt) WHERE rn = 1)
         |""".stripMargin
    }.mkString
    val probes =
      s""", qp AS (SELECT v.vec_id AS query_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM g_vzall v JOIN g_c$cIters c USING (pos)
         |       WHERE $queryPred GROUP BY 1, 2),
         |pp AS (SELECT query_id, cid FROM (
         |         SELECT query_id, cid,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM qp) WHERE rn <= $nProbe),
         |qr AS (SELECT p.query_id, p.cid, v.pos, v.val - c.val AS val
         |       FROM pp p
         |       JOIN g_vzall v ON v.vec_id = p.query_id
         |       JOIN g_c$cIters c ON c.cid = p.cid AND c.pos = v.pos),
         |qrl AS (SELECT query_id, cid, list(val ORDER BY pos) AS v
         |        FROM qr GROUP BY 1, 2)
         |""".stripMargin
    val lookups = (0 until m).map { s =>
      s""", q${s}q AS (SELECT query_id, cid,
         |         CASE WHEN s = 0 THEN list_transform(sv, x -> 0.0)
         |              ELSE list_transform(sv, x -> floor(x * 127.0 / s + 0.5))
         |         END AS qv
         |       FROM (SELECT query_id, cid,
         |               v[${s * subDim + 1}:${(s + 1) * subDim}] AS sv,
         |               list_aggregate(list_transform(
         |                 v[${s * subDim + 1}:${(s + 1) * subDim}],
         |                 x -> abs(x)), 'max') AS s
         |             FROM qrl)),
         |q${s}v AS (SELECT query_id, cid, unnest(qv) AS val,
         |              generate_subscripts(qv, 1) AS pos
         |        FROM q${s}q),
         |q${s}ld AS (SELECT v.query_id, v.cid, c.cid AS code,
         |          CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS d
         |        FROM q${s}v v JOIN s${s}_c$pqIters c USING (pos)
         |        GROUP BY 1, 2, 3)
         |""".stripMargin
    }.mkString
    val codesUnion =
      if (split)
        (0 until m).map(s => s"SELECT $s AS s, vec_id, code FROM s${s}rc")
          .mkString(" UNION ALL ")
      else
        (0 until m)
          .map(s => s"SELECT $s AS s, vec_id, cluster AS code FROM s${s}_fa")
          .mkString(" UNION ALL ")
    val ldUnion = (0 until m)
      .map(s => s"SELECT $s AS s, query_id, cid, code, d FROM q${s}ld")
      .mkString(" UNION ALL ")
    coarse + routeAll + resid + chains + subRoutes + probes + lookups +
      s""", codes AS ($codesUnion),
         |qld AS ($ldUnion),
         |cand AS (SELECT p.query_id, p.cid, a.vec_id AS neighbor_id
         |         FROM pp p JOIN $gAssign a ON a.cluster = p.cid
         |         WHERE a.vec_id != p.query_id),
         |adc AS (SELECT cd.query_id, cd.neighbor_id, cd.cid,
         |          CAST(sum(l.d) AS BIGINT) AS adc_dist
         |        FROM cand cd
         |        JOIN codes c ON c.vec_id = cd.neighbor_id
         |        JOIN qld l ON l.query_id = cd.query_id AND l.cid = cd.cid
         |                  AND l.s = c.s AND l.code = c.code
         |        GROUP BY 1, 2, 3),
         |res AS (SELECT query_id, neighbor_id, cid::INTEGER AS cid, adc_dist,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY adc_dist, neighbor_id) AS rank
         |        FROM adc)
         |SELECT query_id, rank, neighbor_id, adc_dist, cid
         |FROM res WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** q139 oracle: the ENTIRE curation loop in one statement. Stage by
    * stage: exact-dedup keepers (q09's normalization), the shared
    * k-means chain over the keepers' embeddings (srcSql joins the
    * keeper CTE), the SemDeDup pair tail (q121's shapes, w-prefixed),
    * frozen routing of the benchmark + the cross-corpus pair tail
    * (q124's shapes, b/x-prefixed), the NB classifier replay (q122's
    * chain verbatim over the surviving corpus), the unrolled BPE chain
    * trained on the curated corpus (z-prefixed, srcSql-parameterized),
    * the per-source budget window (q118's tail) and the cluster-hash
    * split cuts (q128). Every stage's input is the previous stage's
    * CTE — the loop replays END TO END, not stage by stage. */
  private def curationE2eOracleSql: String = {
    val cuts = Sampling.splitCuts(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // hub CTEs are MATERIALIZED (the bpeChainCtes discipline): DuckDB
    // inlines plain CTEs per reference, and this statement references
    // its hubs dozens of times — inlining multiplied the parquet scans
    // past the fd limit before it multiplied the runtime
    val head =
      s"""WITH crawl0 AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.lang, d.text
         |  FROM documents d JOIN embeddings emb ON emb.vec_id = d.doc_id
         |  WHERE d.doc_id % 10 != 7),
         |keep1 AS MATERIALIZED (
         |  SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id,
         |      md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS h
         |    FROM crawl0) GROUP BY h)""".stripMargin
    val chain = kmeansOracleCtes(KmeansK, KmeansIters,
      srcSql = "SELECT e2.vec_id, e2.embedding::DOUBLE[] AS v " +
        "FROM embeddings e2 JOIN keep1 ON keep1.doc_id = e2.vec_id",
      lead = ", ")
    val semDedup =
      s""", mvz AS MATERIALIZED (SELECT vec_id, val, pos FROM vzall),
         |mfa AS MATERIALIZED (SELECT vec_id, cluster, dist FROM fa),
         |wrk AS (SELECT vec_id, cluster, dist,
         |         row_number() OVER (PARTITION BY cluster
         |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |                    vec_id) AS rn
         |       FROM mfa),
         |wcap AS (SELECT vec_id, cluster, dist FROM wrk WHERE rn <= $SemCap),
         |wnm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
         |       FROM mvz v JOIN wcap c USING (vec_id) GROUP BY 1),
         |wpr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         |         a.dist AS da, b.dist AS db
         |       FROM wcap a JOIN wcap b
         |         ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |wdt AS (SELECT p.id_a, p.id_b, p.da, p.db,
         |         CAST(sum(va.val * vb.val) AS BIGINT) AS dot
         |       FROM wpr p
         |       JOIN mvz va ON va.vec_id = p.id_a
         |       JOIN mvz vb ON vb.vec_id = p.id_b AND vb.pos = va.pos
         |       GROUP BY 1, 2, 3, 4),
         |wdrop AS (SELECT DISTINCT
         |         CASE WHEN d.da < d.db THEN d.id_a
         |              WHEN d.db < d.da THEN d.id_b
         |              ELSE greatest(d.id_a, d.id_b) END AS doc_id
         |       FROM wdt d JOIN wnm na ON na.vec_id = d.id_a
         |                 JOIN wnm nb ON nb.vec_id = d.id_b
         |       WHERE d.dot > 0
         |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2),
         |keep2 AS MATERIALIZED (SELECT doc_id FROM keep1
         |          WHERE doc_id NOT IN (SELECT doc_id FROM wdrop))
         |""".stripMargin
    val decontaminate =
      s""", bqv AS MATERIALIZED (SELECT vec_id,
         |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
         |         END AS qv
         |       FROM (SELECT vec_id, v,
         |               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
         |             FROM (SELECT vec_id, embedding::DOUBLE[] AS v
         |                   FROM embeddings WHERE vec_id % 10 = 7))),
         |bvv AS MATERIALIZED (SELECT vec_id, unnest(qv) AS val,
         |              generate_subscripts(qv, 1) AS pos FROM bqv),
         |bdd AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM bvv v JOIN c$KmeansIters c USING (pos) GROUP BY 1, 2),
         |bba AS (SELECT vec_id, cid::INTEGER AS cluster FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM bdd) WHERE rn = 1),
         |xcapm AS (SELECT vec_id, cluster FROM (
         |         SELECT vec_id, cluster,
         |           row_number() OVER (PARTITION BY cluster
         |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |                      vec_id) AS rn
         |         FROM mfa WHERE vec_id IN (SELECT doc_id FROM keep2))
         |         WHERE rn <= $SemCap),
         |xcapb AS (SELECT vec_id, cluster FROM (
         |         SELECT vec_id, cluster,
         |           row_number() OVER (PARTITION BY cluster
         |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |                      vec_id) AS rn
         |         FROM bba) WHERE rn <= $SemCap),
         |xnm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
         |       FROM mvz v JOIN xcapm c USING (vec_id) GROUP BY 1),
         |xbn AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
         |       FROM bvv v JOIN xcapb c USING (vec_id) GROUP BY 1),
         |xdt AS (SELECT p.corpus_id, p.bench_id,
         |         CAST(sum(va.val * vb2.val) AS BIGINT) AS dot
         |       FROM (SELECT a.vec_id AS corpus_id, b.vec_id AS bench_id
         |             FROM xcapm a JOIN xcapb b ON a.cluster = b.cluster) p
         |       JOIN mvz va ON va.vec_id = p.corpus_id
         |       JOIN bvv vb2 ON vb2.vec_id = p.bench_id AND vb2.pos = va.pos
         |       GROUP BY 1, 2),
         |xhit AS (SELECT DISTINCT d.corpus_id AS doc_id
         |       FROM xdt d JOIN xnm na ON na.vec_id = d.corpus_id
         |                 JOIN xbn nb ON nb.vec_id = d.bench_id
         |       WHERE d.dot > 0
         |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2),
         |keep3 AS MATERIALIZED (SELECT doc_id FROM keep2
         |          WHERE doc_id NOT IN (SELECT doc_id FROM xhit)),
         |doc3 AS MATERIALIZED (SELECT c.* FROM crawl0 c JOIN keep3 USING (doc_id))
         |""".stripMargin
    val quality =
      """, tr AS (SELECT lang, text FROM doc3 WHERE doc_id % 4 != 3),
        |te AS (SELECT doc_id, lang, text FROM doc3),
        |tt AS MATERIALIZED (SELECT lang AS lab, unnest(list_filter(string_split(text, ' '),
        |         t -> len(t) > 0)) AS tok FROM tr),
        |cwt AS (SELECT lab, tok, count(*) AS c FROM tt GROUP BY 1, 2),
        |ct AS (SELECT lab, count(*) AS c FROM tt GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM tt),
        |nlab AS (SELECT lang AS lab, count(*) AS nl FROM tr GROUP BY 1),
        |ntr AS (SELECT count(*) AS n FROM tr),
        |cls AS (SELECT ct.lab, ct.c AS ctc, vocab.v,
        |          CAST(round(ln(nlab.nl::DOUBLE / ntr.n), 6) AS DECIMAL(18,6)) AS prior,
        |          CAST(round(ln(1.0 / (ct.c + vocab.v)), 6) AS DECIMAL(18,6)) AS floor_lp
        |        FROM ct JOIN nlab USING (lab), vocab, ntr),
        |model AS (SELECT cwt.lab, cwt.tok,
        |            CAST(round(ln((cwt.c + 1)::DOUBLE / (cls.ctc + cls.v)), 6)
        |              AS DECIMAL(18,6)) AS lp
        |          FROM cwt JOIN cls USING (lab)),
        |toks AS MATERIALIZED (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |           t -> len(t) > 0)) AS tok FROM te),
        |perdoc AS (SELECT t.doc_id, c.lab,
        |             CAST(sum(coalesce(m.lp, c.floor_lp)) AS DECIMAL(28,6)) AS s
        |           FROM toks t CROSS JOIN cls c
        |           LEFT JOIN model m ON m.lab = c.lab AND m.tok = t.tok
        |           GROUP BY 1, 2),
        |scored AS (SELECT p.doc_id, p.lab,
        |             CAST(p.s + c.prior AS DECIMAL(28,6)) AS score
        |           FROM perdoc p JOIN cls c USING (lab)),
        |pred AS (SELECT doc_id, lab AS pred FROM (
        |           SELECT doc_id, lab, score,
        |             row_number() OVER (PARTITION BY doc_id
        |               ORDER BY score DESC, lab ASC) AS rn
        |           FROM scored) WHERE rn = 1),
        |doc4 AS MATERIALIZED (SELECT t.doc_id, c.source, c.lang, c.text
        |         FROM te t JOIN pred p USING (doc_id)
        |         JOIN crawl0 c ON c.doc_id = t.doc_id
        |         WHERE p.pred = t.lang)
        |""".stripMargin
    val bpe = ", " + bpeChainCtes(BpeMerges, BpeMaxWords, "TRUE", "z",
      srcSql = "SELECT doc_id, text FROM doc4")
    val mix =
      s""", zwtok AS MATERIALIZED (
         |  SELECT word, count(*)::BIGINT AS n FROM zs$BpeMerges GROUP BY word),
         |zdocw AS (SELECT doc_id, word FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM doc4)
         |  WHERE len(word) > 0),
         |zdcnt AS (SELECT d.doc_id, sum(w.n)::BIGINT AS bpe_tokens
         |          FROM zdocw d JOIN zwtok w USING (word) GROUP BY 1),
         |zt AS (SELECT doc.doc_id, doc.source, doc.lang,
         |        coalesce(zdcnt.bpe_tokens, 0)::BIGINT AS bpe_tokens,
         |        ('0x' || substr(md5(doc.doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |      FROM doc4 doc LEFT JOIN zdcnt USING (doc_id)),
         |zcum AS (SELECT *, SUM(bpe_tokens) OVER (PARTITION BY source
         |          ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM zt),
         |mix5 AS (SELECT doc_id, source, lang, bpe_tokens FROM zcum
         |  WHERE cum <= CASE source WHEN 'src0' THEN ${BpeMixBudgets("src0")}
         |                           WHEN 'src1' THEN ${BpeMixBudgets("src1")}
         |                           ELSE $BpeMixDefaultBudget END),
         |spl AS (SELECT vec_id AS doc_id, cluster,
         |        CASE WHEN h < ${cuts(0)} THEN 'train'
         |             WHEN h < ${cuts(1)} THEN 'val'
         |             ELSE 'test' END AS split
         |        FROM (SELECT vec_id, cluster,
         |                ('0x' || substr(md5(cluster::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |              FROM mfa))
         |SELECT m.doc_id, m.source, m.lang, spl.cluster, spl.split,
         |       m.bpe_tokens
         |FROM mix5 m JOIN spl USING (doc_id)
         |ORDER BY m.doc_id""".stripMargin
    head + chain + semDedup + decontaminate + quality + bpe + mix
  }

  /** q147's oracle: frozen-artifact batch curation replayed END TO END
    * in one statement — every artifact trained on the %4 ≠ 3 history
    * (k-means chain, NB tables via [[nbPredCtesBody]], BPE chain,
    * DSIR bucket LMs), every serve stage applied to the %4 = 3 batch
    * (exact dedup within-batch + against history hashes, within-batch
    * pair drops, store-probe drops, frozen-NB filter, frozen-BPE
    * counts, frozen-DSIR scores). The parquet store between train and
    * serve is read-invisible: integers, strings and DECIMAL(18,6)
    * only. Hub CTEs materialized (the q139 fd-limit discipline). */
  /** One serve round of the curation-chain oracle: exact dedup
    * (within-batch keeper, minus `hashSrc`), frozen-centroid routing,
    * within-batch pair drops, store-probe drops against `memberSrc`,
    * frozen-NB filter (the shared `pred` CTE). Emits `${p}b4` (the
    * round's survivors), `${p}ba` (their routing), `${p}sba`
    * (survivor assignments — the member rows the stream ABSORBS) and
    * `${p}sh` (survivor hashes), so round r+1 can serve against
    * history ∪ survivors(≤ r) exactly as the store does. */
  private def curationRoundCtes(p: String, batchPred: String,
                                hashSrc: String,
                                memberSrc: String,
                                batchVecPred: String = "TRUE"): String =
    s""", ${p}bx AS (SELECT doc_id,
       |        md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS h
       |      FROM documents WHERE $batchPred),
       |${p}bk1 AS (SELECT h, min(doc_id) AS doc_id FROM ${p}bx GROUP BY h),
       |${p}b1 AS MATERIALIZED (SELECT doc_id FROM ${p}bk1
       |      WHERE h NOT IN ($hashSrc)),
       |${p}bd AS (SELECT v.vec_id, c.cid,
       |         CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS dist
       |       FROM mvz v JOIN c$KmeansIters c USING (pos)
       |       WHERE v.vec_id IN (SELECT doc_id FROM ${p}b1)
       |         AND ($batchVecPred) GROUP BY 1, 2),
       |${p}ba AS MATERIALIZED (SELECT vec_id, cid::INTEGER AS cluster, dist FROM (
       |       SELECT vec_id, cid, dist,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY dist, cid) AS rn
       |       FROM ${p}bd) WHERE rn = 1),
       |${p}wrk AS (SELECT vec_id, cluster, dist,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
       |                    vec_id) AS rn
       |       FROM ${p}ba),
       |${p}wcap AS (SELECT vec_id, cluster, dist FROM ${p}wrk WHERE rn <= $SemCap),
       |${p}wnm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
       |       FROM mvz v JOIN ${p}wcap c USING (vec_id) GROUP BY 1),
       |${p}wpr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       |         a.dist AS da, b.dist AS db
       |       FROM ${p}wcap a JOIN ${p}wcap b
       |         ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |${p}wdt AS (SELECT p.id_a, p.id_b, p.da, p.db,
       |         CAST(sum(va.val * vb.val) AS BIGINT) AS dot
       |       FROM ${p}wpr p
       |       JOIN mvz va ON va.vec_id = p.id_a
       |       JOIN mvz vb ON vb.vec_id = p.id_b AND vb.pos = va.pos
       |       GROUP BY 1, 2, 3, 4),
       |${p}wdrop AS (SELECT DISTINCT
       |         CASE WHEN d.da < d.db THEN d.id_a
       |              WHEN d.db < d.da THEN d.id_b
       |              ELSE greatest(d.id_a, d.id_b) END AS doc_id
       |       FROM ${p}wdt d JOIN ${p}wnm na ON na.vec_id = d.id_a
       |                 JOIN ${p}wnm nb ON nb.vec_id = d.id_b
       |       WHERE d.dot > 0
       |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2),
       |${p}b2 AS MATERIALIZED (SELECT doc_id FROM ${p}b1
       |      WHERE doc_id NOT IN (SELECT doc_id FROM ${p}wdrop)),
       |${p}capm AS (SELECT vec_id, cluster FROM (
       |       SELECT vec_id, cluster,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
       |                    vec_id) AS rn
       |       FROM ($memberSrc)) WHERE rn <= $SemCap),
       |${p}capb AS (SELECT vec_id, cluster FROM (
       |       SELECT vec_id, cluster,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
       |                    vec_id) AS rn
       |       FROM ${p}ba WHERE vec_id IN (SELECT doc_id FROM ${p}b2))
       |       WHERE rn <= $SemCap),
       |${p}xnm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
       |       FROM mvz v JOIN ${p}capm c USING (vec_id) GROUP BY 1),
       |${p}xbn AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
       |       FROM mvz v JOIN ${p}capb c USING (vec_id) GROUP BY 1),
       |${p}xdt AS (SELECT p.store_id, p.batch_id,
       |         CAST(sum(va.val * vb2.val) AS BIGINT) AS dot
       |       FROM (SELECT a.vec_id AS store_id, b.vec_id AS batch_id
       |             FROM ${p}capm a JOIN ${p}capb b ON a.cluster = b.cluster) p
       |       JOIN mvz va ON va.vec_id = p.store_id
       |       JOIN mvz vb2 ON vb2.vec_id = p.batch_id AND vb2.pos = va.pos
       |       GROUP BY 1, 2),
       |${p}xdrop AS (SELECT DISTINCT d.batch_id AS doc_id
       |       FROM ${p}xdt d JOIN ${p}xnm na ON na.vec_id = d.store_id
       |                 JOIN ${p}xbn nb ON nb.vec_id = d.batch_id
       |       WHERE d.dot > 0
       |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2),
       |${p}b3 AS MATERIALIZED (SELECT doc_id FROM ${p}b2
       |      WHERE doc_id NOT IN (SELECT doc_id FROM ${p}xdrop)),
       |${p}b4 AS MATERIALIZED (SELECT b.doc_id
       |      FROM ${p}b3 b JOIN pred p USING (doc_id)
       |      JOIN documents dd ON dd.doc_id = b.doc_id
       |      WHERE p.pred = dd.lang),
       |${p}sba AS (SELECT vec_id, cluster FROM ${p}ba
       |      WHERE vec_id IN (SELECT doc_id FROM ${p}b4)),
       |${p}sh AS (SELECT h FROM ${p}bx
       |      WHERE doc_id IN (SELECT doc_id FROM ${p}b4))""".stripMargin

  /** The frozen-artifact curation chain replayed END TO END in one
    * statement, parameterized over the history slice and the batch
    * sequence: every artifact trains on history (k-means chain, NB
    * tables, BPE chain, DSIR bucket LMs), then each batch is served
    * against history ∪ the SURVIVORS of every earlier batch — exactly
    * what the persisted store accumulates — and the output is the
    * per-batch survivor rows with their frozen annotations. One round
    * = q147 (batch store); two rounds = q149 (stream store with
    * absorption); storage in both is read-invisible (integers, strings
    * and DECIMAL(18,6) only). Hub CTEs materialized (the q139
    * fd-limit discipline). */
  /** The curation chain's WITH body (training + per-round serve CTEs)
    * and the round prefixes — shared by the survivor-rows tail
    * ([[curationChainOracleSql]]) and the q155 audit tail, which reads
    * the SAME stage CTEs but labels every batch doc instead of
    * selecting the survivors. */
  private def curationChainBody(histDocPred: String,
                                histVecPred: String,
                                testPred: String,
                                batchPreds: Seq[String],
                                batchVecPreds: Seq[String] = Seq.empty)
      : (String, Seq[String]) = {
    val head =
      s"""WITH hh AS MATERIALIZED (SELECT DISTINCT
         |        md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS h
         |      FROM documents WHERE $histDocPred)""".stripMargin
    val chain = kmeansOracleCtes(KmeansK, KmeansIters,
      trainPred = histVecPred, lead = ", ")
    val hubs =
      """, mvz AS MATERIALIZED (SELECT vec_id, val, pos FROM vzall),
        |mfa AS MATERIALIZED (SELECT vec_id, cluster, dist FROM fa)""".stripMargin
    val quality = ", " + nbPredCtesFor(histDocPred, testPred)
    val bpe = ", " +
      bpeChainCtes(BpeMerges, BpeMaxWords, histDocPred, "a_") +
      s""",
         |awtok AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n
         |  FROM a_s$BpeMerges GROUP BY 1),
         |adocw AS (SELECT doc_id, word FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |   FROM documents WHERE $testPred)
         |  WHERE len(word) > 0),
         |acnt AS (SELECT d.doc_id, sum(w.n)::BIGINT AS bpe_tokens
         |         FROM adocw d JOIN awtok w USING (word) GROUP BY 1)""".stripMargin
    val dsir =
      s""", wdd AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
         |        $histDocPred AS train,
         |        list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
         |      FROM documents),
         |wtk AS MATERIALIZED (SELECT doc_id, tgt, train,
         |        ('0x' || substr(md5(tok || '$SampleSeed'), 1, 15))::BIGINT % 256 AS b
         |      FROM (SELECT doc_id, tgt, train, unnest(w) AS tok FROM wdd)),
         |wcr AS (SELECT b, count(*) AS cr FROM wtk WHERE train GROUP BY 1),
         |wct AS (SELECT b, count(*) AS ct FROM wtk WHERE train AND tgt GROUP BY 1),
         |wtot AS (SELECT count(*) AS nr,
         |        count(CASE WHEN tgt THEN 1 END) AS nt FROM wtk WHERE train),
         |wspine AS (SELECT unnest(generate_series(0, 255))::BIGINT AS b),
         |wlw AS (SELECT wspine.b,
         |          CAST(round(ln((coalesce(wct.ct, 0) + 1)::DOUBLE / (wtot.nt + 256)), 6)
         |               AS DECIMAL(18,6))
         |        - CAST(round(ln((coalesce(wcr.cr, 0) + 1)::DOUBLE / (wtot.nr + 256)), 6)
         |               AS DECIMAL(18,6)) AS lw
         |        FROM wspine LEFT JOIN wcr ON wspine.b = wcr.b
         |                    LEFT JOIN wct ON wspine.b = wct.b, wtot),
         |wsc AS (SELECT t.doc_id, CAST(sum(wlw.lw) AS DECIMAL(28,6)) AS score
         |        FROM wtk t JOIN wlw ON t.b = wlw.b
         |        WHERE NOT t.train GROUP BY 1)""".stripMargin
    // each round serves against history ∪ the survivors of every
    // earlier round — the oracle form of the stream's absorption
    val prefixes = batchPreds.indices.map(i =>
      if (batchPreds.size == 1) "" else s"r${i + 1}")
    val rounds = batchPreds.zipWithIndex.map { case (bp, i) =>
      val priors = prefixes.take(i)
      val hashSrc = ("SELECT h FROM hh" +:
        priors.map(q => s"SELECT h FROM ${q}sh")).mkString(" UNION ALL ")
      val memberSrc = ("SELECT vec_id, cluster FROM mfa" +:
        priors.map(q => s"SELECT vec_id, cluster FROM ${q}sba"))
        .mkString(" UNION ALL ")
      curationRoundCtes(prefixes(i), bp, hashSrc, memberSrc,
        batchVecPreds.lift(i).getOrElse("TRUE"))
    }.mkString
    (head + chain + hubs + quality + bpe + dsir + rounds, prefixes)
  }

  private def curationChainOracleSql(histDocPred: String,
                                     histVecPred: String,
                                     testPred: String,
                                     batchPreds: Seq[String],
                                     withBatchCol: Boolean,
                                     withOrder: Boolean = true): String = {
    val (body, prefixes) = curationChainBody(
      histDocPred, histVecPred, testPred, batchPreds)
    def roundSelect(p: String, i: Int): String = {
      val bCol = if (withBatchCol) s"${i + 1}::BIGINT AS b, " else ""
      s"""SELECT ${bCol}bb.doc_id, dd.source, dd.lang, ${p}ba.cluster,
         |       coalesce(ac.bpe_tokens, 0)::BIGINT AS bpe_tokens,
         |       CAST(CAST(coalesce(ws.score, CAST(0 AS DECIMAL(28,6)))
         |                 AS VARCHAR) AS DOUBLE) AS dsir_score
         |FROM ${p}b4 bb
         |JOIN documents dd ON dd.doc_id = bb.doc_id
         |JOIN ${p}ba ON ${p}ba.vec_id = bb.doc_id
         |LEFT JOIN acnt ac ON ac.doc_id = bb.doc_id
         |LEFT JOIN wsc ws ON ws.doc_id = bb.doc_id""".stripMargin
    }
    val unioned = prefixes.zipWithIndex
      .map { case (p, i) => roundSelect(p, i) }
      .mkString("\n", "\nUNION ALL\n", "\n")
    // ordinals: the bare names are ambiguous inside a single-select
    // scope (bb/ac/ws all carry doc_id). withOrder=false yields a bare
    // query expression composable as a nested-WITH subquery (q154
    // unions two independent chains — one per store epoch)
    val order =
      if (!withOrder) ""
      else if (withBatchCol) "ORDER BY 1, 2"
      else "ORDER BY 1"
    body + unioned + order
  }

  /** q155: the single-round chain's stage CTEs re-read as a per-doc
    * disposition — every batch doc labeled with the FIRST stage that
    * dropped it (mirrors [[operators.Curation.auditBatch]]'s CASE
    * order exactly; `bk1` = keeper of each hash group, `b1` = keepers
    * surviving the history hash set, `wdrop`/`xdrop` = within-batch /
    * history semantic drops, `pred` = the frozen-NB prediction). */
  /** The lane-on audit tail over one round's stage CTEs (prefix `p`):
    * every doc of `batchPred` labeled with its first-failing stage —
    * the vectorless arm replays the LEXICAL LANE (q159): a vectorless
    * keeper is judged by the frozen-NB filter instead of rejected.
    * `evPred` restricts which embedding rows the audited batch actually
    * carried (the entry's batchVecs filter). */
  private def curationAuditTail(p: String, batchPred: String,
                                evPred: String): String =
    s"""
      |SELECT d.doc_id,
      |       CASE
      |         WHEN k.doc_id IS NULL THEN 'exact_dup_batch'
      |         WHEN b1x.doc_id IS NULL THEN 'exact_dup_history'
      |         WHEN ev.vec_id IS NULL THEN
      |           CASE WHEN p.pred <> d.lang THEN 'quality'
      |                ELSE 'vectorless_curated' END
      |         WHEN wd.doc_id IS NOT NULL THEN 'near_dup_batch'
      |         WHEN xd.doc_id IS NOT NULL THEN 'near_dup_history'
      |         WHEN p.pred <> d.lang THEN 'quality'
      |         ELSE 'survived'
      |       END AS verdict
      |FROM documents d
      |LEFT JOIN ${p}bk1 k ON k.doc_id = d.doc_id
      |LEFT JOIN ${p}b1 b1x ON b1x.doc_id = d.doc_id
      |LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings
      |           WHERE $evPred) ev
      |  ON ev.vec_id = d.doc_id
      |LEFT JOIN ${p}wdrop wd ON wd.doc_id = d.doc_id
      |LEFT JOIN ${p}xdrop xd ON xd.doc_id = d.doc_id
      |LEFT JOIN pred p ON p.doc_id = d.doc_id
      |WHERE d.$batchPred
      |ORDER BY 1""".stripMargin

  private def curationAuditOracleSql: String = {
    val (body, _) = curationChainBody(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3", batchPreds = Seq("doc_id % 4 = 3"))
    body + curationAuditTail("", "doc_id % 4 = 3", "TRUE")
  }

  /** q161: the audit tail over ROUND 2 of the lane-on stream chain —
    * `r2b1` is keepers fresh against history ∪ batch-1 survivors of
    * BOTH lanes (`sh` includes the lexical lane), so the replayed
    * `exact_dup_history` covers lane-crossing dedup provenance. */
  private def curationStreamAuditOracleSql: String = {
    val (body, prefixes) = curationChainBody(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 4 = 3"),
      batchVecPreds = Seq("v.vec_id % 8 = 2", "v.vec_id % 8 = 3"))
    body + curationAuditTail(prefixes.last, "doc_id % 4 = 3",
      "vec_id % 8 = 3")
  }

  /** q183: the q147 chain's CTEs (serve survivors = b4 ⋈ ba), the q174
    * span-cut machinery over exactly those docs, the q164 pack lattice
    * over the CLEAN text, and the q176 manifest aggregate — one
    * derivation from the raw tables for the whole production chain. */
  private def pipelineManifestOracleSql: String = {
    val (body, _) = curationChainBody(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3", batchPreds = Seq("doc_id % 4 = 3"))
    val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
    val ck = sqlHash60(
      "modality || ':' || doc_id::VARCHAR || ':' || item_idx::VARCHAR")
    body + s""",
      |zsrv AS (SELECT bb.doc_id FROM b4 bb JOIN ba ON ba.vec_id = bb.doc_id),
      |zbm AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |${spanGramSet("zb", "zbm")},
      |zcsrc AS (SELECT d.doc_id, d.text FROM documents d JOIN zsrv USING (doc_id)),
      |zarr AS (SELECT doc_id, string_split(text, ' ') AS a FROM zcsrc),
      |zocc AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
      |        FROM zarr WHERE len(a) >= 8),
      |zg AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM zocc),
      |zfl AS (SELECT zg.doc_id, zg.pos FROM zg JOIN zbgs USING (gh)),
      |zisl AS (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |        FROM zfl),
      |zsp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
      |       FROM zisl GROUP BY doc_id, grp),
      |zcut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos FROM zsp),
      |ztok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      |        FROM zcsrc),
      |zkeep AS (SELECT t.doc_id, t.pos, t.tok FROM ztok t
      |         ANTI JOIN zcut c ON t.doc_id = c.doc_id AND t.pos = c.pos),
      |zcl AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
      |       FROM zkeep GROUP BY doc_id),
      |zpd AS (SELECT c.doc_id, d.source, string_split(c.clean_text, ' ') AS w
      |       FROM zcl c JOIN documents d USING (doc_id)),
      |zmedia AS (SELECT source, doc_id, 0::BIGINT AS item_idx,
      |                 'image' AS modality, 64::BIGINT AS cost_tokens
      |          FROM zpd WHERE doc_id % 8 = 3),
      |zc AS (SELECT source, doc_id, w,
      |        unnest(generate_series(1, len(w), 32)) AS s FROM zpd),
      |zti AS (SELECT source, doc_id, ((s - 1) // 32 + 1)::BIGINT AS item_idx,
      |              'text' AS modality,
      |              least(32, len(w) - s + 1)::BIGINT AS cost_tokens FROM zc),
      |zitems AS (SELECT * FROM zmedia UNION ALL SELECT * FROM zti),
      |zp AS (SELECT *, coalesce(sum(cost_tokens) OVER (
      |        PARTITION BY source ORDER BY doc_id, item_idx
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |      FROM zitems),
      |zbb AS (SELECT source, doc_id, item_idx, modality, cost_tokens,
      |             (pre // 256)::BIGINT AS bin FROM zp)
      |SELECT source, bin, count(*)::BIGINT AS n_items,
      |       count(DISTINCT doc_id)::BIGINT AS n_docs,
      |       sum(cost_tokens)::BIGINT AS fill_tokens,
      |       sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)::BIGINT
      |         AS n_images,
      |       (sum($ck % 1000000000) % 1000000000)::BIGINT AS checksum
      |FROM zbb GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin
  }

  private def curationServeOracleSql: String =
    curationChainOracleSql(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3",
      batchPreds = Seq("doc_id % 4 = 3"), withBatchCol = false)

  /** q159: the q147 chain's CTEs with BOTH lanes selected. The chain's
    * `b4` naturally contains the lexical survivors already — a
    * vectorless keeper passes `wdrop`/`xdrop` vacuously (no vector, no
    * pair) and is judged by the same `pred` filter — so the vectored
    * lane is `b4 ⋈ ba` (the routing join that used to silently drop
    * vectorless docs) and the lexical lane is `b4 ∖ ba` with a null
    * cluster: exactly [[operators.Curation.serveBatch]]'s
    * lexicalLane = true union. */
  private def curationLexicalOracleSql: String = {
    // the batch's vectors are restricted to vec_id % 8 = 3 (the Spark
    // entry's batchVecs filter): at sf0.01 every doc carries a fixture
    // vector, so the lane would be vacuous without modeling an embedder
    // that has only reached half the batch
    val (body, _) = curationChainBody(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3", batchPreds = Seq("doc_id % 4 = 3"),
      batchVecPreds = Seq("v.vec_id % 8 = 3"))
    body + """
      |SELECT bb.doc_id, dd.source, dd.lang, ba.cluster,
      |       coalesce(ac.bpe_tokens, 0)::BIGINT AS bpe_tokens,
      |       CAST(CAST(coalesce(ws.score, CAST(0 AS DECIMAL(28,6)))
      |                 AS VARCHAR) AS DOUBLE) AS dsir_score
      |FROM b4 bb
      |JOIN documents dd ON dd.doc_id = bb.doc_id
      |JOIN ba ON ba.vec_id = bb.doc_id
      |LEFT JOIN acnt ac ON ac.doc_id = bb.doc_id
      |LEFT JOIN wsc ws ON ws.doc_id = bb.doc_id
      |UNION ALL
      |SELECT bb.doc_id, dd.source, dd.lang, NULL::INTEGER AS cluster,
      |       coalesce(ac.bpe_tokens, 0)::BIGINT AS bpe_tokens,
      |       CAST(CAST(coalesce(ws.score, CAST(0 AS DECIMAL(28,6)))
      |                 AS VARCHAR) AS DOUBLE) AS dsir_score
      |FROM b4 bb
      |JOIN documents dd ON dd.doc_id = bb.doc_id
      |LEFT JOIN acnt ac ON ac.doc_id = bb.doc_id
      |LEFT JOIN wsc ws ON ws.doc_id = bb.doc_id
      |WHERE bb.doc_id NOT IN (SELECT vec_id FROM ba)
      |ORDER BY 1""".stripMargin
  }

  /** q160: the two-round stream chain with both lanes selected per
    * round. The chain CTEs already model lane-on absorption exactly —
    * `sh` (the hashes round r+1 serves against) is built from ALL of
    * b4's survivors, lexical included, while `sba` (the members) comes
    * from `ba`, vectored only — so the only lane-specific part is the
    * tail, as in q159. Each round's vectors are restricted to
    * `vec_id % 8 = <batch residue>`: half of every batch is vectorless
    * at every SF. */
  private def curationLexStreamOracleSql: String = {
    val (body, prefixes) = curationChainBody(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 4 = 3"),
      batchVecPreds = Seq("v.vec_id % 8 = 2", "v.vec_id % 8 = 3"))
    val rounds = prefixes.zipWithIndex.map { case (p, i) =>
      s"""SELECT ${i + 1}::BIGINT AS b, bb.doc_id, dd.source, dd.lang,
         |       ${p}ba.cluster,
         |       coalesce(ac.bpe_tokens, 0)::BIGINT AS bpe_tokens,
         |       CAST(CAST(coalesce(ws.score, CAST(0 AS DECIMAL(28,6)))
         |                 AS VARCHAR) AS DOUBLE) AS dsir_score
         |FROM ${p}b4 bb
         |JOIN documents dd ON dd.doc_id = bb.doc_id
         |JOIN ${p}ba ON ${p}ba.vec_id = bb.doc_id
         |LEFT JOIN acnt ac ON ac.doc_id = bb.doc_id
         |LEFT JOIN wsc ws ON ws.doc_id = bb.doc_id
         |UNION ALL
         |SELECT ${i + 1}::BIGINT AS b, bb.doc_id, dd.source, dd.lang,
         |       NULL::INTEGER AS cluster,
         |       coalesce(ac.bpe_tokens, 0)::BIGINT AS bpe_tokens,
         |       CAST(CAST(coalesce(ws.score, CAST(0 AS DECIMAL(28,6)))
         |                 AS VARCHAR) AS DOUBLE) AS dsir_score
         |FROM ${p}b4 bb
         |JOIN documents dd ON dd.doc_id = bb.doc_id
         |LEFT JOIN acnt ac ON ac.doc_id = bb.doc_id
         |LEFT JOIN wsc ws ON ws.doc_id = bb.doc_id
         |WHERE bb.doc_id NOT IN (SELECT vec_id FROM ${p}ba)""".stripMargin
    }
    body + rounds.mkString("\n", "\nUNION ALL\n", "\nORDER BY 1, 2")
  }

  private def curationStreamOracleSql: String =
    curationChainOracleSql(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 4 = 3"),
      withBatchCol = true)

  /** The sem-store probe replay shared by q127 (batch-layout build+append)
    * and q140 (stream-layout build+fold): train on the build slice
    * only, route members (%4 != 3) and the probe batch (%4 = 3)
    * through the frozen centroids, cap both sides, integer pair
    * decision. The two stores hold identical member CONTENT in
    * different layouts, so one replay certifies both lifecycles —
    * and the fold, which must be invisible to every read. */
  private lazy val semStoreProbeOracleSql: String =
    (kmeansOracleCtes(KmeansK, KmeansIters, "vec_id % 4 <= 1") +
      s""", vmem AS (SELECT vec_id, val, pos FROM vzall WHERE vec_id % 4 != 3),
          |dm AS (SELECT v.vec_id, c.cid,
          |         sum((v.val - c.val) * (v.val - c.val)) AS dist
          |       FROM vmem v JOIN c$KmeansIters c USING (pos) GROUP BY 1, 2),
          |am AS (SELECT vec_id, cid::INTEGER AS cluster FROM (
          |         SELECT vec_id, cid, dist,
          |           row_number() OVER (PARTITION BY vec_id
          |                              ORDER BY dist, cid) AS rn
          |         FROM dm) WHERE rn = 1),
          |vbt AS (SELECT vec_id, val, pos FROM vzall WHERE vec_id % 4 = 3),
          |dbt AS (SELECT v.vec_id, c.cid,
          |          sum((v.val - c.val) * (v.val - c.val)) AS dist
          |        FROM vbt v JOIN c$KmeansIters c USING (pos) GROUP BY 1, 2),
          |abt AS (SELECT vec_id, cid::INTEGER AS cluster FROM (
          |          SELECT vec_id, cid, dist,
          |            row_number() OVER (PARTITION BY vec_id
          |                               ORDER BY dist, cid) AS rn
          |          FROM dbt) WHERE rn = 1),
          |capm AS (SELECT vec_id, cluster FROM (
          |         SELECT vec_id, cluster,
          |           row_number() OVER (PARTITION BY cluster
          |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
          |                      vec_id) AS rn
          |         FROM am) WHERE rn <= $SemCap),
          |capb AS (SELECT vec_id, cluster FROM (
          |         SELECT vec_id, cluster,
          |           row_number() OVER (PARTITION BY cluster
          |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
          |                      vec_id) AS rn
          |         FROM abt) WHERE rn <= $SemCap),
          |nm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
          |       FROM vzall v GROUP BY 1),
          |pr AS (SELECT a.cluster, a.vec_id AS store_id, b.vec_id AS batch_id
          |       FROM capm a JOIN capb b ON a.cluster = b.cluster),
          |dt AS (SELECT p.cluster, p.store_id, p.batch_id,
          |         CAST(sum(va.val * vb2.val) AS BIGINT) AS dot
          |       FROM pr p
          |       JOIN vzall va ON va.vec_id = p.store_id
          |       JOIN vzall vb2 ON vb2.vec_id = p.batch_id AND vb2.pos = va.pos
          |       GROUP BY 1, 2, 3),
          |sd AS (SELECT d.cluster, d.store_id, d.batch_id, d.dot,
          |         na.n2 AS na, nb.n2 AS nb
          |       FROM dt d JOIN nm na ON na.vec_id = d.store_id
          |                 JOIN nm nb ON nb.vec_id = d.batch_id
          |       WHERE d.dot > 0
          |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2)
          |SELECT cluster, store_id, batch_id,
          |  round(dot / sqrt((na * nb)::DOUBLE), 6) AS cosine
          |FROM sd ORDER BY cluster, store_id, batch_id""".stripMargin)

  /** q126 oracle: the fine k-means chain (ending at c`iters`/fa), then
    * the DRIVER-side coarse Lloyd replayed with the SAME CTE shapes —
    * the "corpus" is the k fine-centroid rows — then the two-level
    * routing (coarse argmin over non-empty cells → fine argmin inside
    * the cell) and the agreement audit vs the exact assignment. */
  private def twoLevelOracleSql(k: Int, iters: Int,
                                kc: Int, cIters: Int): String = {
    val coarseSteps = (1 to cIters).map { i =>
      s"""cd$i AS (SELECT v.fid, c.kc,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM cv v JOIN cc${i - 1} c USING (pos) GROUP BY 1, 2),
         |ca$i AS (SELECT fid, kc FROM (
         |         SELECT fid, kc,
         |           row_number() OVER (PARTITION BY fid
         |                              ORDER BY dist, kc) AS rn
         |         FROM cd$i) WHERE rn = 1),
         |cm$i AS (SELECT a.kc, v.pos, floor(sum(v.val) / count(*)) AS val
         |        FROM ca$i a JOIN cv v USING (fid) GROUP BY 1, 2),
         |cc$i AS (SELECT c.kc, c.pos, coalesce(m.val, c.val) AS val
         |        FROM cc${i - 1} c
         |        LEFT JOIN cm$i m ON m.kc = c.kc AND m.pos = c.pos),
         |""".stripMargin
    }.mkString
    kmeansOracleCtes(k, iters) +
      s""", cv AS (SELECT cid AS fid, pos, val FROM c$iters),
         |ck0 AS (SELECT fid, row_number() OVER (ORDER BY fid) - 1 AS kc
         |        FROM (SELECT DISTINCT fid FROM cv ORDER BY fid LIMIT $kc)),
         |cc0 AS (SELECT ck0.kc, cv.pos, cv.val
         |        FROM ck0 JOIN cv USING (fid)),
         |""".stripMargin +
      coarseSteps +
      s"""celld AS (SELECT v.fid, c.kc,
         |            sum((v.val - c.val) * (v.val - c.val)) AS dist
         |          FROM cv v JOIN cc$cIters c USING (pos) GROUP BY 1, 2),
         |cellf AS (SELECT fid, kc FROM (
         |          SELECT fid, kc,
         |            row_number() OVER (PARTITION BY fid
         |                               ORDER BY dist, kc) AS rn
         |          FROM celld) WHERE rn = 1),
         |pvc AS (SELECT v.vec_id, c.kc,
         |          sum((v.val - c.val) * (v.val - c.val)) AS d
         |        FROM vzall v JOIN cc$cIters c USING (pos)
         |        WHERE c.kc IN (SELECT DISTINCT kc FROM cellf)
         |        GROUP BY 1, 2),
         |pva AS (SELECT vec_id, kc FROM (
         |        SELECT vec_id, kc,
         |          row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY d, kc) AS rn
         |        FROM pvc) WHERE rn = 1),
         |fd AS (SELECT v.vec_id, cf.fid,
         |         CAST(sum((v.val - cv.val) * (v.val - cv.val)) AS BIGINT)
         |           AS dist
         |       FROM vzall v
         |       JOIN pva ON pva.vec_id = v.vec_id
         |       JOIN cellf cf ON cf.kc = pva.kc
         |       JOIN cv ON cv.fid = cf.fid AND cv.pos = v.pos
         |       GROUP BY 1, 2),
         |fa2 AS (SELECT vec_id, fid::INTEGER AS cluster, dist FROM (
         |        SELECT vec_id, fid, dist,
         |          row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY dist, fid) AS rn
         |        FROM fd) WHERE rn = 1)
         |SELECT a.cluster, count(*)::BIGINT AS n,
         |       sum(a.dist)::BIGINT AS sum_dist,
         |       sum(CASE WHEN a.cluster = f.cluster THEN 1 ELSE 0 END)::BIGINT
         |         AS n_agree
         |FROM fa2 a JOIN fa f USING (vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q98 oracle: the integer-PageRank iteration replayed. Every
    * contribution is `((r // outdeg) * 85) // 100` on BIGINTs and the
    * teleport base is the same floored constant, so each rank table —
    * and therefore the fixpoint after any number of passes — is
    * bit-identical to the Spark loop. */
  /** q98/q119 oracle: integer PageRank replayed step by step.
    * `symmetrize` mirrors q98's undirected customer↔supplier graph;
    * `dangling` adds the per-pass redistribution term (q119's DIRECTED
    * bipartite graph, where every supplier is dangling): the dangling
    * rank sum, damped and floor-split evenly — the same integer ops
    * in the same order as Graphs.pageRankFixed. */
  private def pageRankOracleSql(iters: Int, symmetrize: Boolean = true,
                                dangling: Boolean = false): String = {
    val edCte = if (symmetrize)
      """ed AS (SELECT src, dst FROM le
        |       UNION SELECT dst AS src, src AS dst FROM le),""".stripMargin
    else "ed AS (SELECT src, dst FROM le),"
    val header =
      """WITH le AS (SELECT DISTINCT o.o_custkey * 2 AS src,
        |                            l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |""".stripMargin + edCte + """
        |deg AS (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
        |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |nn AS (SELECT count(*) AS n FROM nd),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nd, nn),
        |""".stripMargin
    val steps = (1 to iters).map { i =>
      val dangCte = if (!dangling) "" else
        s"""d$i AS (SELECT coalesce(sum(r.r), 0) AS d
           |        FROM r${i - 1} r LEFT JOIN deg ON deg.src = r.node
           |        WHERE deg.outdeg IS NULL),
           |""".stripMargin
      val dangTerm = if (!dangling) ""
        else " + ((d.d * 85) // 100) // nn.n"
      val dangFrom = if (!dangling) "" else s" CROSS JOIN d$i d"
      dangCte +
      s"""s$i AS (SELECT e.dst AS node,
         |          sum(((r.r // d.outdeg) * 85) // 100) AS c
         |        FROM ed e JOIN r${i - 1} r ON r.node = e.src
         |        JOIN deg d ON d.src = e.src GROUP BY 1),
         |r$i AS (SELECT nd.node,
         |          ((1000000000000 * 15) // (100 * nn.n)$dangTerm
         |           + coalesce(s.c, 0))::BIGINT AS r
         |        FROM nd CROSS JOIN nn$dangFrom
         |        LEFT JOIN s$i s ON s.node = nd.node),
         |""".stripMargin
    }.mkString
    val footer =
      s"""fin AS (SELECT node, r FROM r$iters)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |       node // 2 AS node_key, r AS rank_scaled
         |FROM fin ORDER BY node_type, node_key""".stripMargin
    header + steps + footer
  }

  /** q102 oracle: deterministic frequency-LPA replayed — neighbor
    * label counts are integers and the argmax tie-breaks on the label,
    * so every synchronous round (and the roster aggregate on top) is
    * bit-identical. */
  private def lpaOracleSql(iters: Int): String = {
    val header =
      """WITH le AS (SELECT DISTINCT o.o_custkey * 2 AS src,
        |                            l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey
        |            WHERE l.l_quantity >= 45),
        |ed AS (SELECT src, dst FROM le
        |       UNION SELECT dst AS src, src AS dst FROM le),
        |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |l0 AS (SELECT node, node AS label FROM nd),
        |""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.dst AS node, l.label, count(*) AS c
         |        FROM ed e JOIN l${i - 1} l ON l.node = e.src
         |        GROUP BY 1, 2),
         |n$i AS (SELECT node, label FROM (
         |          SELECT node, label,
         |            row_number() OVER (PARTITION BY node
         |                               ORDER BY c DESC, label) AS rn
         |          FROM m$i) WHERE rn = 1),
         |l$i AS (SELECT p.node, coalesce(n.label, p.label) AS label
         |        FROM l${i - 1} p LEFT JOIN n$i n ON n.node = p.node),
         |""".stripMargin
    }.mkString
    val footer =
      s"""fin AS (SELECT node, label FROM l$iters)
         |SELECT label AS community, count(*)::BIGINT AS n_members,
         |       sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_customers,
         |       sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_suppliers
         |FROM fin GROUP BY 1 ORDER BY community""".stripMargin
    header + steps + footer
  }

  private def bruteAnnSqlOver(queryPred: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |q AS (SELECT vec_id, v FROM e WHERE $queryPred),""".stripMargin +
    """
      |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |        round(list_dot_product(q.v, e.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
      |          AS cosine
      |      FROM q, e WHERE e.vec_id != q.vec_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |        row_number() OVER (PARTITION BY query_id
      |                           ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, neighbor_id, cosine
      |FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  private val bruteAnnSql = bruteAnnSqlOver("vec_id % 50 = 0")

  /** q72 oracle: int8 quantization is floor(x*127/max|x| + 0.5) on
    * doubles — exact integer outputs, so quantized dot/norms are
    * bit-identical across engines; the rerank and the hit audit reuse
    * q12's exact-cosine arithmetic. Also q92's int8 arm. */
  private val quantAnnSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |sc AS (SELECT vec_id, v,
      |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
      |       FROM e),
      |qz AS (SELECT vec_id, v,
      |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
      |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
      |         END AS qv
      |       FROM sc),
      |q AS (SELECT vec_id, v, qv FROM qz WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.qv, c.qv) /
      |           (sqrt(list_dot_product(q.qv, q.qv)) *
      |            sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos,
      |         round(list_dot_product(q.v, c.v) /
      |           (sqrt(list_dot_product(q.v, q.v)) *
      |            sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      |  FROM q, qz c WHERE c.vec_id != q.vec_id),
      |short AS (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY qcos DESC, neighbor_id) AS q_rank
      |  FROM cand),
      |rer AS (
      |  SELECT query_id, neighbor_id, cosine, q_rank,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM short WHERE q_rank <= 32),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY cosine DESC, neighbor_id) AS xr
      |    FROM cand) WHERE xr <= 10)
      |SELECT r.query_id, r.rank, r.neighbor_id, r.cosine, r.q_rank,
      |       (x.neighbor_id IS NOT NULL) AS hit
      |FROM rer r
      |LEFT JOIN exact x
      |  ON r.query_id = x.query_id AND r.neighbor_id = x.neighbor_id
      |WHERE r.rank <= 10
      |ORDER BY r.query_id, r.rank""".stripMargin

  /** q92 oracle: each approximate arm's full replay (the SAME SQL that
    * oracles q36/q37/q72, as derived tables) audited against q12's
    * exact replay — the evaluation layer adds counting on top of
    * already-certified arithmetic, nothing else. */
  private def annRecallSql: String =
    s"""WITH lsh0 AS (SELECT query_id, neighbor_id FROM (
       |${annLshOracle(nPlanes = 4, nTables = 8, k = 10)})),
       |ivf0 AS (SELECT query_id, neighbor_id FROM (
       |${annIvfOracle(nCentroids = 16, nProbe = 4, k = 10)})),
       |qz0 AS (SELECT query_id, neighbor_id FROM (
       |$quantAnnSql)),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |$bruteAnnSql)),
       |nq AS (SELECT (count(*) * 10)::DOUBLE AS denom
       |       FROM embeddings WHERE vec_id % 50 = 0),
       |un AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh0
       |       UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf0
       |       UNION ALL SELECT 'int8', query_id, neighbor_id FROM qz0),
       |j AS (SELECT un.method,
       |        CASE WHEN bf.query_id IS NULL THEN 0 ELSE 1 END AS hit
       |      FROM un LEFT JOIN bf ON un.query_id = bf.query_id
       |                          AND un.neighbor_id = bf.neighbor_id)
       |SELECT method, count(*)::BIGINT AS n_results, sum(hit)::BIGINT AS n_hits,
       |       round(sum(hit)::DOUBLE / (SELECT denom FROM nq), 6) AS recall_at_10
       |FROM j GROUP BY method ORDER BY method""".stripMargin

  /** q134 oracle: the same three arm replays WITH their ranks, hits
    * against q12's exact replay, then MRR/nDCG with the discount
    * constants inlined from [[Retrieval.dcgDiscounts]] — integer sums
    * throughout, two rounded ratios at the end. */
  private def retrievalMetricsSql: String = {
    val discList = graft.operators.Retrieval.dcgDiscounts.take(10)
      .mkString(", ")
    val idcg = graft.operators.Retrieval.dcgDiscounts.take(10).sum
    val scale = graft.operators.Retrieval.DcgScale
    s"""WITH lshr AS (SELECT query_id, neighbor_id, rank FROM (
       |${annLshOracle(nPlanes = 4, nTables = 8, k = 10)})),
       |ivfr AS (SELECT query_id, neighbor_id, rank FROM (
       |${annIvfOracle(nCentroids = 16, nProbe = 4, k = 10)})),
       |qzr AS (SELECT query_id, neighbor_id, rank FROM (
       |$quantAnnSql)),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |$bruteAnnSql)),
       |nqq AS (SELECT count(DISTINCT query_id)::BIGINT AS nq FROM bf),
       |un AS (SELECT 'lsh' AS method, query_id, neighbor_id, rank FROM lshr
       |       UNION ALL SELECT 'ivf', query_id, neighbor_id, rank FROM ivfr
       |       UNION ALL SELECT 'int8', query_id, neighbor_id, rank FROM qzr),
       |hits AS (SELECT un.method, un.query_id, un.rank
       |         FROM un JOIN bf USING (query_id, neighbor_id)
       |         WHERE un.rank <= 10),
       |pq AS (SELECT method, query_id, min(rank) AS fr,
       |         sum(list_value($discList)[rank])::BIGINT AS dcg
       |       FROM hits GROUP BY 1, 2),
       |m AS (SELECT method, sum($scale // fr)::BIGINT AS sum_rr,
       |        sum(dcg)::BIGINT AS sum_dcg
       |      FROM pq GROUP BY 1)
       |SELECT method, (SELECT nq FROM nqq) AS n_queries, sum_rr,
       |  round(sum_rr::DOUBLE /
       |    ((SELECT nq FROM nqq) * $scale)::DOUBLE, 6) AS mrr,
       |  sum_dcg, ((SELECT nq FROM nqq) * $idcg)::BIGINT AS sum_idcg,
       |  round(sum_dcg::DOUBLE /
       |    ((SELECT nq FROM nqq) * $idcg)::DOUBLE, 6) AS ndcg
       |FROM m ORDER BY method""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // q93: the streaming run's final Complete table must equal the
    // plain batch aggregate over the whole backlog — q25's bucket
    // arithmetic, minus the bucket id column
    "q93_stream_windows" ->
      """SELECT (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin,
    // q94: as-of batch 1 of the (doc_id mod 3)-versioned index ≡ the
    // direct replay over batches 0 and 1 — the q86 discipline (the
    // index changes what is read, never what is computed) extended to
    // WHEN
    "q94_index_time_travel" -> bm25SqlOver("doc_id % 3 != 2"),
    // q115: as-of the fold point over the folded store ≡ the direct
    // replay over batches 0-2 — folding never changes a result
    "q115_index_fold" -> bm25SqlOver("doc_id % 4 != 3"),
    // q116-q118: the BPE trainer unrolled (32 chained merge steps);
    // counts are integers and every tie has a total order, so the
    // whole model — and everything budgeted in its tokens — replays
    // bit-exact
    "q116_bpe_merges" -> (bpeChainSql(BpeMerges, BpeMaxWords) +
      ",\nmm AS (" + (1 to BpeMerges).map(r =>
        s"""SELECT ${r - 1}::BIGINT AS rank, l AS "left", r AS "right" FROM b$r""")
        .mkString("\nUNION ALL\n") +
      ")\nSELECT rank, \"left\", \"right\" FROM mm ORDER BY rank"),
    "q117_bpe_tokens" -> (bpeDocCountsSql(BpeMerges, BpeMaxWords) + """
      |SELECT doc.doc_id, coalesce(dcnt.bpe_tokens, 0)::BIGINT AS bpe_tokens
      |FROM documents doc LEFT JOIN dcnt USING (doc_id)
      |ORDER BY doc.doc_id""".stripMargin),
    // q120: two models trained in ONE statement (namespaced chains —
    // frozen learns from three data quarters, retrained from all);
    // both encode the full vocabulary (freq-0 ride-along words), then
    // per-source integer fertility in basis points
    "q120_tokenizer_drift" -> ("WITH " +
      bpeChainCtes(BpeMerges, BpeMaxWords, "doc_id % 4 != 3", "a_") + ",\n" +
      bpeChainCtes(BpeMerges, BpeMaxWords, "TRUE", "b_") + s""",
      |awt AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n
      |  FROM a_s$BpeMerges GROUP BY 1),
      |bwt AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n
      |  FROM b_s$BpeMerges GROUP BY 1),
      |docw AS (SELECT doc_id, word FROM
      |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE len(word) > 0),
      |per AS (SELECT doc.source, count(*)::BIGINT AS ws_tokens,
      |          sum(a.n)::BIGINT AS tokens_frozen,
      |          sum(b.n)::BIGINT AS tokens_retrained
      |        FROM docw dw
      |        JOIN documents doc USING (doc_id)
      |        JOIN awt a ON a.word = dw.word
      |        JOIN bwt b ON b.word = dw.word
      |        GROUP BY 1)
      |SELECT source, ws_tokens, tokens_frozen, tokens_retrained,
      |       (tokens_frozen * 10000 // ws_tokens)::BIGINT AS fertility_frozen_bp,
      |       (tokens_retrained * 10000 // ws_tokens)::BIGINT AS fertility_retrained_bp,
      |       ((tokens_retrained * 10000 // ws_tokens)
      |        - (tokens_frozen * 10000 // ws_tokens))::BIGINT AS drift_bp
      |FROM per ORDER BY source""".stripMargin),
    "q118_bpe_budget_mix" -> (bpeDocCountsSql(BpeMerges, BpeMaxWords) + s""",
      |t AS (SELECT doc.doc_id, doc.source,
      |        coalesce(dcnt.bpe_tokens, 0)::BIGINT AS bpe_tokens,
      |        ('0x' || substr(md5(doc.doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
      |      FROM documents doc LEFT JOIN dcnt USING (doc_id)),
      |cum AS (SELECT *, SUM(bpe_tokens) OVER (PARTITION BY source
      |          ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      |SELECT doc_id, source, bpe_tokens FROM cum
      |WHERE cum <= CASE source WHEN 'src0' THEN ${BpeMixBudgets("src0")}
      |                         WHEN 'src1' THEN ${BpeMixBudgets("src1")}
      |                         ELSE $BpeMixDefaultBudget END
      |ORDER BY doc_id""".stripMargin),
    "q95_maxsim_topk" ->
      """WITH v AS (SELECT vec_id // 8 AS doc_id, vec_id,
        |                  embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT * FROM v WHERE doc_id % 20 = 0),
        |c AS (SELECT q.doc_id AS query_id, q.vec_id AS qvid,
        |        v.doc_id AS doc_id,
        |        round(list_dot_product(q.v, v.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) *
        |           sqrt(list_dot_product(v.v, v.v))), 6) AS cos
        |      FROM q, v WHERE v.doc_id != q.doc_id),
        |m AS (SELECT query_id, qvid, doc_id, max(cos) AS mx
        |      FROM c GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, doc_id,
        |         sum(CAST(mx AS DECIMAL(18,6))) AS s
        |       FROM m GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY s DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, rank, doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // q96: the whole approximate composition replayed — int8 quantize
    // (q72's exact integer formula), per-query-vector shortlist,
    // candidate-doc collapse, exact MaxSim on survivors (q95's
    // arithmetic)
    "q96_maxsim_shortlist" ->
      """WITH v AS (SELECT vec_id // 8 AS doc_id, vec_id,
        |                  embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |sc0 AS (SELECT doc_id, vec_id, v,
        |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |        FROM v),
        |qz AS (SELECT doc_id, vec_id, v,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM sc0),
        |q AS (SELECT * FROM qz WHERE doc_id % 20 = 0),
        |cand0 AS (SELECT q.doc_id AS query_id, q.vec_id AS qvid,
        |            c.doc_id AS doc_id, c.vec_id AS vid,
        |            round(list_dot_product(q.qv, c.qv) /
        |              (sqrt(list_dot_product(q.qv, q.qv)) *
        |               sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos
        |          FROM q, qz c WHERE c.doc_id != q.doc_id),
        |short AS (SELECT DISTINCT query_id, doc_id FROM (
        |            SELECT query_id, qvid, doc_id, vid,
        |                   row_number() OVER (PARTITION BY query_id, qvid
        |                     ORDER BY qcos DESC, vid) AS r
        |            FROM cand0) WHERE r <= 8),
        |c AS (SELECT s.query_id, q.vec_id AS qvid, s.doc_id,
        |        round(list_dot_product(q.v, d.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) *
        |           sqrt(list_dot_product(d.v, d.v))), 6) AS cos
        |      FROM short s
        |      JOIN v d ON d.doc_id = s.doc_id
        |      JOIN q ON q.doc_id = s.query_id),
        |m AS (SELECT query_id, qvid, doc_id, max(cos) AS mx
        |      FROM c GROUP BY 1, 2, 3),
        |scr AS (SELECT query_id, doc_id,
        |          sum(CAST(mx AS DECIMAL(18,6))) AS s
        |        FROM m GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY s DESC, doc_id) AS rank
        |      FROM scr)
        |SELECT query_id, rank, doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q97_kmeans" -> kmeansOracleSql(KmeansK, KmeansIters),
    // q109: train the k-means replay on 3/4 of the corpus (the CTE
    // block's trainPred), then assign the held-out quarter against
    // the frozen final centroids
    // q113: KL(source ‖ corpus) replayed — same ratios in the same
    // operation order, per-term contributions rounded at 9 dp and
    // decimal-summed
    "q113_source_drift" ->
      """WITH tok AS (SELECT source AS src, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |tk AS (SELECT src, t FROM tok WHERE len(t) > 0),
        |st AS (SELECT src, t, count(*) AS cst FROM tk GROUP BY 1, 2),
        |stot AS (SELECT src, sum(cst) AS tots FROM st GROUP BY 1),
        |ct AS (SELECT t, sum(cst) AS c FROM st GROUP BY 1),
        |tot AS (SELECT sum(c) AS tot FROM ct)
        |SELECT st.src AS source, count(*)::BIGINT AS n_terms,
        |       CAST(CAST(sum(CAST(round(
        |         (st.cst::DOUBLE / stot.tots::DOUBLE) *
        |           ln((st.cst::DOUBLE / stot.tots::DOUBLE) /
        |              (ct.c::DOUBLE / tot.tot::DOUBLE)), 9)
        |         AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS kl
        |FROM st
        |JOIN ct ON ct.t = st.t
        |JOIN stot ON stot.src = st.src, tot
        |GROUP BY 1 ORDER BY source""".stripMargin,
    // q114: lead() over the same (µs, event_id) order, integer
    // transition counts and basis-point shares
    "q114_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |                  event_id FROM events),
        |tr AS (SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id) AS to_type
        |       FROM e),
        |cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |        FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS t FROM cnt GROUP BY 1)
        |SELECT cnt.from_type, cnt.to_type, cnt.n,
        |       ((cnt.n * 10000) // tot.t)::BIGINT AS share_bp
        |FROM cnt JOIN tot ON tot.from_type = cnt.from_type
        |ORDER BY cnt.from_type, cnt.to_type""".stripMargin,
    // q111: the hopping-window lattice as integer µs arithmetic —
    // each event exploded into its 4 overlapping 1h/15m windows
    "q111_hopping_windows" ->
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
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    // q112: exact lower-median + MAD per type via order-statistic
    // windows; medians are actual data values so the doubles match
    "q112_robust_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |           WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*)::BIGINT AS n FROM e GROUP BY 1),
        |md AS (SELECT r.event_type, r.value AS median FROM (
        |         SELECT event_type, value, event_id,
        |           row_number() OVER (PARTITION BY event_type
        |             ORDER BY value, event_id) AS rn
        |         FROM e) r
        |       JOIN n ON n.event_type = r.event_type
        |       WHERE r.rn = (n.n + 1) // 2),
        |dv AS (SELECT e.event_type, e.event_id,
        |              abs(e.value - md.median) AS dev, md.median
        |       FROM e JOIN md ON md.event_type = e.event_type),
        |mad AS (SELECT r.event_type, r.dev AS mad FROM (
        |          SELECT event_type, dev, event_id,
        |            row_number() OVER (PARTITION BY event_type
        |              ORDER BY dev, event_id) AS rn
        |          FROM dv) r
        |        JOIN n ON n.event_type = r.event_type
        |        WHERE r.rn = (n.n + 1) // 2)
        |SELECT dv.event_type, count(*)::BIGINT AS n,
        |       min(dv.median) AS median, min(mad.mad) AS mad,
        |       sum(CASE WHEN dv.dev > mad.mad * 3 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_outliers
        |FROM dv JOIN mad ON mad.event_type = dv.event_type
        |GROUP BY 1 ORDER BY dv.event_type""".stripMargin,
    "q109_cluster_assign" ->
      (kmeansOracleCtes(KmeansK, KmeansIters, "vec_id % 4 != 3") +
        s""", vb AS (SELECT vec_id, val, pos FROM vzall WHERE vec_id % 4 = 3),
          |db AS (SELECT v.vec_id, c.cid,
          |         CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT)
          |           AS dist
          |       FROM vb v JOIN c$KmeansIters c USING (pos) GROUP BY 1, 2),
          |ab AS (SELECT vec_id, cid, dist FROM (
          |         SELECT vec_id, cid, dist,
          |           row_number() OVER (PARTITION BY vec_id
          |                              ORDER BY dist, cid) AS rn
          |         FROM db) WHERE rn = 1)
          |SELECT cid::INTEGER AS cluster, count(*)::BIGINT AS n_batch,
          |       sum(dist)::BIGINT AS sum_dist
          |FROM ab GROUP BY 1 ORDER BY cluster""".stripMargin),
    // q110: the full-corpus k-means replay capped per cluster by the
    // q82 smallest-(hash, id) rule
    "q110_cluster_balance" ->
      (kmeansOracleCtes(KmeansK, KmeansIters) +
        s""", rk AS (SELECT vec_id, cluster,
          |         row_number() OVER (PARTITION BY cluster
          |           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
          |                    vec_id) AS rn
          |       FROM fa),
          |tot AS (SELECT cluster, count(*)::BIGINT AS n_total
          |        FROM fa GROUP BY 1),
          |kp AS (SELECT cluster, count(*)::BIGINT AS n_kept
          |       FROM rk WHERE rn <= 20 GROUP BY 1)
          |SELECT tot.cluster, tot.n_total, kp.n_kept
          |FROM tot JOIN kp USING (cluster) ORDER BY tot.cluster""".stripMargin),
    // q124: corpus-only k-means (trainPred), q109-style frozen-centroid
    // routing of the benchmark slice, per-side caps, integer pair
    // decision — the full cross-corpus composition replayed exactly
    "q124_sem_contamination" ->
      (kmeansOracleCtes(KmeansK, KmeansIters, "vec_id % 10 != 7") +
        s""", vb AS (SELECT vec_id, val, pos FROM vzall WHERE vec_id % 10 = 7),
          |db AS (SELECT v.vec_id, c.cid,
          |         CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT)
          |           AS dist
          |       FROM vb v JOIN c$KmeansIters c USING (pos) GROUP BY 1, 2),
          |ab AS (SELECT vec_id, cid::INTEGER AS cluster FROM (
          |         SELECT vec_id, cid, dist,
          |           row_number() OVER (PARTITION BY vec_id
          |                              ORDER BY dist, cid) AS rn
          |         FROM db) WHERE rn = 1),
          |capc AS (SELECT vec_id, cluster FROM (
          |         SELECT vec_id, cluster,
          |           row_number() OVER (PARTITION BY cluster
          |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
          |                      vec_id) AS rn
          |         FROM fa) WHERE rn <= $SemCap),
          |capb AS (SELECT vec_id, cluster FROM (
          |         SELECT vec_id, cluster,
          |           row_number() OVER (PARTITION BY cluster
          |             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
          |                      vec_id) AS rn
          |         FROM ab) WHERE rn <= $SemCap),
          |nm AS (SELECT v.vec_id, CAST(sum(v.val * v.val) AS BIGINT) AS n2
          |       FROM vzall v GROUP BY 1),
          |pr AS (SELECT a.cluster, a.vec_id AS corpus_id, b.vec_id AS bench_id
          |       FROM capc a JOIN capb b ON a.cluster = b.cluster),
          |dt AS (SELECT p.cluster, p.corpus_id, p.bench_id,
          |         CAST(sum(va.val * vb2.val) AS BIGINT) AS dot
          |       FROM pr p
          |       JOIN vzall va ON va.vec_id = p.corpus_id
          |       JOIN vzall vb2 ON vb2.vec_id = p.bench_id AND vb2.pos = va.pos
          |       GROUP BY 1, 2, 3),
          |sd AS (SELECT d.cluster, d.corpus_id, d.bench_id, d.dot,
          |         na.n2 AS na, nb.n2 AS nb
          |       FROM dt d JOIN nm na ON na.vec_id = d.corpus_id
          |                 JOIN nm nb ON nb.vec_id = d.bench_id
          |       WHERE d.dot > 0
          |         AND d.dot * d.dot * $SemThrDen >= $SemThrNum * na.n2 * nb.n2)
          |SELECT cluster, corpus_id, bench_id,
          |  round(dot / sqrt((na * nb)::DOUBLE), 6) AS cosine
          |FROM sd ORDER BY cluster, corpus_id, bench_id""".stripMargin),
    // q121: the k-means replay + q110's cap replay + integer pair
    // decision — dot, norms and centroid distances all exact BIGINTs,
    // so the kept set and the drop rule replay with no tolerance
    "q121_semdedup_pairs" ->
      (kmeansOracleCtes(KmeansK, KmeansIters) + semPairsTailSql),
    // q101: the k-means replay (same CTE block as q97) plus the
    // label-purity audit on top — all-integer, exact
    "q101_cluster_profile" ->
      (kmeansOracleCtes(KmeansK, KmeansIters) +
        """, al AS (SELECT fa.vec_id, fa.cluster, fa.dist, e2.label
          |        FROM fa JOIN embeddings e2 ON e2.vec_id = fa.vec_id),
          |bl AS (SELECT cluster, label, count(*) AS label_n
          |       FROM al GROUP BY 1, 2),
          |tl AS (SELECT cluster, label AS top_label,
          |              label_n AS top_label_n FROM (
          |         SELECT cluster, label, label_n,
          |           row_number() OVER (PARTITION BY cluster
          |                              ORDER BY label_n DESC, label) AS rn
          |         FROM bl) WHERE rn = 1),
          |ag AS (SELECT cluster, count(*)::BIGINT AS n,
          |              sum(dist)::BIGINT AS sum_dist
          |       FROM al GROUP BY 1)
          |SELECT ag.cluster, ag.n, ag.sum_dist, tl.top_label,
          |       tl.top_label_n,
          |       ((tl.top_label_n * 100) // ag.n)::BIGINT AS purity_pct
          |FROM ag JOIN tl USING (cluster) ORDER BY cluster""".stripMargin),
    "q98_pagerank" -> pageRankOracleSql(PageRankIters),
    "q119_pagerank_dangling" -> pageRankOracleSql(PageRankIters,
      symmetrize = false, dangling = true),
    "q102_communities" -> lpaOracleSql(LpaIters),
    // q103: the temperature-mix derivation replayed — integer token
    // sums, 6dp-rounded IEEE sqrt, decimal normalizer (VARCHAR-cast to
    // double to match Spark's decimal→double), the same fixed
    // operation order for the rate, floored integer thresholds, and
    // the portable-hash membership rule
    // q104: the dataset card replayed — counts, distincts, argmax,
    // dup rate and the exact lower-median order statistic
    "q104_corpus_report" ->
      """WITH b AS (SELECT doc_id, source, lang, n_chars, md5(text) AS h,
        |             len(string_split(text, ' '))::BIGINT AS wt
        |           FROM documents),
        |ag AS (SELECT source, count(*)::BIGINT AS n_docs,
        |              sum(wt)::BIGINT AS tokens,
        |              count(DISTINCT lang)::BIGINT AS n_langs,
        |              (count(*) - count(DISTINCT h))::BIGINT AS n_exact_dupes,
        |              min(n_chars)::BIGINT AS min_chars,
        |              max(n_chars)::BIGINT AS max_chars
        |       FROM b GROUP BY 1),
        |tl AS (SELECT source, lang AS top_lang, lang_n AS top_lang_n FROM (
        |         SELECT source, lang, count(*)::BIGINT AS lang_n,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY count(*) DESC, lang) AS rn
        |         FROM b GROUP BY source, lang) WHERE rn = 1),
        |md AS (SELECT r.source, r.n_chars AS p50_chars FROM (
        |         SELECT source, n_chars, doc_id,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY n_chars, doc_id) AS rn
        |         FROM b) r
        |       JOIN ag ON ag.source = r.source
        |       WHERE r.rn = (ag.n_docs + 1) // 2)
        |SELECT ag.source, ag.n_docs, ag.tokens, ag.n_langs,
        |       tl.top_lang, tl.top_lang_n, ag.n_exact_dupes,
        |       ag.min_chars, md.p50_chars, ag.max_chars
        |FROM ag JOIN tl ON tl.source = ag.source
        |JOIN md ON md.source = ag.source
        |ORDER BY ag.source""".stripMargin,
    "q103_temperature_mix" ->
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' '))::BIGINT AS wt
        |           FROM documents),
        |st AS (SELECT source, count(*)::BIGINT AS n_docs,
        |              sum(wt)::BIGINT AS tokens FROM t GROUP BY 1),
        |z AS (SELECT sum(CAST(round(sqrt(tokens::DOUBLE), 6)
        |               AS DECIMAL(18,6))) AS z,
        |             sum(n_docs) AS n FROM st),
        |rt AS (SELECT st.source, st.n_docs, st.tokens,
        |         CAST(floor(least(1.0,
        |           0.25 * n::DOUBLE * round(sqrt(st.tokens::DOUBLE), 6)
        |             / CAST(CAST(z.z AS VARCHAR) AS DOUBLE)
        |             / st.n_docs::DOUBLE)
        |           * 1152921504606846976.0) AS BIGINT) AS sample_thresh
        |       FROM st, z),
        |kp AS (SELECT t.source, t.wt, rt.sample_thresh
        |       FROM t JOIN rt ON rt.source IS NOT DISTINCT FROM t.source
        |       WHERE ('0x' || substr(md5(t.doc_id::VARCHAR || 'graft-temp'),
        |                             1, 15))::BIGINT < rt.sample_thresh),
        |ag AS (SELECT source, min(sample_thresh) AS sample_thresh,
        |              count(*)::BIGINT AS n_sampled,
        |              sum(wt)::BIGINT AS tokens_sampled
        |       FROM kp GROUP BY 1)
        |SELECT rt.source, rt.n_docs, rt.tokens, ag.sample_thresh,
        |       coalesce(ag.n_sampled, 0)::BIGINT AS n_sampled,
        |       coalesce(ag.tokens_sampled, 0)::BIGINT AS tokens_sampled
        |FROM rt LEFT JOIN ag ON ag.source IS NOT DISTINCT FROM rt.source
        |ORDER BY rt.source""".stripMargin,
    // q100: the bigram LM replayed — same token stream, same add-one
    // conditional, same rounded-ln / decimal-sum discipline as q85
    // q130: four namespaced subspace k-means chains + ADC ranking
    "q130_pq_adc" ->
      pqOracleSql(PqM, PqCodebookK, PqIters, dim = 64, k = PqK,
        queryPred = "v.vec_id % 50 = 0"),
    // q131: the chains + shortlist cut + exact full-space rerank
    "q131_pq_rerank" ->
      pqRerankOracleSql(PqM, PqCodebookK, PqIters, dim = 64, k = PqK,
        shortlist = PqShortlist, queryPred = "v.vec_id % 50 = 0"),
    // q132: chains trained on the build slice, codes from frozen
    // routing of every row, ADC ranking — the index lifecycle replayed
    "q132_pq_index" ->
      (pqChainsCtes(PqM, PqCodebookK, PqIters, dim = 64,
        queryPred = "v.vec_id % 50 = 0",
        trainPred = "vec_id % 4 <= 1", codesFromRouting = true) +
        s""", r AS (SELECT query_id, neighbor_id, adc_dist,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY adc_dist, neighbor_id) AS rank
           |      FROM adc)
           |SELECT query_id, rank, neighbor_id, adc_dist
           |FROM r WHERE rank <= $PqK ORDER BY query_id, rank""".stripMargin),
    // q133: both arms replayed verbatim (q85's BM25, q12's exact
    // cosine restricted to the shared query set), then integer RRF
    // q134: arm replays with ranks, hit-joined to the exact replay,
    // then integer MRR/DCG sums with the inlined discount constants
    "q134_retrieval_metrics" -> retrievalMetricsSql,
    // q135: coarse chain + residuals + per-subspace codebook chains +
    // probed-list ADC — the whole IVF-PQ composition replayed
    "q135_ivfpq" ->
      ivfPqOracleSql(IvfPqCoarse, IvfPqCoarseIters, PqM, IvfPqCodebookK,
        IvfPqIters, dim = 64, nProbe = IvfPqProbe, k = PqK,
        queryPred = "v.vec_id % 50 = 0"),
    // q138: the same composition with every chain trained on the
    // vec_id % 4 <= 1 slice and ALL rows frozen-routed/encoded against
    // the final centroids (the q132 codesFromRouting CTE shapes)
    "q138_ivfpq_split" ->
      ivfPqOracleSql(IvfPqCoarse, IvfPqCoarseIters, PqM, IvfPqCodebookK,
        IvfPqIters, dim = 64, nProbe = IvfPqProbe, k = PqK,
        queryPred = "v.vec_id % 50 = 0",
        trainPred = "vec_id % 4 <= 1"),
    // q139: the whole curation loop — dedup keepers → one k-means
    // chain → SemDeDup tail → frozen-routed decontamination tail →
    // NB replay → unrolled BPE chain → budget window → split cuts
    "q139_curation_e2e" -> curationE2eOracleSql,
    "q133_hybrid_rrf" ->
      s"""WITH lex0 AS (SELECT query_id, doc_id, rank FROM (
         |$bm25Sql)),
         |vec0 AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |${bruteAnnSqlOver("vec_id % 100 = 0")})),
         |u AS (SELECT 'lex' AS arm, query_id, doc_id, rank FROM lex0
         |      UNION ALL SELECT 'vec', query_id, doc_id, rank FROM vec0),
         |f AS (SELECT query_id, doc_id,
         |        sum(1000000000 // (60 + rank))::BIGINT AS rrf_score,
         |        max(CASE WHEN arm = 'lex' THEN rank END)::BIGINT AS lex_rank,
         |        max(CASE WHEN arm = 'vec' THEN rank END)::BIGINT AS vec_rank
         |      FROM u GROUP BY 1, 2),
         |fr AS (SELECT query_id, doc_id, rrf_score, lex_rank, vec_rank,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf_score DESC, doc_id) AS rank
         |       FROM f)
         |SELECT query_id, rank, doc_id, rrf_score, lex_rank, vec_rank
         |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // q141: the batch interval self-join the streamed Append result
    // must equal bit-for-bit — all comparisons at µs (Spark runs on
    // the loader's ns DIV 1000, DuckDB on native epoch_us; identical
    // by the events-ts convention), 4 h = 14 400 000 000 µs
    "q141_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |       v.user_id,
        |       epoch_us(v.ts) AS view_ts_us,
        |       epoch_us(p.ts) AS purchase_ts_us,
        |       p.value AS purchase_value
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) > epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 14400000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    // q142: the DSIR chain replayed — hashed-bucket unigram LMs
    // (portable md5 mod 256), add-one smoothing, round-6 ln weights
    // differenced as DECIMAL, per-doc decimal sums, 6-digit-folded
    // Gumbel keys, (key, id)-ordered top-50 over non-target docs
    "q142_dsir_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |             source IN ('src0', 'src1') AS tgt,
        |             list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, tgt,
        |          ('0x' || substr(md5(tok || 'graft-mix'), 1, 15))::BIGINT % 256 AS b
        |        FROM (SELECT doc_id, tgt, unnest(w) AS tok FROM d)),
        |cr AS (SELECT b, count(*) AS cr FROM tok GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM tok WHERE tgt GROUP BY 1),
        |tot AS (SELECT count(*) AS nr,
        |          count(CASE WHEN tgt THEN 1 END) AS nt FROM tok),
        |lw AS (SELECT cr.b,
        |         CAST(round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.nt + 256)), 6)
        |              AS DECIMAL(18,6))
        |       - CAST(round(ln((cr.cr + 1)::DOUBLE / (tot.nr + 256)), 6)
        |              AS DECIMAL(18,6)) AS lw
        |       FROM cr LEFT JOIN ct ON cr.b = ct.b, tot),
        |sc AS (SELECT t.doc_id, count(*)::BIGINT AS ntok,
        |         CAST(sum(lw.lw) AS DECIMAL(28,6)) AS score
        |       FROM tok t JOIN lw ON t.b = lw.b GROUP BY 1),
        |cand AS (SELECT d.doc_id, d.source,
        |           coalesce(sc.ntok, 0) AS n_tokens,
        |           coalesce(sc.score, CAST(0 AS DECIMAL(28,6))) AS score,
        |           CAST(-round(ln(-round(ln(
        |             ((('0x' || substr(md5(d.doc_id::VARCHAR || 'graft-mix|g'), 1, 15))::BIGINT
        |               % 1000000)::DOUBLE + 0.5) / 1000000.0), 6)), 6)
        |             AS DECIMAL(18,6)) AS gumbel
        |         FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |         WHERE NOT d.tgt),
        |keyed AS (SELECT *, CAST(score + gumbel AS DECIMAL(29,6)) AS skey
        |          FROM cand),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id)
        |             AS rank FROM keyed)
        |SELECT rank, doc_id, source, n_tokens,
        |       CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score,
        |       CAST(CAST(gumbel AS VARCHAR) AS DOUBLE) AS gumbel,
        |       CAST(CAST(skey AS VARCHAR) AS DOUBLE) AS sample_key
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // q143: q142 with both LMs estimated on the doc_id % 4 <= 2 slice
    // and every pool doc frozen-scored through the full 256-bucket
    // spine (zero-count smoothing for buckets the slice never hit)
    "q143_dsir_split" ->
      """WITH d AS (SELECT doc_id, source,
        |             source IN ('src0', 'src1') AS tgt,
        |             doc_id % 4 <= 2 AS train,
        |             list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, tgt, train,
        |          ('0x' || substr(md5(tok || 'graft-mix'), 1, 15))::BIGINT % 256 AS b
        |        FROM (SELECT doc_id, tgt, train, unnest(w) AS tok FROM d)),
        |cr AS (SELECT b, count(*) AS cr FROM tok WHERE train GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM tok WHERE train AND tgt GROUP BY 1),
        |tot AS (SELECT count(*) AS nr,
        |          count(CASE WHEN tgt THEN 1 END) AS nt FROM tok WHERE train),
        |spine AS (SELECT unnest(generate_series(0, 255))::BIGINT AS b),
        |lw AS (SELECT spine.b,
        |         CAST(round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.nt + 256)), 6)
        |              AS DECIMAL(18,6))
        |       - CAST(round(ln((coalesce(cr.cr, 0) + 1)::DOUBLE / (tot.nr + 256)), 6)
        |              AS DECIMAL(18,6)) AS lw
        |       FROM spine LEFT JOIN cr ON spine.b = cr.b
        |                  LEFT JOIN ct ON spine.b = ct.b, tot),
        |sc AS (SELECT t.doc_id, count(*)::BIGINT AS ntok,
        |         CAST(sum(lw.lw) AS DECIMAL(28,6)) AS score
        |       FROM tok t JOIN lw ON t.b = lw.b GROUP BY 1),
        |cand AS (SELECT d.doc_id, d.source,
        |           coalesce(sc.ntok, 0) AS n_tokens,
        |           coalesce(sc.score, CAST(0 AS DECIMAL(28,6))) AS score,
        |           CAST(-round(ln(-round(ln(
        |             ((('0x' || substr(md5(d.doc_id::VARCHAR || 'graft-mix|g'), 1, 15))::BIGINT
        |               % 1000000)::DOUBLE + 0.5) / 1000000.0), 6)), 6)
        |             AS DECIMAL(18,6)) AS gumbel
        |         FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |         WHERE NOT d.tgt),
        |keyed AS (SELECT *, CAST(score + gumbel AS DECIMAL(29,6)) AS skey
        |          FROM cand),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id)
        |             AS rank FROM keyed)
        |SELECT rank, doc_id, source, n_tokens,
        |       CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score,
        |       CAST(CAST(gumbel AS VARCHAR) AS DOUBLE) AS gumbel,
        |       CAST(CAST(skey AS VARCHAR) AS DOUBLE) AS sample_key
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // q144: q143's sliced LMs (train = doc_id % 4 <= 2) serving the
    // UNSEEN %4 = 3 batch from the stored weight table — per-doc
    // scores are identical to q143's, so the replay just restricts
    // the candidates to the serving batch and takes top-20
    "q144_dsir_store" ->
      """WITH d AS (SELECT doc_id, source,
        |             source IN ('src0', 'src1') AS tgt,
        |             doc_id % 4 <= 2 AS train,
        |             list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, tgt, train,
        |          ('0x' || substr(md5(tok || 'graft-mix'), 1, 15))::BIGINT % 256 AS b
        |        FROM (SELECT doc_id, tgt, train, unnest(w) AS tok FROM d)),
        |cr AS (SELECT b, count(*) AS cr FROM tok WHERE train GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM tok WHERE train AND tgt GROUP BY 1),
        |tot AS (SELECT count(*) AS nr,
        |          count(CASE WHEN tgt THEN 1 END) AS nt FROM tok WHERE train),
        |spine AS (SELECT unnest(generate_series(0, 255))::BIGINT AS b),
        |lw AS (SELECT spine.b,
        |         CAST(round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.nt + 256)), 6)
        |              AS DECIMAL(18,6))
        |       - CAST(round(ln((coalesce(cr.cr, 0) + 1)::DOUBLE / (tot.nr + 256)), 6)
        |              AS DECIMAL(18,6)) AS lw
        |       FROM spine LEFT JOIN cr ON spine.b = cr.b
        |                  LEFT JOIN ct ON spine.b = ct.b, tot),
        |sc AS (SELECT t.doc_id, count(*)::BIGINT AS ntok,
        |         CAST(sum(lw.lw) AS DECIMAL(28,6)) AS score
        |       FROM tok t JOIN lw ON t.b = lw.b GROUP BY 1),
        |cand AS (SELECT d.doc_id, d.source,
        |           coalesce(sc.ntok, 0) AS n_tokens,
        |           coalesce(sc.score, CAST(0 AS DECIMAL(28,6))) AS score,
        |           CAST(-round(ln(-round(ln(
        |             ((('0x' || substr(md5(d.doc_id::VARCHAR || 'graft-mix|g'), 1, 15))::BIGINT
        |               % 1000000)::DOUBLE + 0.5) / 1000000.0), 6)), 6)
        |             AS DECIMAL(18,6)) AS gumbel
        |         FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |         WHERE NOT d.tgt AND d.doc_id % 4 = 3),
        |keyed AS (SELECT *, CAST(score + gumbel AS DECIMAL(29,6)) AS skey
        |          FROM cand),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id)
        |             AS rank FROM keyed)
        |SELECT rank, doc_id, source, n_tokens,
        |       CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score,
        |       CAST(CAST(gumbel AS VARCHAR) AS DOUBLE) AS gumbel,
        |       CAST(CAST(skey AS VARCHAR) AS DOUBLE) AS sample_key
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // q145: key counts, portable-hash bucket assignment, parts-row
    // bucket rollup, top-20 keys, floor-div ppm shares — all BIGINT
    "q145_skew_audit" ->
      """WITH kc AS (SELECT user_id::VARCHAR AS key, count(*) AS key_rows
        |            FROM events GROUP BY 1),
        |kb AS (SELECT *, ('0x' || substr(md5(key || 'graft'), 1, 15))::BIGINT
        |                 % 32 AS bucket FROM kc),
        |b AS (SELECT bucket, sum(key_rows)::BIGINT AS bucket_rows,
        |        count(*) AS bucket_keys FROM kb GROUP BY 1),
        |tot AS (SELECT sum(key_rows)::BIGINT AS total FROM kc),
        |top AS (SELECT * FROM kb ORDER BY key_rows DESC, key LIMIT 20)
        |SELECT row_number() OVER (ORDER BY key_rows DESC, key) AS rank,
        |  key, key_rows,
        |  (key_rows * 1000000 // total)::BIGINT AS key_share_ppm,
        |  bucket, bucket_rows, bucket_keys,
        |  (bucket_rows * 1000000 // total)::BIGINT AS bucket_share_ppm,
        |  (key_rows * 1000000 // bucket_rows)::BIGINT AS hot_fraction_ppm
        |FROM top JOIN b USING (bucket), tot ORDER BY rank""".stripMargin,
    // q129: q88's deterministic blob-feature chain as the k-means
    // source, then the shared SemDeDup tail — the whole multimodal ×
    // semantic-dedup composition replayed
    "q129_media_semdedup" ->
      (kmeansOracleCtes(MediaSemK, KmeansIters, srcSql =
        """SELECT ('0x' || substr(md5(regexp_extract(filename, '[^/]+$')), 1, 15))::BIGINT AS vec_id,
          |         list_transform(range(0, 8), i ->
          |           ((size::BIGINT * (i + 1) +
          |             (64 + (size::BIGINT % 64)) * (3 * i + 1) +
          |             (64 + ((size::BIGINT // 64) % 64)) * (7 * i + 2))
          |            % 997 - 498)::DOUBLE) AS v
          |  FROM read_blob('{SF_DIR}/*.parquet')""".stripMargin) +
        semPairsTailSql),
    // q128: clustering replay + the portable hash split on the cluster
    "q128_leakage_safe_split" -> {
      val cuts = Sampling.splitCuts(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      kmeansOracleCtes(KmeansK, KmeansIters) +
        s"""SELECT cluster,
           |       CASE WHEN h < ${cuts(0)} THEN 'train'
           |            WHEN h < ${cuts(1)} THEN 'val'
           |            ELSE 'test' END AS split,
           |       count(*)::BIGINT AS n_docs
           |FROM (SELECT cluster,
           |        ('0x' || substr(md5(cluster::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
           |      FROM fa)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // q127: train on the build slice only, route members (%4 != 3) and
    // the probe batch (%4 = 3) through the frozen centroids, cap both
    // sides, integer pair decision — the store lifecycle replayed
    "q127_semstore_probe" -> semStoreProbeOracleSql,
    // q140: the SAME replay — the stream-layout store (seed b=0,
    // batch b=1) folded to one snapshot serves the probe identically
    // to q127's batch-layout build+append; the fold is pure layout
    "q140_semstream_fold" -> semStoreProbeOracleSql,
    // q126: both k-means chains + two-level routing + agreement audit
    "q126_twolevel_assign" ->
      twoLevelOracleSql(KmeansK, KmeansIters,
        TwoLevelCoarseK, TwoLevelCoarseIters),
    // q125: equi-depth bins — edges = exact order statistics at
    // ⌈j·n/8⌉ (distinct-value cumulative replay), bin(v) = #edges < v
    // (edge rows fall left in both engines), empty bins absent
    "q125_equidepth_hist" ->
      """WITH d AS (SELECT event_type, value::DOUBLE AS v FROM events
        |           WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
        |gv AS (SELECT event_type, v, count(*) AS nv FROM d GROUP BY 1, 2),
        |c AS (SELECT event_type, v,
        |        sum(nv) OVER (PARTITION BY event_type ORDER BY v) AS cw
        |      FROM gv),
        |ks AS (SELECT event_type, j, (j * n + 7) // 8 AS k
        |       FROM n, (SELECT unnest(generate_series(1, 7)) AS j)),
        |edges AS (SELECT ks.event_type, ks.j, min(c.v) AS e
        |          FROM ks JOIN c ON c.event_type = ks.event_type
        |                        AND c.cw >= ks.k
        |          GROUP BY 1, 2),
        |bv AS (SELECT gv.event_type, gv.v, gv.nv,
        |         coalesce(sum(CASE WHEN gv.v > e.e THEN 1 ELSE 0 END), 0)
        |           AS bin
        |       FROM gv LEFT JOIN edges e ON e.event_type = gv.event_type
        |       GROUP BY 1, 2, 3),
        |bins AS (SELECT event_type, bin::BIGINT AS bin,
        |           sum(nv)::BIGINT AS n
        |         FROM bv GROUP BY 1, 2)
        |SELECT b.event_type, b.bin, b.n, lo.e AS lo, hi.e AS hi
        |FROM bins b
        |LEFT JOIN edges lo ON lo.event_type = b.event_type
        |                  AND lo.j = b.bin
        |LEFT JOIN edges hi ON hi.event_type = b.event_type
        |                  AND hi.j = b.bin + 1
        |ORDER BY 1, 2""".stripMargin,
    // q123: weighted quantile = smallest v whose cumulative integer
    // token weight reaches ⌈p·W⌉ — replayed as a distinct-value
    // cumulative sum (tie-safe: equal v collapse before the window)
    "q123_weighted_quantiles" ->
      """WITH d AS (SELECT source, n_chars::DOUBLE AS v,
        |             len(list_filter(string_split(text, ' '),
        |               t -> len(t) > 0))::BIGINT AS w
        |           FROM documents WHERE n_chars IS NOT NULL),
        |d2 AS (SELECT * FROM d WHERE w > 0),
        |tot AS (SELECT source, sum(w) AS tw FROM d2 GROUP BY 1),
        |g AS (SELECT source, v, sum(w) AS wv FROM d2 GROUP BY 1, 2),
        |c AS (SELECT source, v,
        |        sum(wv) OVER (PARTITION BY source ORDER BY v) AS cw
        |      FROM g),
        |ks AS (SELECT source, 'wp25' AS stat, (tw + 3) // 4 AS k FROM tot
        |       UNION ALL SELECT source, 'wp50', (tw + 1) // 2 FROM tot
        |       UNION ALL SELECT source, 'wp75', (3 * tw + 3) // 4 FROM tot)
        |SELECT ks.source, ks.stat, min(c.v) AS value
        |FROM ks JOIN c ON c.source = ks.source AND c.cw >= ks.k
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q122: the NB classifier replayed — integer counts, rounded-ln
    // likelihoods/floors/priors, DECIMAL sums, exact-decimal argmax
    // with ties to the smaller label; confusion over the held-out split
    "q122_nb_classifier" ->
      (nbPredCtes +
      """
        |SELECT te.lang, p.pred, count(*)::BIGINT AS n_docs,
        |       min(p.score) AS min_score, max(p.score) AS max_score
        |FROM pred p JOIN te ON te.doc_id = p.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q146: the SAME training + scoring replay — the parquet model
    // store between them is read-invisible (every stored number is an
    // exact integer or DECIMAL(18,6)), the q140/q127 oracle-reuse
    // discipline applied to the classifier lifecycle
    "q146_nb_store" ->
      (nbPredCtes +
      """
        |SELECT doc_id, pred, score FROM pred ORDER BY doc_id""".stripMargin),
    // q147: artifact training on history + frozen batch serving, END
    // TO END — the store between them is read-invisible
    "q147_curation_serve" -> curationServeOracleSql,
    // q149: training + batch-1 serve + absorption + batch-2 serve
    // against history ∪ batch-1 survivors, ONE statement — the stream
    // store's accumulation replayed (its storage is read-invisible)
    "q149_curation_stream" -> curationStreamOracleSql,
    // q150: the 3-round chain with the fold NOWHERE in it — the fold
    // between batches 2 and 3 must be invisible to every later serve
    "q150_curation_fold" -> curationChainOracleSql(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 8 = 3", "doc_id % 8 = 7"),
      withBatchCol = true),
    // q151: two namespaced NB chains (frozen: trained on %4 != 3;
    // retrained: all docs), both scoring everything — integer
    // agreement/accuracy counts and floor-div drift in basis points
    "q151_nb_drift" -> ("WITH " +
      nbPredCtesFor("doc_id % 4 != 3", "TRUE", "f_") + ", " +
      nbPredCtesFor("TRUE", "TRUE", "r_") + """
      |SELECT d.lang, count(*)::BIGINT AS n_docs,
      |       sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END)::BIGINT
      |         AS n_agree,
      |       sum(CASE WHEN f.pred = d.lang THEN 1 ELSE 0 END)::BIGINT
      |         AS n_frozen_correct,
      |       sum(CASE WHEN r.pred = d.lang THEN 1 ELSE 0 END)::BIGINT
      |         AS n_retrained_correct,
      |       ((count(*) - sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END))
      |         * 10000 // count(*))::BIGINT AS drift_bp
      |FROM documents d
      |JOIN f_pred f ON f.doc_id = d.doc_id
      |JOIN r_pred r ON r.doc_id = d.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q154: the two epochs replayed as two INDEPENDENT serve chains —
    // epoch 1's history is exactly the retrain corpus, so any pre-swap
    // state leaking across the swap (old centroids, hash log, NB/BPE/
    // DSIR tables) would hash-mismatch. Nested-WITH subqueries keep the
    // two chains' CTE namespaces apart.
    "q154_epoch_swap" -> {
      val chain0 = curationChainOracleSql(
        histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
        testPred = "doc_id % 4 = 2", batchPreds = Seq("doc_id % 4 = 2"),
        withBatchCol = false, withOrder = false)
      val chain1 = curationChainOracleSql(
        histDocPred = "doc_id % 4 <= 2", histVecPred = "vec_id % 4 <= 2",
        testPred = "doc_id % 4 = 3", batchPreds = Seq("doc_id % 4 = 3"),
        withBatchCol = false, withOrder = false)
      s"""SELECT 0::BIGINT AS epoch, 1::BIGINT AS b, c0.*
         |FROM ($chain0) c0
         |UNION ALL
         |SELECT 1::BIGINT AS epoch, 2::BIGINT AS b, c1.*
         |FROM ($chain1) c1
         |ORDER BY 1, 3""".stripMargin
    },
    // q156: the drift signal (two namespaced NB chains — frozen on the
    // epoch-0 history, candidate on the grown corpus, both scoring the
    // corpus; exact-integer agreement, floor-div basis points) AND the
    // two gate decisions replayed as CASE — 10001 bp is unreachable by
    // construction, 1 bp publishes iff any disagreement exists
    "q156_drift_gate" -> ("WITH " +
      nbPredCtesFor("doc_id % 4 <= 1", "doc_id % 4 <= 2", "f_") + ", " +
      nbPredCtesFor("doc_id % 4 <= 2", "doc_id % 4 <= 2", "r_") + """,
      |gd AS (SELECT ((count(*) - sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END))
      |               * 10000 // count(*))::BIGINT AS drift_bp
      |       FROM f_pred f JOIN r_pred r USING (doc_id))
      |SELECT 1::BIGINT AS gate_seq, 10001::BIGINT AS threshold_bp,
      |       gd.drift_bp,
      |       (CASE WHEN gd.drift_bp >= 10001 THEN 1 ELSE 0 END)::BIGINT AS published,
      |       (CASE WHEN gd.drift_bp >= 10001 THEN 1 ELSE 0 END)::BIGINT AS serving_epoch
      |FROM gd
      |UNION ALL
      |SELECT 2::BIGINT, 1::BIGINT, gd.drift_bp,
      |       (CASE WHEN gd.drift_bp >= 1 THEN 1 ELSE 0 END)::BIGINT,
      |       (CASE WHEN gd.drift_bp >= 1 THEN 1 ELSE 0 END)::BIGINT
      |FROM gd
      |ORDER BY 1""".stripMargin),
    // q158: three independent serve chains (the q154 pattern, one per
    // epoch) — the fold between epochs 2 and 3 must be invisible, so
    // the oracle replays the chain with no idea the archived epoch's
    // rows now come from the consolidated archive
    "q158_epoch_fold" -> {
      val chains = Seq(
        (0L, 1L, "doc_id % 4 <= 1", "vec_id % 4 <= 1", "doc_id % 4 = 2"),
        (1L, 2L, "doc_id % 4 <= 2", "vec_id % 4 <= 2", "doc_id % 8 = 3"),
        (2L, 3L, "doc_id % 8 != 7", "vec_id % 8 != 7", "doc_id % 8 = 7"))
        .map { case (ep, b, hd, hv, bp) =>
          val c = curationChainOracleSql(
            histDocPred = hd, histVecPred = hv, testPred = bp,
            batchPreds = Seq(bp), withBatchCol = false, withOrder = false)
          s"""SELECT $ep::BIGINT AS epoch, $b::BIGINT AS b, c$ep.*
             |FROM ($c) c$ep""".stripMargin
        }
      chains.mkString("", "\nUNION ALL\n", "\nORDER BY 1, 3")
    },
    // q159: the q147 chain with BOTH lanes selected — full chain on
    // the vectored lane, 3-stage lexical chain (null cluster) on the
    // vectorless one
    "q159_lexical_lane" -> curationLexicalOracleSql,
    // q160: the two-round stream chain, both lanes per round — lane-on
    // absorption (lexical survivors' hashes fence later exact copies)
    // replayed end to end
    "q160_lexical_stream" -> curationLexStreamOracleSql,
    // q161: audit tail over round 2 of the lane-on stream chain —
    // exact_dup_history replays lane-crossing dedup provenance
    "q161_stream_audit" -> curationStreamAuditOracleSql,
    // q162/q163: stride-1 8-gram fingerprints, shared CTE chain; the
    // oracle hashes with the same md5-60-bit kernel so even a
    // collision would fuse gram families identically in both engines
    "q162_dup_spans" ->
      s"""WITH $spanGramCtes,
         |fl AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM fl),
         |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
         |       FROM isl GROUP BY doc_id, grp)
         |SELECT sp.doc_id, span_start,
         |       span_end - span_start + 1 AS span_tokens,
         |       array_to_string(a[span_start + 1 : span_end + 1], ' ') AS span_text
         |FROM sp JOIN arr USING (doc_id)
         |ORDER BY 1, 2""".stripMargin,
    "q163_span_cut" ->
      s"""WITH $spanGramCtes,
         |red AS (SELECT doc_id, pos FROM (
         |          SELECT g.doc_id, g.pos,
         |                 row_number() OVER (PARTITION BY gh ORDER BY g.doc_id, g.pos) AS rn
         |          FROM g JOIN dup USING (gh)) WHERE rn > 1),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM red),
         |sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
         |       FROM isl GROUP BY doc_id, grp),
         |cut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos FROM sp),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         |        FROM documents),
         |keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |         ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |       count(*)::BIGINT AS n_kept
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q165: the incremental serve derivation replayed — history's
    // distinct gram set (any hit cuts: the curated copy always wins)
    // ∪ the within-batch non-first rank, then q163's islands →
    // positions → ordered rebuild over the batch alone
    "q165_span_serve" ->
      s"""WITH hsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3),
         |bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
         |${spanGramSet("h", "hsrc")},
         |${spanServeRound("b", "bsrc", "hgs")}
         |SELECT doc_id, clean_text, n_kept FROM bout
         |ORDER BY doc_id""".stripMargin,
    // q166: the two-round SpanStream chain — round 1 vs history, round
    // 2 vs history ∪ the grams of round 1's CLEAN output (the corpus
    // as stored, seams included) — absorption replayed end to end
    "q166_span_stream" ->
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
         |ORDER BY doc_id""".stripMargin,
    // q167: the same chain + a third round — the oracle has NO idea
    // the gram store folded between batches 2 and 3 (read-invisibility
    // through the driver gate, the q150 discipline on the gram log)
    "q167_span_fold" ->
      s"""WITH hsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
         |b1src AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
         |b2src AS (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 3),
         |b3src AS (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 7),
         |${spanGramSet("h", "hsrc")},
         |${spanServeRound("r1", "b1src", "hgs")},
         |${spanGramSet("c1", "r1out", "clean_text")},
         |h2g AS (SELECT gh FROM hgs UNION SELECT gh FROM c1gs),
         |${spanServeRound("r2", "b2src", "h2g")},
         |${spanGramSet("c2", "r2out", "clean_text")},
         |h3g AS (SELECT gh FROM h2g UNION SELECT gh FROM c2gs),
         |${spanServeRound("r3", "b3src", "h3g")}
         |SELECT 1::BIGINT AS b, doc_id, clean_text, n_kept FROM r1out
         |UNION ALL
         |SELECT 2::BIGINT AS b, doc_id, clean_text, n_kept FROM r2out
         |UNION ALL
         |SELECT 3::BIGINT AS b, doc_id, clean_text, n_kept FROM r3out
         |ORDER BY doc_id""".stripMargin,
    // q168: q12's exact-retrieval CTEs + the same-source weak positive
    // label; non-positive retrieved candidates re-rank densely to the
    // 5 hardest negatives per query
    "q168_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        round(list_dot_product(q.v, e.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
        |          AS cosine
        |      FROM q, e WHERE e.vec_id != q.vec_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s),
        |topk AS (SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 10),
        |src AS (SELECT doc_id, source FROM documents),
        |neg AS (SELECT t.query_id, t.rank, t.neighbor_id, t.cosine
        |        FROM topk t
        |        JOIN src qs ON qs.doc_id = t.query_id
        |        JOIN src ns ON ns.doc_id = t.neighbor_id
        |        WHERE qs.source <> ns.source)
        |SELECT query_id, neighbor_id, cosine, neg_rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY rank)::BIGINT AS neg_rank
        |  FROM neg)
        |WHERE neg_rank <= 5
        |ORDER BY query_id, neg_rank""".stripMargin,
    // q169: the q122-split NB chain's per-class scores reduced to the
    // top-2 margin, binned in scaled integers; per-bin accuracy
    "q169_nb_calibration" ->
      (nbPredCtes + s""",
        |m2 AS (SELECT doc_id,
        |         max(CASE WHEN rn = 1 THEN lab END) AS pred,
        |         max(CASE WHEN rn = 1 THEN score END) AS s1,
        |         max(CASE WHEN rn = 2 THEN score END) AS s2
        |       FROM (SELECT doc_id, lab, score,
        |               row_number() OVER (PARTITION BY doc_id
        |                 ORDER BY score DESC, lab ASC) AS rn
        |             FROM scored) WHERE rn <= 2 GROUP BY doc_id),
        |lbl AS (SELECT m2.doc_id, pred,
        |          ((s1 - s2) * 1000000)::BIGINT // 250000 AS bin,
        |          CASE WHEN pred = te.lang THEN 1 ELSE 0 END AS ok
        |        FROM m2 JOIN te USING (doc_id))
        |SELECT bin, count(*)::BIGINT AS n_docs, sum(ok)::BIGINT AS n_correct,
        |       round(sum(ok) * 1.0 / count(*), 6) AS accuracy
        |FROM lbl GROUP BY bin ORDER BY bin""".stripMargin),
    // q170: boundary = 4-gram ending at the token ≡ 0 mod 16; chunk
    // index = exclusive running boundary count; ordered rebuild
    "q170_cdc_chunks" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d),
         |f AS (SELECT doc_id, i - 1 AS p, w[i] AS tok,
         |        CASE WHEN i >= 4 AND
         |          ${sqlHash60("array_to_string(w[i - 3 : i], ' ')")} % 16 = 0
         |          THEN 1 ELSE 0 END AS bnd
         |      FROM t),
         |c AS (SELECT doc_id, p, tok,
         |        coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY p
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |      FROM f)
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |       string_agg(tok, ' ' ORDER BY p) AS chunk_text,
         |       count(*)::BIGINT AS n_tokens
         |FROM c GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    // q180: the q162 span chain rolled up per source — duplicated
    // token mass and its basis-point share in exact integers
    "q180_span_dup_rate" ->
      s"""WITH $spanGramCtes,
         |fl AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM fl),
         |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
         |       FROM isl GROUP BY doc_id, grp),
         |perdoc AS (SELECT doc_id,
         |             sum(span_end - span_start + 1) AS dup, count(*) AS ns
         |           FROM sp GROUP BY doc_id),
         |base AS (SELECT d.doc_id, d.source,
         |           len(string_split(d.text, ' '))::BIGINT AS nt,
         |           p.dup, p.ns
         |         FROM documents d LEFT JOIN perdoc p USING (doc_id))
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       sum(CASE WHEN ns IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |         AS n_docs_with_spans,
         |       sum(nt)::BIGINT AS n_tokens,
         |       sum(coalesce(dup, 0))::BIGINT AS dup_tokens,
         |       (sum(coalesce(dup, 0)) * 10000 // sum(nt))::BIGINT AS dup_bp
         |FROM base GROUP BY source ORDER BY source""".stripMargin,
    // q181: exact-integer aHash/dHash replay from the UTF-8 bytes +
    // zero tail (the q153 wrap law); h = ceil(n/64) is the decode height
    "q181_media_phash" ->
      s"""WITH $phashCtes
         |SELECT media_id, 64::BIGINT AS width, h::BIGINT AS height,
         |       dhash, ahash
         |FROM ph ORDER BY media_id""".stripMargin,
    // q183: serve → span cut → pack → manifest, one oracle derivation
    "q183_pipeline_manifest" -> pipelineManifestOracleSql,
    // q188: eval hash set vs training hash set, brute-forced; closest
    // match = min (hamming, eval_id), the engine's min-struct tiebreak
    "q188_media_decontam" ->
      s"""WITH ${phashCtesFor("h_", "doc_id % 50 = 0")},
         |${phashCtesFor("c_", "doc_id % 50 <> 0")},
         |m AS (SELECT b.media_id, h.media_id AS eid,
         |        bit_count(xor(b.dhash, h.dhash))::BIGINT AS hd
         |      FROM c_h b JOIN h_h h
         |        ON bit_count(xor(b.dhash, h.dhash)) <= 3)
         |SELECT media_id,
         |       min(hd * 10000000000 + eid) % 10000000000 AS eval_id,
         |       min(hd * 10000000000 + eid) // 10000000000 AS hamming,
         |       count(DISTINCT eid)::BIGINT AS n_eval_matches
         |FROM m GROUP BY media_id ORDER BY media_id""".stripMargin,
    // q187: q186's rounds + a third — the oracle replays the
    // accumulated keeper sets and is BLIND to the fold between rounds
    // 2 and 3 (read-invisibility through the b < 3 fence)
    "q187_phash_fold" ->
      s"""WITH ${phashCtesFor("h_", "doc_id % 4 <= 1")},
         |${phashCtesFor("c_", "doc_id % 4 = 2")},
         |${phashCtesFor("d_", "doc_id % 8 = 3")},
         |${phashCtesFor("e_", "doc_id % 8 = 7")},
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
         |                  LEFT JOIN r2b USING (media_id)),
         |h3 AS (SELECT media_id, dhash FROM h2
         |       UNION ALL
         |       SELECT c.media_id, c.dhash FROM d_h c
         |       JOIN r2 USING (media_id) WHERE r2.is_fresh),
         |r3h AS (SELECT b.media_id, min(h.media_id) AS hd FROM e_h b
         |        JOIN h3 h ON bit_count(xor(b.dhash, h.dhash)) <= 3
         |        GROUP BY 1),
         |r3b AS (SELECT b.media_id, min(a.media_id) AS bd FROM e_h b
         |        JOIN e_h a ON a.media_id < b.media_id
         |          AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1),
         |r3 AS (SELECT p.media_id, coalesce(r3h.hd, r3b.bd) AS dup_of,
         |              (r3h.hd IS NULL AND r3b.bd IS NULL) AS is_fresh
         |       FROM e_h p LEFT JOIN r3h USING (media_id)
         |                  LEFT JOIN r3b USING (media_id))
         |SELECT 1::BIGINT AS b, media_id, dup_of, is_fresh FROM r1
         |UNION ALL
         |SELECT 2::BIGINT AS b, media_id, dup_of, is_fresh FROM r2
         |UNION ALL
         |SELECT 3::BIGINT AS b, media_id, dup_of, is_fresh FROM r3
         |ORDER BY b, media_id""".stripMargin,
    // q186: round 1 vs history, round 2 vs history ∪ round 1's FRESH
    // keepers (the absorption, replayed) — both rounds brute-forced
    "q186_phash_stream" ->
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
         |ORDER BY b, media_id""".stripMargin,
    // q185: history and batch hash sets from the one phash definition;
    // both match sets brute-forced — banding is pure access path
    "q185_phash_store_serve" ->
      s"""WITH ${phashCtesFor("h_", "doc_id % 4 != 3")},
         |${phashCtesFor("b_", "doc_id % 4 = 3")},
         |hm AS (SELECT b.media_id, min(h.media_id) AS hd
         |       FROM b_h b JOIN h_h h
         |         ON bit_count(xor(b.dhash, h.dhash)) <= 3 GROUP BY 1),
         |bm AS (SELECT b.media_id, min(a.media_id) AS bd
         |       FROM b_h b JOIN b_h a ON a.media_id < b.media_id
         |         AND bit_count(xor(a.dhash, b.dhash)) <= 3 GROUP BY 1)
         |SELECT p.media_id, coalesce(hm.hd, bm.bd) AS dup_of,
         |       (hm.hd IS NULL AND bm.bd IS NULL) AS is_fresh
         |FROM b_h p LEFT JOIN hm USING (media_id) LEFT JOIN bm USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // q184: brute-force phash pairs + q31's recursive-CTE reachability
    "q184_phash_dedup" ->
      s"""WITH RECURSIVE $phashCtes,
         |zpr AS (SELECT a.media_id AS id_a, b.media_id AS id_b
         |        FROM ph a JOIN ph b ON a.media_id < b.media_id
         |        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |ze AS (SELECT id_a AS s, id_b AS d2 FROM zpr
         |       UNION ALL SELECT id_b, id_a FROM zpr),
         |zreach(id, label) AS (
         |  SELECT DISTINCT s, s FROM ze
         |  UNION
         |  SELECT ze.s, r.label FROM ze JOIN zreach r ON ze.d2 = r.id),
         |zcc AS (SELECT id, min(label) AS label FROM zreach GROUP BY id)
         |SELECT p.media_id,
         |       coalesce(zcc.label, p.media_id) AS cluster_id,
         |       p.media_id = coalesce(zcc.label, p.media_id) AS is_keeper
         |FROM ph p LEFT JOIN zcc ON p.media_id = zcc.id
         |ORDER BY media_id""".stripMargin,
    // q189: the skewed corpus re-derived in SQL (10% of docs collapse
    // onto 8 planted payloads), then q184's brute-force pairs +
    // recursive reachability — the round-18 collapse certified WITH
    // mega-clusters present
    "q189_phash_skew_dedup" ->
      s"""WITH RECURSIVE sdocs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 7
         |              THEN 'blank thumbnail ' ||
         |                   repeat('variant' || CAST(doc_id % 8 AS VARCHAR) || ' ', 12)
         |              ELSE text END AS text
         |  FROM documents),
         |${phashCtesFor("s9", "TRUE", from = "sdocs")},
         |zpr AS (SELECT a.media_id AS id_a, b.media_id AS id_b
         |        FROM s9h a JOIN s9h b ON a.media_id < b.media_id
         |        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |ze AS (SELECT id_a AS s, id_b AS d2 FROM zpr
         |       UNION ALL SELECT id_b, id_a FROM zpr),
         |zreach(id, label) AS (
         |  SELECT DISTINCT s, s FROM ze
         |  UNION
         |  SELECT ze.s, r.label FROM ze JOIN zreach r ON ze.d2 = r.id),
         |zcc AS (SELECT id, min(label) AS label FROM zreach GROUP BY id)
         |SELECT p.media_id,
         |       coalesce(zcc.label, p.media_id) AS cluster_id,
         |       p.media_id = coalesce(zcc.label, p.media_id) AS is_keeper
         |FROM s9h p LEFT JOIN zcc ON p.media_id = zcc.id
         |ORDER BY media_id""".stripMargin,
    // q190: q186's replay with FULL absorption — round 2's history is
    // history ∪ ALL of batch 1 (no fresh filter), nothing else differs
    "q190_phash_full_absorb" ->
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
         |ORDER BY b, media_id""".stripMargin,
    // q182: the oracle brute-forces ALL pairs (fixture-sized); the
    // engine's banded pigeonhole must agree exactly — that is the law
    "q182_phash_neardups" ->
      s"""WITH $phashCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
         |FROM ph a JOIN ph b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // q179: q163's chain with the island filter — only spans of 24+
    // tokens expand to cut positions
    "q179_span_cut_guarded" ->
      s"""WITH $spanGramCtes,
         |red AS (SELECT doc_id, pos FROM (
         |          SELECT g.doc_id, g.pos,
         |                 row_number() OVER (PARTITION BY gh ORDER BY g.doc_id, g.pos) AS rn
         |          FROM g JOIN dup USING (gh)) WHERE rn > 1),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM red),
         |sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
         |       FROM isl GROUP BY doc_id, grp
         |       HAVING max(pos) + 7 - min(pos) + 1 >= 24),
         |cut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos FROM sp),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         |        FROM documents),
         |keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |         ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |       count(*)::BIGINT AS n_kept
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q178: the plane ≡ the text's UTF-8 bytes (q152's roundtrip law);
    // per-byte unsigned-PCM energy in exact integers, 16-sample
    // windows. The oracle is BYTE-indexed like the engine — encode()
    // to the UTF-8 blob, hex-extract each byte — so the law holds for
    // non-ASCII docs too, not just because the fixture is ASCII.
    "q178_audio_energy" ->
      """WITH t AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS nb FROM documents),
        |b AS (SELECT media_id, i,
        |        ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
        |      FROM t, (SELECT unnest(generate_series(1, nb)) AS i)),
        |w AS (SELECT media_id, ((i - 1) // 16)::BIGINT AS window_idx,
        |        (v - 128) * (v - 128) AS e2 FROM b)
        |SELECT media_id, window_idx, count(*)::BIGINT AS n_samples,
        |       sum(e2)::BIGINT AS energy,
        |       sum(e2) >= 40000 AS active
        |FROM w GROUP BY media_id, window_idx
        |ORDER BY media_id, window_idx""".stripMargin,
    // q177: benchmark gram set = union of BOTH arrived eval slices;
    // then q174's flag → islands → positions → rebuild over the rest
    "q177_decontam_store" -> {
      val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
      s"""WITH csrc AS (SELECT doc_id, text FROM documents
         |              WHERE doc_id % 50 <> 0 AND doc_id % 50 <> 25),
         |bmsrc AS (SELECT doc_id, text FROM documents
         |          WHERE doc_id % 50 = 0 OR doc_id % 50 = 25),
         |${spanGramSet("bm", "bmsrc")},
         |carr AS (SELECT doc_id, string_split(text, ' ') AS a FROM csrc),
         |cocc AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
         |        FROM carr WHERE len(a) >= 8),
         |cg AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM cocc),
         |fl AS (SELECT cg.doc_id, cg.pos FROM cg JOIN bmgs USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM fl),
         |sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
         |       FROM isl GROUP BY doc_id, grp),
         |cut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos FROM sp),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         |        FROM csrc),
         |keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |         ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |       count(*)::BIGINT AS n_kept
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // q176: q164's item/fill lattice + per-(shard, bin) counts and the
    // order-independent modular checksum
    "q176_pack_manifest" -> {
      val ck = sqlHash60("modality || ':' || doc_id::VARCHAR || ':' || item_idx::VARCHAR")
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |media AS (SELECT source, doc_id, 0::BIGINT AS item_idx,
         |                 'image' AS modality, 64::BIGINT AS cost_tokens
         |          FROM documents WHERE doc_id % 4 = 0),
         |c AS (SELECT source, doc_id, w,
         |        unnest(generate_series(1, len(w), 32)) AS s FROM d),
         |ti AS (SELECT source, doc_id, ((s - 1) // 32 + 1)::BIGINT AS item_idx,
         |              'text' AS modality,
         |              least(32, len(w) - s + 1)::BIGINT AS cost_tokens FROM c),
         |items AS (SELECT * FROM media UNION ALL SELECT * FROM ti),
         |p AS (SELECT *, coalesce(sum(cost_tokens) OVER (
         |        PARTITION BY source ORDER BY doc_id, item_idx
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |      FROM items),
         |b AS (SELECT source, doc_id, item_idx, modality, cost_tokens,
         |             (pre // 256)::BIGINT AS bin FROM p)
         |SELECT source, bin, count(*)::BIGINT AS n_items,
         |       count(DISTINCT doc_id)::BIGINT AS n_docs,
         |       sum(cost_tokens)::BIGINT AS fill_tokens,
         |       sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)::BIGINT
         |         AS n_images,
         |       (sum($ck % 1000000000) % 1000000000)::BIGINT AS checksum
         |FROM b GROUP BY source, bin
         |ORDER BY source, bin""".stripMargin
    },
    // q175: q83's frozen-centroid assign-all replay per index state
    // (idx1 = old corpus, idx2 = old + appended), q168's label filter
    // and dense re-rank per round
    "q175_negative_refresh" -> {
      def round(n: Int, idx: String): String =
        s"""cand$n AS (SELECT pr.query_id, $idx.neighbor_id
           |         FROM pr JOIN $idx ON pr.centroid_id = $idx.centroid_id
           |         WHERE pr.rn <= 4 AND $idx.neighbor_id != pr.query_id),
           |s$n AS (SELECT cand$n.query_id, cand$n.neighbor_id,
           |         ${sqlCosine("eq.v", "ec.v")} AS cosine
           |      FROM cand$n JOIN e eq ON eq.vec_id = cand$n.query_id
           |                  JOIN e ec ON ec.vec_id = cand$n.neighbor_id),
           |t$n AS (SELECT query_id, neighbor_id, cosine, rank FROM (
           |        SELECT query_id, neighbor_id, cosine,
           |          row_number() OVER (PARTITION BY query_id
           |            ORDER BY cosine DESC, neighbor_id) AS rank FROM s$n)
           |      WHERE rank <= 10),
           |n$n AS (SELECT t.query_id, t.neighbor_id, t.cosine, t.rank
           |      FROM t$n t JOIN src qs ON qs.doc_id = t.query_id
           |                 JOIN src ns ON ns.doc_id = t.neighbor_id
           |      WHERE qs.source <> ns.source),
           |d$n AS (SELECT query_id, neighbor_id, cosine,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY rank)::BIGINT AS neg_rank FROM n$n)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
         |         WHERE vec_id % 10 != 0 ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT e.vec_id, cent.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${sqlCosine("e.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
         |        FROM e, cent),
         |idx1 AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg
         |         WHERE rn = 1 AND vec_id % 10 != 0),
         |idx2 AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 50 = 0),
         |pr AS (SELECT q.query_id, cent.centroid_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${sqlCosine("q.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
         |       FROM q, cent),
         |src AS (SELECT doc_id, source FROM documents),
         |${round(1, "idx1")},
         |${round(2, "idx2")}
         |SELECT 1::BIGINT AS round, query_id, neg_rank, neighbor_id, cosine
         |FROM d1 WHERE neg_rank <= 5
         |UNION ALL
         |SELECT 2::BIGINT AS round, query_id, neg_rank, neighbor_id, cosine
         |FROM d2 WHERE neg_rank <= 5
         |ORDER BY round, query_id, neg_rank""".stripMargin
    },
    // q173/q174: corpus grams vs the eval slice's gram set; islands →
    // spans (report) or positions → anti-join → rebuild (cut)
    "q173_contamination_spans" -> {
      val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
      s"""WITH csrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
         |bmsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |${spanGramSet("bm", "bmsrc")},
         |carr AS (SELECT doc_id, string_split(text, ' ') AS a FROM csrc),
         |cocc AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
         |        FROM carr WHERE len(a) >= 8),
         |cg AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM cocc),
         |fl AS (SELECT cg.doc_id, cg.pos FROM cg JOIN bmgs USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM fl),
         |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
         |       FROM isl GROUP BY doc_id, grp)
         |SELECT sp.doc_id, span_start,
         |       span_end - span_start + 1 AS span_tokens,
         |       array_to_string(a[span_start + 1 : span_end + 1], ' ') AS span_text
         |FROM sp JOIN carr USING (doc_id)
         |ORDER BY 1, 2""".stripMargin
    },
    "q174_decontam_cut" -> {
      val gh = sqlHash60("array_to_string(a[s : s + 7], ' ')")
      s"""WITH csrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
         |bmsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |${spanGramSet("bm", "bmsrc")},
         |carr AS (SELECT doc_id, string_split(text, ' ') AS a FROM csrc),
         |cocc AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 7)) AS s
         |        FROM carr WHERE len(a) >= 8),
         |cg AS (SELECT doc_id, s - 1 AS pos, $gh AS gh FROM cocc),
         |fl AS (SELECT cg.doc_id, cg.pos FROM cg JOIN bmgs USING (gh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM fl),
         |sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
         |       FROM isl GROUP BY doc_id, grp),
         |cut AS (SELECT DISTINCT doc_id, unnest(generate_series(s0, e0)) AS pos FROM sp),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         |        FROM csrc),
         |keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         |         ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |       count(*)::BIGINT AS n_kept
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // q172: CDC-chunk both snapshots, per-doc multiset intersection
    // of chunk texts (duplicates count with multiplicity)
    "q172_cdc_reuse" ->
      s"""WITH asrc AS (SELECT doc_id, text FROM documents),
         |bsrc AS (SELECT doc_id,
         |           CASE WHEN doc_id % 5 = 0
         |             THEN 'recrawl banner tokens ' || text ELSE text END AS text
         |         FROM documents),
         |${cdcChunkCnt("x", "asrc")},
         |${cdcChunkCnt("y", "bsrc")}
         |SELECT y.doc_id,
         |       sum(y.n)::BIGINT AS n_chunks,
         |       sum(least(y.n, coalesce(x.n, 0)))::BIGINT AS n_reused,
         |       (y.doc_id % 5 = 0) AS edited
         |FROM ycnt y LEFT JOIN xcnt x
         |  ON x.doc_id = y.doc_id AND x.chunk_text = y.chunk_text
         |GROUP BY y.doc_id
         |ORDER BY y.doc_id""".stripMargin,
    // q171: doc_id-order deciles; per decile BIGRAM occurrences,
    // first-seen bigrams, and the running vocabulary
    "q171_vocab_growth" ->
      """WITH n AS (SELECT max(doc_id) + 1 AS mx FROM documents),
        |a AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id * 10 // mx AS decile,
        |             array_to_string(w[s : s + 1], ' ') AS tok
        |      FROM a, n, (SELECT unnest(generate_series(1, len(w) - 1)) AS s)
        |      WHERE len(w) >= 2),
        |occ AS (SELECT decile, count(*)::BIGINT AS n_occurrences
        |        FROM t GROUP BY decile),
        |fs AS (SELECT decile, count(*)::BIGINT AS n_new_tokens FROM (
        |         SELECT tok, min(decile) AS decile FROM (
        |           SELECT DISTINCT decile, tok FROM t) GROUP BY tok)
        |       GROUP BY decile)
        |SELECT occ.decile, n_occurrences,
        |       coalesce(n_new_tokens, 0)::BIGINT AS n_new_tokens,
        |       (sum(coalesce(n_new_tokens, 0)) OVER (ORDER BY occ.decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |         AS cumulative_vocab
        |FROM occ LEFT JOIN fs USING (decile)
        |ORDER BY decile""".stripMargin,
    // q164: media item (cost 64) leads each %4=0 doc, 32-token text
    // chunks follow; exclusive prefix sum per source shard → bin
    "q164_interleaved_pack" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |media AS (SELECT source, doc_id, 0::BIGINT AS item_idx,
        |                 'image' AS modality, 64::BIGINT AS cost_tokens
        |          FROM documents WHERE doc_id % 4 = 0),
        |c AS (SELECT source, doc_id, w,
        |        unnest(generate_series(1, len(w), 32)) AS s FROM d),
        |ti AS (SELECT source, doc_id, ((s - 1) // 32 + 1)::BIGINT AS item_idx,
        |              'text' AS modality,
        |              least(32, len(w) - s + 1)::BIGINT AS cost_tokens FROM c),
        |items AS (SELECT * FROM media UNION ALL SELECT * FROM ti),
        |p AS (SELECT *, coalesce(sum(cost_tokens) OVER (
        |        PARTITION BY source ORDER BY doc_id, item_idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |      FROM items),
        |b AS (SELECT source, doc_id, item_idx, modality, cost_tokens,
        |             (pre // 256)::BIGINT AS bin, (pre % 256)::BIGINT AS bin_offset
        |      FROM p)
        |SELECT source, doc_id, item_idx, modality, cost_tokens, bin, bin_offset,
        |       min(bin) OVER (PARTITION BY doc_id)
        |         <> max(bin) OVER (PARTITION BY doc_id) AS doc_straddles
        |FROM b ORDER BY doc_id, item_idx""".stripMargin,
    // q157: the gate's signal path alone — the same two namespaced NB
    // chains as q156, reduced to the one decision row (exact-integer
    // agreement, floor-div basis points)
    "q157_drift_signal" -> ("WITH " +
      nbPredCtesFor("doc_id % 4 <= 1", "doc_id % 4 <= 2", "f_") + ", " +
      nbPredCtesFor("doc_id % 4 <= 2", "doc_id % 4 <= 2", "r_") + """
      |SELECT count(*)::BIGINT AS n_docs,
      |       sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END)::BIGINT
      |         AS n_agree,
      |       ((count(*) - sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END))
      |        * 10000 // count(*))::BIGINT AS drift_bp
      |FROM f_pred f JOIN r_pred r USING (doc_id)""".stripMargin),
    // q155: same chain CTEs as q147, audit tail — per-doc first-
    // failing-stage disposition replayed through one derivation
    "q155_curation_audit" -> curationAuditOracleSql,
    // q152: every column is a WAV header field the real RIFF parser had
    // to read back out of the encoded file; the channel-0 plane of a
    // PCM-8 mono WAV is the payload verbatim, so its md5 is md5(text).
    // BYTE lengths throughout (octet_length over the UTF-8 encoding):
    // asMediaTable encodes text as UTF-8, so char-based length() would
    // break on any non-ASCII doc (round-15 advice; the n_bytes
    // convention everywhere else in the media family)
    "q152_wav_roundtrip" ->
      """SELECT doc_id AS media_id,
        |       octet_length(encode(text))::BIGINT AS n_samples,
        |       16000::BIGINT AS sample_rate,
        |       1::BIGINT AS channels,
        |       (44 + octet_length(encode(text))
        |           + (octet_length(encode(text)) % 2))::BIGINT AS file_bytes,
        |       md5(text) AS pcm_hash
        |FROM documents ORDER BY media_id""".stripMargin,
    // q153: BMP twin — width-4 top-down grayscale DIB (1078-byte
    // header+palette), byte-length%4=0 docs so the plane is the text's
    // UTF-8 bytes exactly (matching the Spark filter's octet_length)
    "q153_bmp_roundtrip" ->
      """SELECT doc_id AS media_id,
        |       4::BIGINT AS width,
        |       (octet_length(encode(text)) // 4)::BIGINT AS height,
        |       1::BIGINT AS channels,
        |       (1078 + octet_length(encode(text)))::BIGINT AS file_bytes,
        |       md5(text) AS plane_hash
        |FROM documents
        |WHERE octet_length(encode(text)) % 4 = 0
        |  AND octet_length(encode(text)) > 0
        |ORDER BY media_id""".stripMargin,
    // q148: the PLAIN join certifies the hot-key-only salting rewrite;
    // n_hot_users replays the integer ppm salting decision itself
    "q148_salted_by_skew" ->
      """WITH kc AS (SELECT user_id, count(*) AS kr FROM events GROUP BY 1),
        |tot AS (SELECT sum(kr) AS t FROM kc),
        |hot AS (SELECT user_id FROM kc, tot WHERE kr * 1000000 >= 7000 * tot.t)
        |SELECT c_mktsegment,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value,
        |       count(DISTINCT CASE WHEN user_id IN (SELECT user_id FROM hot)
        |                           THEN user_id END)::BIGINT AS n_hot_users
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q100_bigram_lm" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |           FROM documents),
        |bgi AS (SELECT doc_id, w,
        |          unnest(generate_series(1, len(w) - 1)) AS i FROM d),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS gram
        |       FROM bgi),
        |c12 AS (SELECT gram, count(*) AS c FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c FROM bg GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v
        |          FROM (SELECT unnest(w) AS tok FROM d)),
        |sc AS (SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |         sum(CAST(round(
        |           ln((c12.c + 1)::DOUBLE / (c1.c + vocab.v)), 6)
        |           AS DECIMAL(18,6))) AS s
        |       FROM bg b
        |       JOIN c12 ON b.gram = c12.gram
        |       JOIN c1 ON b.w1 = c1.w1, vocab
        |       GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |       CAST(CAST(s AS VARCHAR) AS DOUBLE) AS logprob
        |FROM sc ORDER BY doc_id""".stripMargin,
    // q99: blocked fuzzy pairs — normalization, 12-char block key,
    // 64-per-block id cap, and the Levenshtein DP replay exactly
    "q99_fuzzy_pairs" ->
      """WITH d AS (SELECT doc_id,
        |             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |           FROM documents),
        |b AS (SELECT doc_id, substr(norm, 1, 12) AS blk,
        |             substr(norm, 1, 64) AS cmp FROM d),
        |c AS (SELECT doc_id, blk, cmp FROM (
        |        SELECT doc_id, blk, cmp,
        |          row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
        |        FROM b) WHERE rn <= 64)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |       levenshtein(a.cmp, b2.cmp)::BIGINT AS dist
        |FROM c a JOIN c b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id
        |WHERE levenshtein(a.cmp, b2.cmp) <= 16
        |ORDER BY id_a, id_b""".stripMargin,
    "q92_ann_recall" -> annRecallSql,
    // q90's purge leaves the index reading exactly as if the purged
    // docs were never ingested — same replay, restricted corpus
    "q90_store_purge" -> bm25SqlOver("doc_id % 5 != 3"),
    "q91_priority_sample" ->
      s"""WITH d AS (SELECT doc_id,
         |        len(string_split(text, ' '))::DOUBLE AS weight,
         |        ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |      FROM documents),
         |p AS (SELECT doc_id, weight,
         |        weight / ((h + 1)::DOUBLE / 1152921504606846976.0) AS priority
         |      FROM d),
         |r AS (SELECT doc_id, weight, priority,
         |        row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
         |      FROM p),
         |tau AS (SELECT coalesce(max(CASE WHEN rank = 26 THEN priority END), 0.0) AS t
         |        FROM r)
         |SELECT rank, doc_id, weight, priority, greatest(weight, t) AS w_est
         |FROM r, tau WHERE rank <= 25 ORDER BY rank""".stripMargin,
    "q36_ann_lsh" -> annLshOracle(nPlanes = 4, nTables = 8, k = 10),
    "q37_ann_ivf" -> annIvfOracle(nCentroids = 16, nProbe = 4, k = 10),
    // centroids seeded from HISTORY only; every row (history + batch)
    // assigned against them in one pass — must equal append-then-probe
    "q83_ivf_append" -> annIvfOracle(nCentroids = 16, nProbe = 4, k = 10,
      centPred = "vec_id % 10 != 0", queryPred = "vec_id % 100 = 0"),
    "q51_cosine_dedup_pairs" -> cosinePairsOracle(nTables = 16, threshold = 0.35),
    "q52_redact_pii" -> {
      val email = TextOps.EmailRe // RE2-safe: classes + bounded reps only
      s"""WITH c AS (
         |  SELECT c_custkey,
         |         lower(c_name) || '@example.com ph ' ||
         |         lpad(((c_custkey * 7919) % 100000000)::VARCHAR, 8, '0') ||
         |         ' ' || c_mktsegment AS contact
         |  FROM customer),
         |r AS (
         |  SELECT c_custkey,
         |         len(regexp_extract_all(contact, '$email'))::BIGINT AS n_emails,
         |         regexp_replace(contact, '$email', '<EMAIL>', 'g') AS pass1
         |  FROM c)
         |SELECT c_custkey, n_emails,
         |       len(regexp_extract_all(pass1, '${TextOps.LongDigitRe}'))::BIGINT AS n_digit_runs,
         |       regexp_replace(pass1, '${TextOps.LongDigitRe}', '<NUM>', 'g') AS redacted
         |FROM r ORDER BY c_custkey""".stripMargin
    },
    "q53_normalize" ->
      """SELECT doc_id,
        |       regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, w,
        |        unnest(generate_series(1, least(len(w), greatest(len(w) - 8, 1)), 24)) AS s
        |      FROM d)
        |SELECT doc_id,
        |       ((s - 1) // 24)::BIGINT AS chunk_idx,
        |       array_to_string(w[s:s+31], ' ') AS chunk_text,
        |       least(32, len(w) - s + 1)::BIGINT AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q56_winsorize" ->
      """WITH q AS (
        |  SELECT event_type,
        |         round(quantile_cont(value, 0.05), 6) AS lo,
        |         round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |       least(greatest(value, lo), hi) AS clipped
        |FROM events e JOIN q ON e.event_type IS NOT DISTINCT FROM q.event_type
        |ORDER BY event_id""".stripMargin,
    "q54_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
        |a AS (SELECT doc_id, count(*) AS total_ngrams,
        |             count(DISTINCT s) AS distinct_ngrams
        |      FROM g GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(a.total_ngrams, 0)::BIGINT AS total_ngrams,
        |       coalesce(a.distinct_ngrams, 0)::BIGINT AS distinct_ngrams,
        |       CASE WHEN a.total_ngrams > 0
        |            THEN round(1.0::DOUBLE - a.distinct_ngrams / a.total_ngrams::DOUBLE, 6)
        |            ELSE 0.0::DOUBLE END AS dup_ratio
        |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q01_stg_trades" ->
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
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_prd_trades_star" ->
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
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_events_users" ->
      """SELECT event_id, user_id, event_type, value,
        |       c_name AS user_name, c_mktsegment AS user_segment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    "q04_watermark_max" ->
      "SELECT max(event_id) AS wm FROM events",
    "q05_incremental_filter" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events WHERE event_id > 5000
        |ORDER BY event_id""".stripMargin,
    "q06_keeplast_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q57_first_order" ->
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
        |ORDER BY c_custkey""".stripMargin,
    // replay ≡ full-refresh: the incremental merge must equal a full
    // keep-last dedup over the whole source
    "q58_incremental_e2e" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // {SF_DIR} is substituted with the actual sf directory by Verify at
    // dump time (the only query whose oracle reads FILES, not tables);
    // parquet is not BMP/WAV, so decode takes the opaque-payload
    // fallback: byte-length dims, reproduced from read_blob's size
    "q59_binary_ingest" ->
      """WITH f AS (
        |  SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |         size::BIGINT AS n_bytes
        |  FROM read_blob('{SF_DIR}/*.parquet')),
        |d AS (
        |  SELECT file_name,
        |         ('0x' || substr(md5(file_name), 1, 15))::BIGINT AS media_id,
        |         n_bytes,
        |         (64 + (n_bytes % 64))::INTEGER AS width,
        |         (64 + ((n_bytes // 64) % 64))::INTEGER AS height,
        |         (n_bytes + 4095) // 4096 AS n_blocks
        |  FROM f)
        |SELECT file_name, media_id, 'parquet' AS format, n_bytes, width, height,
        |       ((n_blocks + 3) // 4)::BIGINT AS n_frames,
        |       list_sum(list_transform(generate_series(0, n_blocks - 1, 4),
        |         off -> least(4096, n_bytes - off * 4096)))::BIGINT
        |         AS frame_bytes_total
        |FROM d ORDER BY file_name""".stripMargin,
    "q60_training_mix" -> trainingMixOracle,
    // prefix-take in (hash, id) order: cumulative tokens ≤ the per-source
    // budget; same driver-side literals as the Spark plan
    "q61_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         len(string_split(text, ' '))::BIGINT AS ws_tokens,
         |         ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |  FROM documents),
         |c AS (
         |  SELECT *, SUM(ws_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |           ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, source, ws_tokens FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN ${MixBudgets("src0")}
         |                         WHEN 'src1' THEN ${MixBudgets("src1")}
         |                         ELSE $MixDefaultBudget END
         |ORDER BY doc_id""".stripMargin,
    "q62_corpus_shuffle" ->
      s"""SELECT doc_id,
         |       ROW_NUMBER() OVER (ORDER BY
         |         ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |         doc_id)::BIGINT AS shuffle_pos
         |FROM documents ORDER BY shuffle_pos""".stripMargin,
    // the sketch values are engine-specific; the exact values and the
    // tolerance verdicts are portable, so the flags oracle as TRUE
    "q63_sketch_accuracy" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS exact_distinct,
        |       TRUE AS hll_ok,
        |       TRUE AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the sketch's own output is merge-tree-specific; the exact heavy
    // set and the MG completeness guarantee are portable, so mg_found
    // oracles as constant TRUE (Misra-Gries: freq > n/k survives)
    "q65_heavy_tokens" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS item FROM documents),
        |tot AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
        |cnt AS (SELECT source, item, count(*) AS exact_count
        |        FROM tok GROUP BY source, item)
        |SELECT c.source, c.item, c.exact_count, TRUE AS mg_found
        |FROM cnt c JOIN tot t USING (source)
        |WHERE c.exact_count * 25 > t.n
        |ORDER BY source, item""".stripMargin,
    // the PLAIN join: green certifies the salted rewrite changes nothing
    "q64_salted_join" ->
      """SELECT s_nationkey,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    // the layout round trip must be invisible to results: the oracle
    // computes the same even-days aggregate straight off the flat table
    "q67_partition_prune" ->
      """SELECT (epoch_us(ts) // 86400000000) AS event_day,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value
        |FROM events
        |WHERE (epoch_us(ts) // 86400000000) % 2 = 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // the z-order re-layout must be invisible to results: the oracle is
    // the same value-window aggregate straight off the flat table
    "q69_zorder_layout" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value
        |FROM events
        |WHERE value BETWEEN 20.0 AND 60.0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // oracle is the PLAIN semi join: green proves the bloom prefilter +
    // exact join composition is semantics-preserving (no false negatives,
    // false positives removed by the join)
    "q68_bloom_semijoin" ->
      """SELECT l_returnflag,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |         AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // same plain-join oracle as q64: the bucketed pay-once plan must be
    // indistinguishable from the straight join in its results
    "q66_bucketed_join" ->
      """SELECT s_nationkey,
        |       count(*) AS n_lines,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    // SCD2: consecutive equal tracked values collapse; effective dating
    // via lead over the change rows. `<>` suffices for the oracle's
    // change test (event_type is non-null); the engine's null-safe
    // compare agrees wherever both are defined
    "q70_scd2_history" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT user_id, ts_us, event_id, event_type FROM ordered
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |versions AS (
        |  SELECT user_id,
        |         row_number() OVER w AS version,
        |         event_type,
        |         ts_us AS valid_from_us,
        |         lead(ts_us) OVER w AS valid_to_us
        |  FROM changes
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, version, event_type, valid_from_us, valid_to_us,
        |       (valid_to_us IS NULL) AS is_current
        |FROM versions
        |ORDER BY user_id, version""".stripMargin,
    // period-over-period state diff: keep-last per (user, event_type)
    // in each slice, full-outer joined and classified
    "q71_snapshot_diff" ->
      """WITH old_snap AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events WHERE epoch_us(ts) < 1704326400000000) WHERE rn = 1),
        |new_snap AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |           row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events WHERE epoch_us(ts) >= 1706400000000000) WHERE rn = 1)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |       coalesce(o.event_type, n.event_type) AS event_type,
        |       CASE WHEN o.user_id IS NULL THEN 'inserted'
        |            WHEN n.user_id IS NULL THEN 'deleted'
        |            WHEN o.value IS NOT DISTINCT FROM n.value THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       o.value AS old_value, n.value AS new_value
        |FROM old_snap o
        |FULL OUTER JOIN new_snap n
        |  ON o.user_id = n.user_id AND o.event_type = n.event_type
        |ORDER BY user_id, event_type""".stripMargin,
    // int8 quantization is floor(x*127/max|x| + 0.5) on doubles — exact
    // integer outputs, so quantized dot/norms are bit-identical across
    // engines; the rerank and the hit audit reuse q12's exact-cosine
    // arithmetic
    "q72_quantized_ann" -> quantAnnSql,
    // the compacted layout must be invisible to results: oracle is the
    // same aggregate straight off the flat events table
    "q73_compaction" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value,
        |       min(value) AS vmin,
        |       max(value) AS vmax
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // merge-of-partials must equal the straight full recompute: the
    // oracle IS the recompute
    "q74_incremental_agg" ->
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
        |ORDER BY event_type""".stripMargin,
    // probe-the-store must equal the full recompute restricted to
    // pairs that touch the new batch (doc_id % 8 == 0)
    "q75_incremental_dedup" ->
      jaccardOracle(0.8, "\n  AND (da % 8 = 0 OR db % 8 = 0)"),
    // sketch registers are engine-specific; the exact distinct and the
    // merge-exactness/accuracy verdicts are portable (q63's pattern)
    "q76_incremental_distinct" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS exact_distinct,
        |       TRUE AS merge_eq_single_pass,
        |       TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // replay ≡ full-refresh: three partition-pruned upserts + compaction
    // + merged per-batch states must equal one flat recompute — current
    // rows via the keep-last window, stream aggregates via q74's
    // decimal-sum convention, HLL verdicts via q76's audit convention
    "q78_warehouse_loop" ->
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
        |ORDER BY event_type""".stripMargin,
    // the decomposed histogram-offset rank must equal the naive
    // single-window row_number over the same (cnt DESC, token) order
    "q77_vocabulary" ->
      """SELECT token, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id
        |FROM (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents)
        |      WHERE len(token) > 0
        |      GROUP BY token)
        |WHERE cnt >= 2
        |ORDER BY vocab_id""".stripMargin,
    // merged per-batch count states re-ranked must equal the
    // from-scratch recount (merge ≡ recompute, q74's law for q77's op)
    "q79_incremental_vocab" ->
      """SELECT token, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id
        |FROM (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents)
        |      WHERE len(token) > 0
        |      GROUP BY token)
        |WHERE cnt >= 3
        |ORDER BY vocab_id""".stripMargin,
    // full BM25 replay: same pruned postings, same idf/tf math, term
    // contributions rounded to 6 dp and summed as DECIMAL so score and
    // rank are exact in both engines. q86 shares it verbatim — the
    // posting index changes what is read, never what is computed.
    "q85_bm25_topk" -> bm25Sql,
    // incremental maintenance must read back identical to a fresh
    // build, so the oracle is again the full direct replay
    "q87_bm25_incremental" -> bm25Sql,
    // the blob→decode→embed→quantize→rerank composition re-derived
    // from read_blob file sizes alone: the opaque-payload decode dims
    // and the embedding are integer arithmetic (MediaDecode.scala,
    // Multimodal.mediaEmbeddings), quantization is
    // floor(x*127/max|x|+0.5) — every stage bit-exact across engines
    "q88_media_ann" ->
      """WITH f AS (
        |  SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |         size::BIGINT AS n_bytes
        |  FROM read_blob('{SF_DIR}/*.parquet')),
        |d AS (
        |  SELECT ('0x' || substr(md5(file_name), 1, 15))::BIGINT AS media_id,
        |         n_bytes,
        |         (64 + (n_bytes % 64)) AS width,
        |         (64 + ((n_bytes // 64) % 64)) AS height
        |  FROM f),
        |e AS (
        |  SELECT media_id,
        |         list_transform(range(0, 8), i ->
        |           ((n_bytes * (i + 1) + width * (3 * i + 1) +
        |             height * (7 * i + 2)) % 997 - 498)::DOUBLE) AS v
        |  FROM d),
        |sc AS (SELECT media_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |       FROM e),
        |qz AS (SELECT media_id, v,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM sc),
        |q AS (SELECT media_id, v, qv FROM qz WHERE media_id % 2 = 0),
        |cand AS (
        |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
        |         round(list_dot_product(q.qv, c.qv) /
        |           (sqrt(list_dot_product(q.qv, q.qv)) *
        |            sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos,
        |         round(list_dot_product(q.v, c.v) /
        |           (sqrt(list_dot_product(q.v, q.v)) *
        |            sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        |  FROM q, qz c WHERE c.media_id != q.media_id),
        |short AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY qcos DESC, neighbor_id) AS q_rank
        |  FROM cand),
        |rer AS (
        |  SELECT query_id, neighbor_id, cosine, q_rank,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM short WHERE q_rank <= 5)
        |SELECT query_id, rank, neighbor_id, cosine, q_rank
        |FROM rer WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    // and in-place store compaction must too (bytes change, rows don't)
    "q89_store_compaction" -> bm25Sql,
    "q86_bm25_indexed" -> bm25Sql,
    // q16's exact quality expression + a per-source rank cut at 3
    "q84_grouped_topk" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' '))::BIGINT AS n_tokens,
        |         round(length(text) * 1.0 / len(string_split(text, ' ')), 6) AS mean_token_len,
        |         round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
        |               / length(text), 6) AS punct_ratio,
        |         round(len(list_filter(string_split(lower(text), ' '),
        |                 t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
        |               * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |        (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN mean_token_len BETWEEN 3 AND 12 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0 END) AS quality_score
        |      FROM f),
        |r AS (SELECT doc_id, source, quality_score,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY quality_score DESC, doc_id) AS rank
        |      FROM s)
        |SELECT doc_id, source, quality_score, rank
        |FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,
    // cap = keep the rows ranked ≤ cap in (hash, id) order per source;
    // rn ≤ cap ≡ rn ≤ least(n, cap) since rn never exceeds n
    "q82_source_cap" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |                    doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= CASE source WHEN 'src3' THEN 100
         |                        WHEN 'src7' THEN 0
         |                        ELSE 10 END
         |ORDER BY doc_id""".stripMargin,
    // block grid + first-occurrence window + ordered rebuild, all
    // portable: same split, same inclusive slice, same (doc, block)
    // tie order
    "q81_dup_passages" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, w,
        |        unnest(generate_series(1, greatest(len(w), 1), 16)) AS st
        |      FROM d),
        |b AS (SELECT doc_id, ((st - 1) // 16)::BIGINT AS block_idx,
        |             array_to_string(w[st:st+15], ' ') AS blk
        |      FROM s),
        |k AS (SELECT *, row_number() OVER (
        |        PARTITION BY blk ORDER BY doc_id, block_idx) AS rn
        |      FROM b)
        |SELECT doc_id,
        |       string_agg(blk, ' ' ORDER BY block_idx) AS clean_text,
        |       count(*) AS n_kept
        |FROM k WHERE rn = 1
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // bit-for-bit portable split: same md5-prefix hash, same integer
    // interval edges
    "q80_split_assign" -> {
      val cuts = Sampling.splitCuts(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""SELECT doc_id,
         |       CASE WHEN h < ${cuts(0)} THEN 'train'
         |            WHEN h < ${cuts(1)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "q07_agg_pricing_summary" ->
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q08_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q09_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS content_hash,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin,
    "q10_jaccard_pairs" -> jaccardOracle(0.5),
    // q105: gram document-frequency over the same distinct-shingle
    // index as q10; integer floor-div percent
    // q107: the funnel replayed — earliest qualifying event per step
    // via row_number, strictly-after as (ts_us, event_id) row compare
    "q107_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |                  event_id FROM events),
        |f1 AS (SELECT user_id, ts_us, event_id FROM (
        |         SELECT user_id, ts_us, event_id,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts_us, event_id) AS rn
        |         FROM e WHERE event_type = 'signup') WHERE rn = 1),
        |f2 AS (SELECT user_id, ts_us, event_id FROM (
        |         SELECT e.user_id, e.ts_us, e.event_id,
        |           row_number() OVER (PARTITION BY e.user_id
        |             ORDER BY e.ts_us, e.event_id) AS rn
        |         FROM e JOIN f1 ON f1.user_id = e.user_id
        |         WHERE e.event_type = 'view'
        |           AND (e.ts_us, e.event_id) > (f1.ts_us, f1.event_id))
        |       WHERE rn = 1),
        |f3 AS (SELECT user_id FROM (
        |         SELECT e.user_id,
        |           row_number() OVER (PARTITION BY e.user_id
        |             ORDER BY e.ts_us, e.event_id) AS rn
        |         FROM e JOIN f2 ON f2.user_id = e.user_id
        |         WHERE e.event_type = 'purchase'
        |           AND (e.ts_us, e.event_id) > (f2.ts_us, f2.event_id))
        |       WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS step, 'signup' AS step_name,
        |         count(*)::BIGINT AS n_users FROM f1
        |  UNION ALL
        |  SELECT 2, 'view', count(*) FROM f2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*) FROM f3)
        |ORDER BY step""".stripMargin,
    // q108: weekly cohort matrix — integer week indexes, distinct
    // (user, week) activity joined to first-week cohorts
    "q108_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |             epoch_us(ts) // 604800000000 AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort_period FROM e GROUP BY 1),
        |aw AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT fw.cohort_period,
        |       (aw.week - fw.cohort_period)::BIGINT AS period_offset,
        |       count(*)::BIGINT AS n_users
        |FROM aw JOIN fw ON fw.user_id = aw.user_id
        |GROUP BY 1, 2 ORDER BY cohort_period, period_offset""".stripMargin,
    "q105_dup_fraction" ->
      s"""WITH $shingleCte,
         |fr AS (SELECT s, count(*) AS docs FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*)::BIGINT AS n_grams,
         |       sum(CASE WHEN fr.docs >= 2 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_shared,
         |       ((sum(CASE WHEN fr.docs >= 2 THEN 1 ELSE 0 END) * 100)
         |         // count(*))::BIGINT AS dup_pct
         |FROM sh JOIN fr ON fr.s = sh.s
         |GROUP BY 1 ORDER BY sh.doc_id""".stripMargin,
    // q106: q10's intersection counts read as DIRECTED containment —
    // each unordered pair emits up to two (src contained-in dst) rows
    "q106_containment_pairs" ->
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
         |ORDER BY src_id, dst_id""".stripMargin,
    // q11 equals the exact-Jaccard oracle only up to LSH recall: a pair
    // at similarity s survives banding with p = 1-(1-s^(k/bands))^bands
    // (~0.9998 at s=0.8, k=64, bands=16). The driver fixtures plant
    // pairs at s≈0.97 where p≈1-1e-12, so the equality is safe there;
    // borderline-0.8 fixtures would need the candidate-restricted
    // oracle instead (see SimilaritySpec's recall gate).
    "q11_minhash_pairs" -> jaccardOracle(0.8),
    "q12_ann_topk" -> bruteAnnSql,
    "q13_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,
    "q14_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // q191: brute-force simhash pairs + the q31/q184 recursive-CTE
    // reachability — the sparse-edge cluster path certified on the
    // 60-bit text fingerprint family
    "q191_simhash_clusters" ->
      s"""WITH RECURSIVE $simhashCte,
         |zpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |ze AS (SELECT id_a AS s, id_b AS d2 FROM zpr
         |       UNION ALL SELECT id_b, id_a FROM zpr),
         |zreach(id, label) AS (
         |  SELECT DISTINCT s, s FROM ze
         |  UNION
         |  SELECT ze.s, r.label FROM ze JOIN zreach r ON ze.d2 = r.id),
         |zcc AS (SELECT id, min(label) AS label FROM zreach GROUP BY id)
         |SELECT f.doc_id,
         |       coalesce(zcc.label, f.doc_id) AS cluster_id,
         |       f.doc_id = coalesce(zcc.label, f.doc_id) AS is_keeper
         |FROM fp f LEFT JOIN zcc ON f.doc_id = zcc.id
         |ORDER BY doc_id""".stripMargin,
    // q192: history and batch fingerprint sets from the one simhash
    // definition; both match sets brute-forced — banding is pure
    // access path (the q185 oracle shape on the text lens)
    "q192_simhash_store_serve" ->
      s"""WITH $simhashCte,
         |hh AS (SELECT * FROM fp WHERE doc_id % 4 != 3),
         |bb AS (SELECT * FROM fp WHERE doc_id % 4 = 3),
         |hm AS (SELECT b.doc_id, min(h.doc_id) AS hd
         |       FROM bb b JOIN hh h
         |         ON bit_count(xor(b.simhash, h.simhash)) <= 3 GROUP BY 1),
         |bm AS (SELECT b.doc_id, min(a.doc_id) AS bd
         |       FROM bb b JOIN bb a ON a.doc_id < b.doc_id
         |         AND bit_count(xor(a.simhash, b.simhash)) <= 3 GROUP BY 1)
         |SELECT p.doc_id, coalesce(hm.hd, bm.bd) AS dup_of,
         |       (hm.hd IS NULL AND bm.bd IS NULL) AS is_fresh
         |FROM bb p LEFT JOIN hm USING (doc_id) LEFT JOIN bm USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q193: the q186 two-round replay on the text lens — round 2's
    // history = history ∪ round 1's FRESH keepers, all brute-forced
    "q193_simhash_stream" ->
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
         |ORDER BY b, doc_id""".stripMargin,
    // q194: three rounds, keeper absorption compounding — and the
    // oracle is BLIND to the fold between rounds 2 and 3 (the q187
    // read-invisibility law on the text index)
    "q194_simhash_fold" ->
      s"""WITH $simhashCte,
         |hh AS (SELECT * FROM fp WHERE doc_id % 4 <= 1),
         |cc AS (SELECT * FROM fp WHERE doc_id % 4 = 2),
         |dd AS (SELECT * FROM fp WHERE doc_id % 8 = 3),
         |ee AS (SELECT * FROM fp WHERE doc_id % 8 = 7),
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
         |                 LEFT JOIN r2b USING (doc_id)),
         |h3 AS (SELECT doc_id, simhash FROM h2
         |       UNION ALL
         |       SELECT d.doc_id, d.simhash FROM dd d
         |       JOIN r2 USING (doc_id) WHERE r2.is_fresh),
         |r3h AS (SELECT b.doc_id, min(h.doc_id) AS hd FROM ee b
         |        JOIN h3 h ON bit_count(xor(b.simhash, h.simhash)) <= 3
         |        GROUP BY 1),
         |r3b AS (SELECT b.doc_id, min(a.doc_id) AS bd FROM ee b
         |        JOIN ee a ON a.doc_id < b.doc_id
         |          AND bit_count(xor(a.simhash, b.simhash)) <= 3 GROUP BY 1),
         |r3 AS (SELECT p.doc_id, coalesce(r3h.hd, r3b.bd) AS dup_of,
         |              (r3h.hd IS NULL AND r3b.bd IS NULL) AS is_fresh
         |       FROM ee p LEFT JOIN r3h USING (doc_id)
         |                 LEFT JOIN r3b USING (doc_id))
         |SELECT 1::BIGINT AS b, doc_id, dup_of, is_fresh FROM r1
         |UNION ALL
         |SELECT 2::BIGINT AS b, doc_id, dup_of, is_fresh FROM r2
         |UNION ALL
         |SELECT 3::BIGINT AS b, doc_id, dup_of, is_fresh FROM r3
         |ORDER BY b, doc_id""".stripMargin,
    // q195: eval and training fingerprint sets from the one simhash
    // definition, all-pairs brute-forced; the min-struct tiebreak
    // rides the q188 scaled-integer decomposition
    "q195_simhash_decontam" ->
      s"""WITH $simhashCte,
         |hh AS (SELECT * FROM fp WHERE doc_id % 50 = 0),
         |cc AS (SELECT * FROM fp WHERE doc_id % 50 <> 0),
         |m AS (SELECT b.doc_id, h.doc_id AS eid,
         |        bit_count(xor(b.simhash, h.simhash))::BIGINT AS hd
         |      FROM cc b JOIN hh h
         |        ON bit_count(xor(b.simhash, h.simhash)) <= 3)
         |SELECT doc_id,
         |       min(hd * 10000000000 + eid) % 10000000000 AS eval_id,
         |       min(hd * 10000000000 + eid) // 10000000000 AS hamming,
         |       count(DISTINCT eid)::BIGINT AS n_eval_matches
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q202: the accumulated eval UNION (both arrived sets) is the
    // benchmark; training = everything else; the q195/q188 min-struct
    "q202_simhash_decontam_incr" ->
      s"""WITH $simhashCte,
         |hh AS (SELECT * FROM fp WHERE doc_id % 50 = 0 OR doc_id % 50 = 7),
         |cc AS (SELECT * FROM fp WHERE doc_id % 50 <> 0 AND doc_id % 50 <> 7),
         |m AS (SELECT b.doc_id, h.doc_id AS eid,
         |        bit_count(xor(b.simhash, h.simhash))::BIGINT AS hd
         |      FROM cc b JOIN hh h
         |        ON bit_count(xor(b.simhash, h.simhash)) <= 3)
         |SELECT doc_id,
         |       min(hd * 10000000000 + eid) % 10000000000 AS eval_id,
         |       min(hd * 10000000000 + eid) // 10000000000 AS hamming,
         |       count(DISTINCT eid)::BIGINT AS n_eval_matches
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q196: the skewed corpus re-derived in SQL, then q191's
    // brute-force pairs + recursive-CTE reachability over it — the
    // sparse-edge cluster path certified with mega-clusters present
    "q196_simhash_skew_clusters" ->
      s"""WITH RECURSIVE sdocs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 7
         |              THEN 'template chrome ' ||
         |                   repeat('banner' || CAST(doc_id % 8 AS VARCHAR) || ' ', 12)
         |              ELSE text END AS text
         |  FROM documents),
         |${simhashCteFor("sdocs")},
         |zpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |ze AS (SELECT id_a AS s, id_b AS d2 FROM zpr
         |       UNION ALL SELECT id_b, id_a FROM zpr),
         |zreach(id, label) AS (
         |  SELECT DISTINCT s, s FROM ze
         |  UNION
         |  SELECT ze.s, r.label FROM ze JOIN zreach r ON ze.d2 = r.id),
         |zcc AS (SELECT id, min(label) AS label FROM zreach GROUP BY id)
         |SELECT f.doc_id,
         |       coalesce(zcc.label, f.doc_id) AS cluster_id,
         |       f.doc_id = coalesce(zcc.label, f.doc_id) AS is_keeper
         |FROM fp f LEFT JOIN zcc ON f.doc_id = zcc.id
         |ORDER BY doc_id""".stripMargin,
    // q197: segment lattice re-derived with correlated generate_series,
    // df over exact segment text, ordered string_agg rebuild
    // (string_agg skips the CASE's NULLs; coalesce for all-hot docs)
    "q197_boilerplate_segments" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks,
        |         unnest(generate_series(0, (len(toks)-1) // 10)) AS i
        |       FROM t),
        |seg AS (SELECT doc_id, i,
        |          array_to_string(list_slice(toks, i*10+1, i*10+10), ' ') AS s
        |        FROM ix),
        |hot AS (SELECT s FROM seg GROUP BY s
        |        HAVING count(DISTINCT doc_id) >= 3),
        |k AS (SELECT doc_id, i, s,
        |        s IN (SELECT s FROM hot) AS is_hot FROM seg)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT is_hot THEN s END, ' ' ORDER BY i), '') AS clean_text,
        |  count(*) FILTER (NOT is_hot)::BIGINT AS n_kept_segments,
        |  count(*) FILTER (is_hot)::BIGINT AS n_dropped_segments
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q198: q191's reachability clusters + q16's quarter-score as an
    // exact integer + the scaled-integer argmax (highest quality wins,
    // ties to the smallest id)
    "q198_quality_keeper" ->
      (s"""WITH RECURSIVE $simhashCte,
         |zpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |ze AS (SELECT id_a AS s2, id_b AS d2 FROM zpr
         |       UNION ALL SELECT id_b, id_a FROM zpr),
         |zreach(id, label) AS (
         |  SELECT DISTINCT s2, s2 FROM ze
         |  UNION
         |  SELECT ze.s2, r.label FROM ze JOIN zreach r ON ze.d2 = r.id),
         |zcc AS (SELECT id, min(label) AS label FROM zreach GROUP BY id),
         |cl AS (SELECT f.doc_id,
         |         coalesce(zcc.label, f.doc_id) AS cluster_id
         |       FROM fp f LEFT JOIN zcc ON f.doc_id = zcc.id),
         |""".stripMargin +
        """qf AS (SELECT doc_id,
         |         (CASE WHEN len(string_split(text, ' ')) >= 10 THEN 1 ELSE 0 END)
         |       + (CASE WHEN round(length(text) * 1.0 / len(string_split(text, ' ')), 6) BETWEEN 3 AND 12 THEN 1 ELSE 0 END)
         |       + (CASE WHEN round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 / length(text), 6) < 0.2 THEN 1 ELSE 0 END)
         |       + (CASE WHEN round(len(list_filter(string_split(lower(text), ' '),
         |                 t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
         |               * 1.0 / len(string_split(text, ' ')), 6) >= 0.05 THEN 1 ELSE 0 END)
         |         AS q4 FROM documents),
         |ky AS (SELECT cl.doc_id, cl.cluster_id,
         |         (4 - qf.q4)::BIGINT * 10000000000 + cl.doc_id AS k
         |       FROM cl JOIN qf USING (doc_id)),
         |kp AS (SELECT cluster_id, min(k) % 10000000000 AS keeper_id
         |       FROM ky GROUP BY cluster_id)
         |SELECT ky.doc_id, ky.cluster_id, kp.keeper_id,
         |       ky.doc_id = kp.keeper_id AS is_kept
         |FROM ky JOIN kp USING (cluster_id) ORDER BY doc_id""".stripMargin),
    // q199: the accumulated df is replayed over history ∪ batch 1
    // (doc_id % 4 <= 2), batch 2 (doc_id % 8 = 3) is cut against it —
    // within-batch frequency deliberately not consulted
    "q199_segment_df_store" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks,
        |         unnest(generate_series(0, (len(toks)-1) // 10)) AS i
        |       FROM t),
        |seg AS (SELECT doc_id, i,
        |          array_to_string(list_slice(toks, i*10+1, i*10+10), ' ') AS s
        |        FROM ix),
        |hot AS (SELECT s FROM seg WHERE doc_id % 4 <= 2
        |        GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |k AS (SELECT doc_id, i, s,
        |        s IN (SELECT s FROM hot) AS is_hot FROM seg
        |      WHERE doc_id % 8 = 3)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT is_hot THEN s END, ' ' ORDER BY i), '') AS clean_text,
        |  count(*) FILTER (NOT is_hot)::BIGINT AS n_kept_segments,
        |  count(*) FILTER (is_hot)::BIGINT AS n_dropped_segments
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q200: two fenced rounds replayed — round 2's history df is the
    // SUM over history ∪ batch 1, which is where the accumulation bites
    "q200_segdf_stream" ->
      s"""WITH $segLatticeCte,
         |${segCutRound("r1", "doc_id % 4 <= 1", "doc_id % 4 = 2")},
         |${segCutRound("r2", "doc_id % 4 <= 2", "doc_id % 8 = 3")}
         |SELECT 1::BIGINT AS b, * FROM r1out
         |UNION ALL
         |SELECT 2::BIGINT AS b, * FROM r2out
         |ORDER BY b, doc_id""".stripMargin,
    // q201: three rounds; the oracle is BLIND to the fold between
    // rounds 2 and 3 (partition compaction preserves (segment, src,
    // df) granularity, so every read's dedup + sum is unchanged)
    "q201_segdf_fold" ->
      s"""WITH $segLatticeCte,
         |${segCutRound("r1", "doc_id % 4 <= 1", "doc_id % 4 = 2")},
         |${segCutRound("r2", "doc_id % 4 <= 2", "doc_id % 8 = 3")},
         |${segCutRound("r3", "doc_id % 4 <= 2 OR doc_id % 8 = 3",
        "doc_id % 8 = 7")}
         |SELECT 1::BIGINT AS b, * FROM r1out
         |UNION ALL
         |SELECT 2::BIGINT AS b, * FROM r2out
         |UNION ALL
         |SELECT 3::BIGINT AS b, * FROM r3out
         |ORDER BY b, doc_id""".stripMargin,
    "q15_langid" -> langidOracle,
    "q16_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         length(text)::BIGINT AS n_chars,
        |         len(string_split(text, ' '))::BIGINT AS n_tokens,
        |         round(length(text) * 1.0 / len(string_split(text, ' ')), 6) AS mean_token_len,
        |         round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
        |               / length(text), 6) AS punct_ratio,
        |         round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
        |               / length(text), 6) AS digit_ratio,
        |         round(len(list_filter(string_split(lower(text), ' '),
        |                 t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
        |               * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio
        |  FROM documents)
        |SELECT *,
        |       (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0 END)
        |           + (CASE WHEN mean_token_len BETWEEN 3 AND 12 THEN 0.25 ELSE 0 END)
        |           + (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END)
        |           + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0 END) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,
    "q17_token_counts" ->
      """SELECT doc_id,
        |       len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q18_doc_fingerprint" ->
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_concat([0::BIGINT],
         |           list_transform(string_split(text, ' '),
         |             t -> ${sqlHash60("t")} % $P)),
         |         (a, b) -> (a * ${TextOps.FpBase} + b) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_winnow_fingerprints" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |g AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
         |h AS (SELECT doc_id, i, ${sqlHash60("s")} % $P AS h FROM g),
         |m AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f FROM h)
         |SELECT DISTINCT doc_id, f AS fingerprint
         |FROM m ORDER BY doc_id, fingerprint""".stripMargin,
    "q20_dimdate_gregorian" ->
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
         |ORDER BY miladi""".stripMargin,
    // Closed-form arithmetic Jalali calendar, exact on the generated
    // span (see q21 scaladoc): 33-year cycles of 12053 days anchored at
    // 1941-03-21 = 1320/01/01; cumleap(r) counts leap residues < r.
    "q21_dimdate_jalali" ->
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
         |FROM p ORDER BY miladi""".stripMargin,
    "q22_json_flatten" ->
      """SELECT n_nationkey AS id, n_name AS name, n_regionkey AS meta_region_id
        |FROM nation ORDER BY id""".stripMargin,
    "q23_media_features" ->
      """SELECT doc_id AS media_id, 'text' AS format,
        |       length(text)::BIGINT AS n_bytes, md5(text) AS content_hash
        |FROM documents ORDER BY media_id""".stripMargin,
    "q25_tumbling_windows" ->
      """SELECT epoch_us(ts) // 900000000 AS bucket,
        |       (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 3
        |ORDER BY bucket, event_type""".stripMargin,
    "q26_user_analytics" ->
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
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q27_rollup_agg" ->
      """SELECT event_type, user_id % 10 AS cohort,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin,
    "q28_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin,
    "q48_cube_agg" ->
      """SELECT event_type, user_id % 10 AS cohort,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, cohort)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin,
    "q50_resample_locf" ->
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
        |ORDER BY grid.user_id, grid.grid_ts""".stripMargin,
    "q49_unpivot" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q29_part_supplier_rev" ->
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
        |ORDER BY p_brand, supp_nation""".stripMargin,
    "q31_dedup_clusters" ->
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
         |ORDER BY doc_id""".stripMargin,
    // q136: q31's clustering replay + cluster sizes + the ppm weight
    // arithmetic — soft dedup is pure integer composition on top
    "q136_soft_dedup" ->
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
         |ORDER BY doc_id""".stripMargin,
    // q137: q136's weights CTE chain composed with q61's prefix-take in
    // (hash, doc_id) order, the running total now summing eff_tokens_ppm
    // — the budget is spent in DEDUPLICATED token mass
    "q137_soft_mix" ->
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
         |ORDER BY doc_id""".stripMargin,
    "q39_range_join" ->
      """WITH probes AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice / 50.0 AS v
        |  FROM lineitem WHERE l_orderkey % 100 = 0),
        |intervals AS (
        |  SELECT p_partkey, p_retailprice - p_size AS lo, p_retailprice + p_size AS hi
        |  FROM part)
        |SELECT l_orderkey, l_linenumber, v, p_partkey, lo, hi
        |FROM probes p JOIN intervals i ON p.v BETWEEN i.lo AND i.hi
        |ORDER BY l_orderkey, l_linenumber, p_partkey""".stripMargin,
    "q38_asof_join" -> asofOracle,
    // q40 is the skew-guarded variant of the same semantics — defined to
    // produce byte-identical output, so it shares q38's oracle
    "q40_asof_bucketed" -> asofOracle,
    // the same salted 60-bit hash both engines compute; the threshold is
    // one driver-computed integer literal so there is no float to drift
    "q41_hash_sample" ->
      s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
         |FROM events
         |WHERE ('0x' || substr(md5(event_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT
         |      < ${Sampling.threshold(SampleRate)}
         |ORDER BY event_id""".stripMargin,
    // fractions forced to ::DOUBLE — DuckDB decimal literals would take
    // exact decimal math where Spark rounds through IEEE doubles, and
    // ceil() would disagree whenever frac·n lands on an integer
    "q42_stratified_sample" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
         |         ('0x' || substr(md5(event_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT AS h
         |  FROM events),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n FROM e)
         |SELECT event_id, user_id, event_type, value, ts_us FROM r
         |WHERE rn <= ceil((CASE WHEN event_type = 'click' THEN 0.2::DOUBLE
         |                       ELSE 0.05::DOUBLE END) * n)
         |ORDER BY event_id""".stripMargin,
    "q46_grouped_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q47_histogram" ->
      """SELECT event_type, floor(value / 10.0) * 10.0 AS bucket_lo,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same hashed-shingle-vs-string convention q10 proved out; DuckDB
    // prunes the shared CTE's unused `inter` branch
    "q44_contamination" ->
      s"""WITH $shingleCte,
         |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
         |hits AS (SELECT a.doc_id, count(*) AS c
         |         FROM sh a JOIN probe p ON a.s = p.s GROUP BY 1)
         |SELECT z.doc_id, round(coalesce(h.c, 0) * 1.0 / z.n, 6) AS contamination
         |FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
         |ORDER BY z.doc_id""".stripMargin,
    // prefix cast ::BIGINT — DuckDB's windowed sum yields HUGEINT, which
    // pandas would render as float and fail the exact compare
    "q45_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(string_split(text, ' '))::BIGINT AS ws_tokens
        |  FROM documents),
        |p AS (
        |  SELECT *, coalesce(sum(ws_tokens) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prefix
        |  FROM t)
        |SELECT doc_id, shard, ws_tokens, prefix // 2048 AS bin,
        |       prefix % 2048 AS bin_offset
        |FROM p ORDER BY doc_id""".stripMargin,
    "q43_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         round(t.tf * ln(1.0 + nd.n_docs::DOUBLE / d.df), 6) AS tfidf
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk FROM scored)
        |SELECT doc_id, rnk::BIGINT AS "rank", term, tf, df, tfidf
        |FROM r WHERE rnk <= 5
        |ORDER BY doc_id, "rank"""".stripMargin,
    "q34_set_ops" ->
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click' AND value > 95
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95)
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 99
        |ORDER BY user_id""".stripMargin,
    "q35_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q32_distinct_agg" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       min(event_id) AS first_event,
        |       max(event_id) AS last_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q33_sessionization" ->
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
        |ORDER BY user_id, session_idx""".stripMargin,
    "q30_vector_stats" ->
      """WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, len(embedding)::BIGINT AS dim,
        |       round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
        |       round(list_sum(v) / len(v), 6) AS mean,
        |       list_aggregate(v, 'min') AS vmin,
        |       list_aggregate(v, 'max') AS vmax
        |FROM e ORDER BY vec_id""".stripMargin,
    "q24_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |             (length(text) + 99) // 100 AS n_blocks FROM documents),
        |f AS (SELECT media_id, b, substr(text, (b * 100 + 1)::INT, 100) AS frame
        |      FROM (SELECT media_id, text, unnest(generate_series(0, n_blocks - 1, 2)) AS b FROM m))
        |SELECT media_id, (b // 2)::BIGINT AS frame_idx,
        |       length(frame)::BIGINT AS frame_bytes, md5(frame) AS frame_hash
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
  )
}
