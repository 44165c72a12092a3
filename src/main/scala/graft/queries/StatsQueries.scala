package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Clustering, Dedup, Events, Layout, Linkage, Sampling, Shuffles, Similarity, Stats, TextOps}

import Shared._

/** Clustering, statistics and the rest: k-means, semantic dedup,
  * sketches, events and skew audits. */
object StatsQueries extends QueryFamily {

  /** Deterministic corpus shuffle: every document's 1-based position in
    * the seeded-hash training order, computed without a global sort
    * (bucket offsets from a tiny histogram + rank within bucket). */
  query("q62_corpus_shuffle", (s, dir) =>
    Sampling.shufflePositions(Tables.documents(s, dir).select("doc_id"),
        "doc_id", SampleSeed)
      .select("doc_id", "shuffle_pos")
      .orderBy("shuffle_pos"),
    oracle =
      s"""SELECT doc_id,
         |       ROW_NUMBER() OVER (ORDER BY
         |         ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |         doc_id)::BIGINT AS shuffle_pos
         |FROM documents ORDER BY shuffle_pos""".stripMargin)

  /** Sketch accuracy audit: HLL distinct users and approximate median
    * value per event type, certified within 5% of their exact
    * counterparts (the flags oracle as constant TRUE; the sketch path
    * is the constant-memory 100 TB form of both aggregates). */
  query("q63_sketch_accuracy", (s, dir) =>
    Stats.sketchAccuracy(Tables.events(s, dir), "event_type",
        distinctCol = "user_id", valueCol = "value")
      .orderBy("event_type"),
    // the sketch values are engine-specific; the exact values and the
    // tolerance verdicts are portable, so the flags oracle as TRUE
    oracle =
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS exact_distinct,
        |       TRUE AS hll_ok,
        |       TRUE AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** SCD2 history build ([[Cdc.scd2]]): the events log per user,
    * consecutive equal event_types collapsed into effective-dated
    * versions (valid_from/valid_to/is_current). The reference keeps
    * only latest state (replace / append+dedup,
    * mabna_tables_update.py:271-280) — this is the history the
    * warehouse loses, built in ONE hash shuffle: all three window
    * passes (change-detect lag, dating lead, version row_number) share
    * the user_id partitioning, pinned in PlanContractSpec. */
  query("q70_scd2_history", (s, dir) => {
    Cdc.scd2(Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        Seq("user_id"), "ts_us", Seq(col("event_id")), Seq("event_type"))
      .withColumnRenamed("valid_from", "valid_from_us")
      .withColumnRenamed("valid_to", "valid_to_us")
      .orderBy("user_id", "version")
  },
    // SCD2: consecutive equal tracked values collapse; effective dating
    // via lead over the change rows. `<>` suffices for the oracle's
    // change test (event_type is non-null); the engine's null-safe
    // compare agrees wherever both are defined
    oracle =
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
        |ORDER BY user_id, version""".stripMargin)

  /** Snapshot diff ([[Cdc.snapshotDiff]]): per-(user,event_type) last
    * value in the first three days vs the last three days of the
    * month, every key classified inserted/deleted/changed/unchanged.
    * Both snapshots are keep-last windows hash-partitioned on the key,
    * so the full-outer join REUSES their partitioning — the whole diff
    * costs two exchanges, the join itself none (pinned). */
  query("q71_snapshot_diff", (s, dir) => {
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
  },
    // period-over-period state diff: keep-last per (user, event_type)
    // in each slice, full-outer joined and classified
    oracle =
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
        |ORDER BY user_id, event_type""".stripMargin)

  /** Small-file compaction ([[Layout.compact]]): events shattered into
    * 64 micro-batch-sized files (the reference's every-15-minutes
    * append layout, mabna_tables_update.py:58-59), compacted by a
    * shuffle-free coalesce rewrite sized from the layout's actual
    * bytes, then aggregated. Oracle = the same aggregate on the flat
    * table: green proves the rewrite preserved every row. The plan pin
    * asserts the compaction plan has NO Exchange — compaction must be
    * read-concat-write, never a shuffle. */
  query("q73_compaction", (s, dir) => {
    val small = sessionStore("", "compact-small", s, dir) { small =>
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(64) // simulate 64 micro-batch appends
        .write.mode("overwrite").parquet(small)
    }
    val compacted = sessionStore("", "compact-out", s, dir) { compacted =>
      Layout.compact(s, small, compacted, targetBytes = 1L << 20)
    }
    s.read.parquet(compacted)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      .orderBy("event_type")
  },
    // the compacted layout must be invisible to results: oracle is the
    // same aggregate straight off the flat events table
    oracle =
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |         AS sum_value,
        |       min(value) AS vmin,
        |       max(value) AS vmax
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)

  /** The k-means replay as a reusable CTE block ending in `fa`
    * (vec_id, cluster, dist) — q97 selects it, q101 profiles it. */
  private def kmeansOracleSql(k: Int, iters: Int): String =
    kmeansOracleCtes(k, iters) +
      "SELECT vec_id, cluster, dist FROM fa ORDER BY vec_id"

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
  query("q97_kmeans", (s, dir) => {
    val (assign, _) = Clustering.kmeansQuantized(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    assign.select(col("id").as("vec_id"), col("cluster"), col("dist"))
      .orderBy("vec_id")
  },
    oracle = kmeansOracleSql(KmeansK, KmeansIters))

  /** Record linkage ([[Linkage.blockedFuzzyPairs]]): blocked edit-
    * distance matching — the character-level complement to the token-
    * set dedup arms (q10/q11 see reordered copies; this sees dense
    * in-place edits). Blocking key = normalized 12-char prefix, blocks
    * capped deterministically, threshold'd Levenshtein only inside
    * blocks. Every stage — normalization, cap, DP distance — is
    * integer/string-exact, so the oracle replays distances verbatim. */
  query("q99_fuzzy_pairs", (s, dir) =>
    Linkage.blockedFuzzyPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("id_a", "id_b"),
    // q99: blocked fuzzy pairs — normalization, 12-char block key,
    // 64-per-block id cap, and the Levenshtein DP replay exactly
    oracle =
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
        |ORDER BY id_a, id_b""".stripMargin)

  /** Cluster profiling: the quality gate over q97's clustering (the
    * q92 pattern applied to k-means) — per cluster, its size, total
    * inertia, dominant ground-truth label and integer purity. The
    * label column plays the held-out reference; a pipeline runs this
    * before trusting cluster-balanced sampling. All-integer outputs
    * (counts, exact distances, floor-div purity percent), so the
    * oracle replays the clustering AND the audit. */
  query("q101_cluster_profile", (s, dir) => {
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
  },
    // q101: the k-means replay (same CTE block as q97) plus the
    // label-purity audit on top — all-integer, exact
    oracle =
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
          |FROM ag JOIN tl USING (cluster) ORDER BY cluster""".stripMargin))

  /** Ordered funnel ([[Events.funnelDepth]]): signup → view →
    * purchase reach, each step strictly after the previous (earliest-
    * qualifying-event greedy; order = (µs, event_id) so the oracle
    * sees identical ties). Output: per step, users reached. */
  query("q107_funnel", (s, dir) => {
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
  },
    // q105: gram document-frequency over the same distinct-shingle
    // index as q10; integer floor-div percent
    // q107: the funnel replayed — earliest qualifying event per step
    // via row_number, strictly-after as (ts_us, event_id) row compare
    oracle =
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
        |ORDER BY step""".stripMargin)

  /** Cohort retention ([[Events.cohortRetention]]): users grouped by
    * first-activity week, counted in each later week they return —
    * the engagement matrix. Weeks are integer µs floor-divisions, so
    * the whole matrix is exact. */
  query("q108_cohort_retention", (s, dir) => {
    val weekUs = 7L * 86400L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"),
        expr(s"(ts DIV 1000) DIV $weekUs").as("week"))
    Events.cohortRetention(e, "user_id", "week")
      .orderBy("cohort_period", "period_offset")
  },
    // q108: weekly cohort matrix — integer week indexes, distinct
    // (user, week) activity joined to first-week cohorts
    oracle =
      """WITH e AS (SELECT user_id,
        |             epoch_us(ts) // 604800000000 AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort_period FROM e GROUP BY 1),
        |aw AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT fw.cohort_period,
        |       (aw.week - fw.cohort_period)::BIGINT AS period_offset,
        |       count(*)::BIGINT AS n_users
        |FROM aw JOIN fw ON fw.user_id = aw.user_id
        |GROUP BY 1, 2 ORDER BY cohort_period, period_offset""".stripMargin)

  /** Frozen-centroid serving assignment
    * ([[Clustering.assignToCentroids]]): train on 3/4 of the corpus,
    * route the held-out batch against the frozen centroids — the q83
    * frozen-quantizer discipline applied to k-means, and the
    * production serve path for semantic routing. Output: the batch's
    * per-cluster landing profile (exact counts and integer inertia). */
  query("q109_cluster_assign", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (_, cents) = Clustering.kmeansQuantized(
      e.filter(col("vec_id") % 4 =!= 3), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    Clustering.assignToCentroids(
        e.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_batch"), sum("dist").as("sum_dist"))
      .orderBy("cluster")
  },
    oracle =
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
          |FROM ab GROUP BY 1 ORDER BY cluster""".stripMargin))

  /** Cluster-balanced corpus ([[Sampling.stratumCap]] over q97's
    * clusters): cap every semantic cluster at 20 members — the
    * "cluster then balance" curation move (diversity-preserving
    * downsampling), with the cap's smallest-(hash, id) rule exactly
    * replayable. Output: per cluster, population vs kept. */
  query("q110_cluster_balance", (s, dir) => {
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
  },
    // q110: the full-corpus k-means replay capped per cluster by the
    // q82 smallest-(hash, id) rule
    oracle =
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
          |FROM tot JOIN kp USING (cluster) ORDER BY tot.cluster""".stripMargin))

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
  query("q121_semdedup_pairs", (s, dir) =>
    Similarity.semDedupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = KmeansK, iters = KmeansIters,
        thrNum = SemThrNum, thrDen = SemThrDen, clusterCap = SemCap,
        seed = SampleSeed)
      .orderBy("cluster", "id_a", "id_b"),
    // q121: the k-means replay + q110's cap replay + integer pair
    // decision — dot, norms and centroid distances all exact BIGINTs,
    // so the kept set and the drop rule replay with no tolerance
    oracle =
      (kmeansOracleCtes(KmeansK, KmeansIters) + semPairsTailSql))

  /** Semantic contamination ([[Similarity.semContaminationPairs]]):
    * the vec_id%10=7 slice plays the benchmark, the rest the training
    * corpus. k-means is trained on the CORPUS ONLY; both sides route
    * through the frozen centroids (q109 discipline), both are capped
    * per cluster, and every within-cluster corpus×benchmark pair is
    * decided by the q121 integer threshold. The semantic complement
    * to q44's lexical n-gram contamination — a paraphrased eval item
    * shares no 8-gram but sits above cosine 0.35 here. */
  query("q124_sem_contamination", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.semContaminationPairs(
        e.filter(col("vec_id") % 10 =!= 7), e.filter(col("vec_id") % 10 === 7),
        "vec_id", "embedding", k = KmeansK, iters = KmeansIters,
        thrNum = SemThrNum, thrDen = SemThrDen, clusterCap = SemCap,
        seed = SampleSeed)
      .orderBy("cluster", "corpus_id", "bench_id")
  },
    // q124: corpus-only k-means (trainPred), q109-style frozen-centroid
    // routing of the benchmark slice, per-side caps, integer pair
    // decision — the full cross-corpus composition replayed exactly
    oracle =
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
          |FROM sd ORDER BY cluster, corpus_id, bench_id""".stripMargin))

  private val TwoLevelCoarseK = 3
  private val TwoLevelCoarseIters = 2

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
  query("q126_twolevel_assign", (s, dir) => {
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
  },
    // q126: both k-means chains + two-level routing + agreement audit
    oracle =
      twoLevelOracleSql(KmeansK, KmeansIters,
        TwoLevelCoarseK, TwoLevelCoarseIters))

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
  query("q127_semstore_probe", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val path = sessionStore("q127", "semstore", s, dir) { path =>
      Similarity.writeSemStore(e.filter(col("vec_id") % 4 <= 1),
        "vec_id", "embedding", k = KmeansK, iters = KmeansIters, path)
      Similarity.appendToSemStore(s, path,
        e.filter(col("vec_id") % 4 === 2), "vec_id", "embedding")
    }
    Similarity.probeSemStore(s, path, e.filter(col("vec_id") % 4 === 3),
        "vec_id", "embedding", SemThrNum, SemThrDen, SemCap, SampleSeed)
      .orderBy("cluster", "store_id", "batch_id")
  },
    // q127: train on the build slice only, route members (%4 != 3) and
    // the probe batch (%4 = 3) through the frozen centroids, cap both
    // sides, integer pair decision — the store lifecycle replayed
    oracle = semStoreProbeOracleSql)

  /** Shuffle-skew audit ([[Stats.skewAudit]]): the pre-flight check a
    * pipeline runs BEFORE keying a 100 TB join or aggregation — the 20
    * heaviest `user_id`s in the event stream with their corpus share
    * and the projected load of the 32-way hash-partitioner bucket each
    * lands in. `key_share_ppm` is the salting decision (q64),
    * `bucket_share_ppm` vs the uniform 31,250 line is the projected
    * partition imbalance, `hot_fraction_ppm` separates hot-key buckets
    * from collision-crowded ones. */
  query("q145_skew_audit", (s, dir) =>
    Stats.skewAudit(Tables.events(s, dir), "user_id", parts = 32, k = 20)
      .orderBy("rank"),
    // q145: key counts, portable-hash bucket assignment, parts-row
    // bucket rollup, top-20 keys, floor-div ppm shares — all BIGINT
    oracle =
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
        |FROM top JOIN b USING (bucket), tot ORDER BY rank""".stripMargin)

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
  query("q156_drift_gate", (s, dir) => {
    val root = q156Root(s, dir)
    s.read.parquet(s"$root/_gate")
      .select("gate_seq", "threshold_bp", "drift_bp", "published",
        "serving_epoch")
      .orderBy("gate_seq")
  },
    // q156: the drift signal (two namespaced NB chains — frozen on the
    // epoch-0 history, candidate on the grown corpus, both scoring the
    // corpus; exact-integer agreement, floor-div basis points) AND the
    // two gate decisions replayed as CASE — 10001 bp is unreachable by
    // construction, 1 bp publishes iff any disagreement exists
    oracle = ("WITH " +
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
      |ORDER BY 1""".stripMargin))

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
  query("q148_salted_by_skew", (s, dir) => {
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
  },
    // q148: the PLAIN join certifies the hot-key-only salting rewrite;
    // n_hot_users replays the integer ppm salting decision itself
    oracle =
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
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Leakage-safe split ([[Sampling.splitAssign]] over the SEMANTIC
    * GROUP): a near-dup pair straddling train/test is silent
    * evaluation leakage — q80 splits by document and cannot prevent
    * it. Splitting by q97's cluster id instead gives every semantic
    * group exactly ONE split (the split is a pure hash of the group
    * key), so anything SemDeDup would pair stays on one side. Output:
    * per (cluster, split) doc count — one row per cluster IS the
    * coherence proof, and the oracle replays clustering + the
    * portable hash split. */
  query("q128_leakage_safe_split", (s, dir) => {
    val (assign, _) = Clustering.kmeansQuantized(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters)
    Sampling.splitAssign(assign.select(col("id"), col("cluster")), "cluster",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), SampleSeed)
      .groupBy("cluster", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("cluster", "split")
  },
    // q128: clustering replay + the portable hash split on the cluster
    oracle = {
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
    })

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
  query("q112_robust_outliers", (s, dir) => {
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
  },
    // q112: exact lower-median + MAD per type via order-statistic
    // windows; medians are actual data values so the doubles match
    oracle =
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
        |GROUP BY 1 ORDER BY dv.event_type""".stripMargin)

  /** Source drift ([[TextOps.sourceDriftKL]]): KL(source ‖ corpus)
    * over unigram distributions — the per-ingest-source drift monitor.
    * Rounded-ln + decimal sums make the statistic engine-exact. */
  query("q113_source_drift", (s, dir) =>
    TextOps.sourceDriftKL(Tables.documents(s, dir), "doc_id", "source", "text")
      .orderBy("source"),
    // q109: train the k-means replay on 3/4 of the corpus (the CTE
    // block's trainPred), then assign the held-out quarter against
    // the frozen final centroids
    // q113: KL(source ‖ corpus) replayed — same ratios in the same
    // operation order, per-term contributions rounded at 9 dp and
    // decimal-summed
    oracle =
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
        |GROUP BY 1 ORDER BY source""".stripMargin)

  /** Event-type transition matrix (first-order Markov counts): for
    * each user's (µs, event_id)-ordered stream, count consecutive
    * type→type transitions, with each row's share of its from-type in
    * basis points — session-shape analytics over exact integers. */
  query("q114_transition_matrix", (s, dir) => {
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
  },
    // q114: lead() over the same (µs, event_id) order, integer
    // transition counts and basis-point shares
    oracle =
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
        |ORDER BY cnt.from_type, cnt.to_type""".stripMargin)
}
