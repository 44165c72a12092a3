package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Curation, Sampling, Similarity, TextOps}
import graft.streaming.{CurationEpochs, CurationStream, EventTimeStreams}

import Shared._

/** Serve and curation: the frozen-artifact curation chain served batch
  * by batch and stream by stream. Every query here re-serves a fenced
  * batch per rep, so Bench gives each at least five reps
  * ([[Bench.serveFamily]]). */
object ServeQueries extends QueryFamily {

  /** The q160/q161 shared lane-on stream store (built once per JVM:
    * init on the %4 ≤ 1 history, batch 1 = the %4 = 2 quarter with
    * vectors only for `doc_id % 8 = 2`, absorbed lane-on). */
  private def q160Store(s: SparkSession, dir: String): String = {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    sessionStore("q160", "curlex", s, dir) { path =>
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
  query("q139_curation_e2e", (s, dir) => {
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
  },
    // q139: the whole curation loop — dedup keepers → one k-means
    // chain → SemDeDup tail → frozen-routed decontamination tail →
    // NB replay → unrolled BPE chain → budget window → split cuts
    oracle = curationE2eOracleSql)

  private val Q141Runs = new java.util.concurrent.atomic.AtomicLong(0)

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
  query("q141_stream_join", (s, dir) => {
    val backlog = sessionStore("q141", "attr-backlog", s, dir) { backlog =>
      Tables.events(s, dir)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .select("event_id", "event_time", "user_id", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(backlog)
    }
    val sinkName = s"q141_sink_${sessionTag("q141", s, dir)}_${Q141Runs.incrementAndGet()}"
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
  },
    // q141: the batch interval self-join the streamed Append result
    // must equal bit-for-bit — all comparisons at µs (Spark runs on
    // the loader's ns DIV 1000, DuckDB on native epoch_us; identical
    // by the events-ts convention), 4 h = 14 400 000 000 µs
    oracle =
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
        |ORDER BY view_id, purchase_id""".stripMargin)

  private def curationServeOracleSql: String =
    curationChainOracleSql(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3",
      batchPreds = Seq("doc_id % 4 = 3"), withBatchCol = false)

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
  query("q147_curation_serve", (s, dir) => {
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
  },
    // q147: artifact training on history + frozen batch serving, END
    // TO END — the store between them is read-invisible
    oracle = curationServeOracleSql)

  private def curationAuditOracleSql: String = {
    val (body, _) = curationChainBody(
      histDocPred = "doc_id % 4 != 3", histVecPred = "vec_id % 4 != 3",
      testPred = "doc_id % 4 = 3", batchPreds = Seq("doc_id % 4 = 3"))
    body + curationAuditTail("", "doc_id % 4 = 3", "TRUE")
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
  query("q155_curation_audit", (s, dir) => {
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
  },
    // q155: same chain CTEs as q147, audit tail — per-doc first-
    // failing-stage disposition replayed through one derivation
    oracle = curationAuditOracleSql)

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
  query("q159_lexical_lane", (s, dir) => {
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
  },
    // q159: the q147 chain with BOTH lanes selected — full chain on
    // the vectored lane, 3-stage lexical chain (null cluster) on the
    // vectorless one
    oracle = curationLexicalOracleSql)

  private def curationStreamOracleSql: String =
    curationChainOracleSql(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 4 = 3"),
      withBatchCol = true)

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
  query("q149_curation_stream", (s, dir) => {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val path = sessionStore("q149", "curstream", s, dir) { path =>
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
  },
    // q149: training + batch-1 serve + absorption + batch-2 serve
    // against history ∪ batch-1 survivors, ONE statement — the stream
    // store's accumulation replayed (its storage is read-invisible)
    oracle = curationStreamOracleSql)

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
  query("q160_lexical_stream", (s, dir) => {
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
  },
    // q160: the two-round stream chain, both lanes per round — lane-on
    // absorption (lexical survivors' hashes fence later exact copies)
    // replayed end to end
    oracle = curationLexStreamOracleSql)

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

  /** Per-doc audit in the STREAM setting (q155 × q160): batch 2 of the
    * lane-on crawl loop audited against the ACCUMULATED store — history
    * hashes now include batch 1's survivors from BOTH lanes, so
    * `exact_dup_history` can name a batch-1 LEXICAL survivor as the
    * reason (lane-crossing provenance nothing else certifies), and the
    * vectorless arm resolves through the lane ('quality' /
    * 'vectorless_curated'). Same frozen primitives, same batchCut
    * fence, same access paths as the serve q160 measures. */
  query("q161_stream_audit", (s, dir) => {
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
  },
    // q161: audit tail over round 2 of the lane-on stream chain —
    // exact_dup_history replays lane-crossing dedup provenance
    oracle = curationStreamAuditOracleSql)

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
  query("q150_curation_fold", (s, dir) => {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def slice(df: DataFrame, m: Int, r: Int) =
      df.filter(col("doc_id") % m === r)
    val path = sessionStore("q150", "curfold", s, dir) { path =>
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
  },
    // q150: the 3-round chain with the fold NOWHERE in it — the fold
    // between batches 2 and 3 must be invisible to every later serve
    oracle = curationChainOracleSql(
      histDocPred = "doc_id % 4 <= 1", histVecPred = "vec_id % 4 <= 1",
      testPred = "doc_id % 4 >= 2",
      batchPreds = Seq("doc_id % 4 = 2", "doc_id % 8 = 3", "doc_id % 8 = 7"),
      withBatchCol = true))

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
  query("q154_epoch_swap", (s, dir) => {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val root = sessionStore("q154", "curepoch", s, dir) { root =>
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
  },
    // q154: the two epochs replayed as two INDEPENDENT serve chains —
    // epoch 1's history is exactly the retrain corpus, so any pre-swap
    // state leaking across the swap (old centroids, hash log, NB/BPE/
    // DSIR tables) would hash-mismatch. Nested-WITH subqueries keep the
    // two chains' CTE namespaces apart.
    oracle = {
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
    })

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
  query("q158_epoch_fold", (s, dir) => {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val root = sessionStore("q158", "curefold", s, dir) { root =>
      def epochOn(docPred: org.apache.spark.sql.Column,
                  vecPred: org.apache.spark.sql.Column, epoch: Long): Unit =
        CurationEpochs.initEpoch(
          d.filter(docPred), e.filter(vecPred),
          "doc_id", "embedding", "lang", "text",
          k = KmeansK, iters = KmeansIters,
          numMerges = BpeMerges, maxWords = BpeMaxWords,
          dsirTarget = col("source").isin("src0", "src1"),
          dsirBuckets = 256, root = root, epoch = epoch, seed = SampleSeed)
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
  },
    // q158: three independent serve chains (the q154 pattern, one per
    // epoch) — the fold between epochs 2 and 3 must be invisible, so
    // the oracle replays the chain with no idea the archived epoch's
    // rows now come from the consolidated archive
    oracle = {
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
    })
}
