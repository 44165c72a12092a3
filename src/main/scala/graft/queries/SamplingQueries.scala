package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, TextOps}

import Shared._

/** Sampling and DSIR: deterministic samples, budgeted mixes and
  * importance resampling. */
object SamplingQueries extends QueryFamily {

  private val SampleRate = 0.1

  /** Deterministic hash-Bernoulli sample of events: membership is a
    * pure function of (event_id, seed) — reproducible across runs,
    * engines, and re-partitionings; shuffle-free filter. */
  query("q41_hash_sample", (s, dir) =>
    Sampling.hashSample(
        Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        "event_id", SampleRate, SampleSeed)
      .select("event_id", "user_id", "event_type", "value", "ts_us")
      .orderBy("event_id"),
    // the same salted 60-bit hash both engines compute; the threshold is
    // one driver-computed integer literal so there is no float to drift
    oracle =
      s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
         |FROM events
         |WHERE ('0x' || substr(md5(event_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT
         |      < ${Sampling.threshold(SampleRate)}
         |ORDER BY event_id""".stripMargin)

  /** Exact stratified sample with per-stratum training-mix weights:
    * 20% of clicks, 5% of everything else, exact quota per stratum. */
  query("q42_stratified_sample", (s, dir) =>
    Sampling.stratifiedSample(
        Tables.events(s, dir).withColumn("ts_us", tsUs).drop("ts"),
        stratumCol = "event_type", idCol = "event_id",
        defaultFrac = 0.05, fracs = Map("click" -> 0.2), seed = SampleSeed)
      .select("event_id", "user_id", "event_type", "value", "ts_us")
      .orderBy("event_id"),
    // fractions forced to ::DOUBLE — DuckDB decimal literals would take
    // exact decimal math where Spark rounds through IEEE doubles, and
    // ceil() would disagree whenever frac·n lands on an integer
    oracle =
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
         |ORDER BY event_id""".stripMargin)

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

  /** Training-mix corpus prep end-to-end as ONE driver query — the
    * LLM-pipeline analogue of q58's incremental loop: a staged second
    * crawl (byte-identical copies of every 10th doc at doc_id+100000,
    * the classic re-crawl duplicate) is unioned with the corpus, then
    * [[TextOps.trainingMixChunks]] runs quality gate (= 1.0) → language
    * keep (en) → keep-first exact dedup (every re-crawl copy collapses
    * onto its original; min doc_id wins) → 32/8 context-window chunking.
    * One shuffle end to end; every stage is the same expression the
    * individually-oracled q16/q15/q09/q55 queries certify. */
  query("q60_training_mix", (s, dir) => {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val recrawl = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))
    TextOps.trainingMixChunks(docs.unionByName(recrawl), "doc_id", "text",
        minQuality = 1.0, keepLangs = Seq("en"), chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")
  },
    oracle = trainingMixOracle)

  private val MixDefaultBudget = 800L
  private val MixBudgets = Map("src0" -> 5000L, "src1" -> 0L)

  /** Token-budget mix: per-source token budgets (the "N tokens of web,
    * M of code" pre-training mix spec) taken in deterministic hash
    * order via the two-phase skew-proof prefix take — 800 tokens of
    * every source, 5000 of src0, none of src1. */
  query("q61_token_budget_mix", (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("ws_tokens",
        size(TextOps.tokens(col("text"))).cast("long"))
    Sampling.budgetTake(docs, "source", "doc_id", "ws_tokens",
        MixDefaultBudget, MixBudgets, SampleSeed)
      .select("doc_id", "source", "ws_tokens")
      .orderBy("doc_id")
  },
    // prefix-take in (hash, id) order: cumulative tokens ≤ the per-source
    // budget; same driver-side literals as the Spark plan
    oracle =
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
         |ORDER BY doc_id""".stripMargin)

  /** Deterministic train/val/test split assignment ([[Sampling
    * .splitAssign]]): a pure projection — every id's split is a
    * function of its engine-portable hash alone, so the assignment
    * survives re-partitioning, retries, corpus growth, and re-reads
    * from any engine (the DuckDB oracle reproduces it bit-for-bit from
    * the same md5 arithmetic). No shuffle anywhere. */
  query("q80_split_assign", (s, dir) =>
    Sampling.splitAssign(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), SampleSeed)
      .orderBy("doc_id"),
    // bit-for-bit portable split: same md5-prefix hash, same integer
    // interval edges
    oracle = {
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
    })

  /** Per-source frequency cap ([[Sampling.stratumCap]]): at most N
    * documents per source, smallest (hash, id) kept — the "no single
    * domain dominates the corpus" pass. Overrides exercise all paths:
    * src3 capped above its size (keeps everything), src7 capped at 0
    * (drops entirely), everyone else at the default. */
  query("q82_source_cap", (s, dir) =>
    Sampling.stratumCap(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", defaultCap = 10L,
        caps = Map("src3" -> 100L, "src7" -> 0L), seed = SampleSeed)
      .orderBy("doc_id"),
    // cap = keep the rows ranked ≤ cap in (hash, id) order per source;
    // rn ≤ cap ≡ rn ≤ least(n, cap) since rn never exceeds n
    oracle =
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '$SampleSeed'), 1, 15))::BIGINT,
         |                    doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= CASE source WHEN 'src3' THEN 100
         |                        WHEN 'src7' THEN 0
         |                        ELSE 10 END
         |ORDER BY doc_id""".stripMargin)

  /** Priority sampling ([[Sampling.prioritySample]], Duffield–Lund–
    * Thorup): a fixed-size weight-sensitive audit sample of the
    * document corpus, weighted by token count — the k kept rows plus
    * the τ-floored estimator answer any "tokens in slice X" question
    * unbiasedly without rescanning the corpus. Deterministic u from
    * the portable 60-bit hash; priority/τ/estimator are
    * division-and-compare only, so the oracle replays them
    * bit-for-bit. */
  query("q91_priority_sample", (s, dir) =>
    Sampling.prioritySample(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("toks")),
        "doc_id", "toks", k = 25, seed = SampleSeed)
      .orderBy("rank"),
    oracle =
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
         |FROM r, tau WHERE rank <= 25 ORDER BY rank""".stripMargin)

  /** DSIR importance resampling ([[Sampling.dsirSample]]): src0/src1
    * play the target domain, every other source is the raw pool, and
    * the 50 winners are drawn Gumbel-top-k proportional to their
    * hashed-unigram importance weight — the data-selection recipe for
    * "make the pretraining mix look like the domain I care about".
    * Audit columns carry the whole chain (token count, decimal score,
    * Gumbel, key); the oracle replays bucket LMs, rounded-ln weights,
    * decimal sums and the keyed order. */
  query("q142_dsir_sample", (s, dir) =>
    Sampling.dsirSample(Tables.documents(s, dir),
        "doc_id", "source", "text",
        targetPred = col("source").isin("src0", "src1"),
        buckets = 256, k = 50, seed = SampleSeed)
      .orderBy("rank"),
    // q142: the DSIR chain replayed — hashed-bucket unigram LMs
    // (portable md5 mod 256), add-one smoothing, round-6 ln weights
    // differenced as DECIMAL, per-doc decimal sums, 6-digit-folded
    // Gumbel keys, (key, id)-ordered top-50 over non-target docs
    oracle =
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
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin)

  /** DSIR with the production train/serve split ([[Sampling.dsirSample]]
    * `trainPred`): both bucket LMs estimate from the doc_id % 4 ≤ 2
    * slice only — train once on a sample — and EVERY pool document,
    * the held-out quarter included, is scored through the frozen
    * weight table (a bucket the train slice never hit scores at the
    * zero-count smoothed weight). The q109/q138 frozen-model
    * discipline applied to data selection; the oracle replays the
    * sliced LMs, the full-spine weight table and the frozen scoring. */
  query("q143_dsir_split", (s, dir) =>
    Sampling.dsirSample(Tables.documents(s, dir),
        "doc_id", "source", "text",
        targetPred = col("source").isin("src0", "src1"),
        buckets = 256, k = 50, seed = SampleSeed,
        trainPred = pmod(col("doc_id"), lit(4)) <= 2)
      .orderBy("rank"),
    // q143: q142 with both LMs estimated on the doc_id % 4 <= 2 slice
    // and every pool doc frozen-scored through the full 256-bucket
    // spine (zero-count smoothing for buckets the slice never hit)
    oracle =
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
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin)

  /** Persisted DSIR model + batch serving ([[Sampling.writeDsirWeights]]
    * / [[Sampling.scoreDsirBatch]]): q143's weight table trained once
    * on the doc_id % 4 ≤ 2 slice and written as a 256-row parquet
    * artifact, then the UNSEEN %4 = 3 batch scored against the stored
    * model — no target labels, no training corpus on the serve side,
    * the q83/q132 artifact discipline applied to data selection. The
    * oracle replays the sliced LMs and frozen-scores exactly the
    * serving batch. */
  query("q144_dsir_store", (s, dir) => {
    val d = Tables.documents(s, dir)
    val path = sessionStore("q144", "dsirstore", s, dir) { path =>
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
  },
    // q144: q143's sliced LMs (train = doc_id % 4 <= 2) serving the
    // UNSEEN %4 = 3 batch from the stored weight table — per-doc
    // scores are identical to q143's, so the replay just restricts
    // the candidates to the serving batch and takes top-20
    oracle =
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
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin)
}
