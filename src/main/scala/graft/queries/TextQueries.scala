package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Packing, Sampling, Stats, TextOps, Vocab}
import graft.streaming.CurationEpochs

import Shared._

/** Text, quality, naive-Bayes and BPE: per-document signals, tokenizers
  * and classifiers. */
object TextQueries extends QueryFamily {

  private val nbPredCtesBody: String =
    nbPredCtesFor("doc_id % 4 != 3", "doc_id % 4 = 3")

  private val nbPredCtes: String = "WITH " + nbPredCtesBody

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

  /** Language-ID heuristic (marker-token argmax). */
  query("q15_langid", (s, dir) =>
    TextOps.languageId(Tables.documents(s, dir), "doc_id", "text")
      .select("doc_id", "lang_pred", "lang_score")
      .orderBy("doc_id"),
    oracle = langidOracle)

  /** Quality-scoring features + composite score. */
  query("q16_quality", (s, dir) =>
    TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
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
        |FROM f ORDER BY doc_id""".stripMargin)

  /** Token counting: whitespace + BPE-ish sub-tokens. */
  query("q17_token_counts", (s, dir) =>
    TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
      """SELECT doc_id,
        |       len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** Whole-document rolling polynomial fingerprint. */
  query("q18_doc_fingerprint", (s, dir) =>
    TextOps.docFingerprint(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_concat([0::BIGINT],
         |           list_transform(string_split(text, ' '),
         |             t -> ${sqlHash60("t")} % $P)),
         |         (a, b) -> (a * ${TextOps.FpBase} + b) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)

  /** Winnowed fingerprint set (MOSS-style window minima). */
  query("q19_winnow_fingerprints", (s, dir) =>
    TextOps.winnowedFingerprints(Tables.documents(s, dir), "doc_id", "text",
        n = 3, w = 4)
      .orderBy("doc_id", "fingerprint"),
    oracle =
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |g AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
         |h AS (SELECT doc_id, i, ${sqlHash60("s")} % $P AS h FROM g),
         |m AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f FROM h)
         |SELECT DISTINCT doc_id, f AS fingerprint
         |FROM m ORDER BY doc_id, fingerprint""".stripMargin)

  /** TF-IDF top-5 terms per document (rounded-score ranking). */
  query("q43_tfidf_topterms", (s, dir) =>
    TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank"),
    oracle =
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
        |ORDER BY doc_id, "rank"""".stripMargin)

  /** Benchmark-contamination check: every 100th document plays the
    * "eval suite"; each doc scores the fraction of its 3-gram shingles
    * found anywhere in that probe set (broadcast — a benchmark is tiny
    * next to a pre-training corpus). */
  query("q44_contamination", (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextOps.contamination(docs, "doc_id", "text",
        probes = docs.filter(col("doc_id") % 100 === 0), n = 3)
      .orderBy("doc_id")
  },
    // same hashed-shingle-vs-string convention q10 proved out; DuckDB
    // prunes the shared CTE's unused `inter` branch
    oracle =
      s"""WITH $shingleCte,
         |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
         |hits AS (SELECT a.doc_id, count(*) AS c
         |         FROM sh a JOIN probe p ON a.s = p.s GROUP BY 1)
         |SELECT z.doc_id, round(coalesce(h.c, 0) * 1.0 / z.n, 6) AS contamination
         |FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
         |ORDER BY z.doc_id""".stripMargin)

  /** Sequence packing: shard by doc_id % 8, contiguous-fill bins with a
    * 2048-token budget over whitespace token counts. */
  query("q45_seq_packing", (s, dir) =>
    Packing.packSequences(
        TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
            col("ws_tokens")),
        shardCol = "shard", idCol = "doc_id", tokensCol = "ws_tokens",
        budgetTokens = 2048L)
      .orderBy("doc_id"),
    // prefix cast ::BIGINT — DuckDB's windowed sum yields HUGEINT, which
    // pandas would render as float and fail the exact compare
    oracle =
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
        |FROM p ORDER BY doc_id""".stripMargin)

  /** PII scrub over deterministic contact strings built from the
    * customer fixture (name-derived email + an 8-digit account run):
    * emails and long digit runs are counted, then redacted. */
  query("q52_redact_pii", (s, dir) => {
    val contact = concat(lower(col("c_name")), lit("@example.com ph "),
      lpad(((col("c_custkey") * 7919L) % 100000000L).cast("string"), 8, "0"),
      lit(" "), col("c_mktsegment"))
    TextOps.redactPii(
        Tables.customer(s, dir).select(col("c_custkey"), contact.as("contact")),
        "c_custkey", "contact")
      .orderBy("c_custkey")
  },
    oracle = {
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
    })

  /** Canonical text normalization (the exactDedup canon, standalone):
    * certifies the string pipeline byte-for-byte across engines. */
  query("q53_normalize", (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm_text"))
      .orderBy("doc_id"),
    oracle =
      """SELECT doc_id,
        |       regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** Per-document 3-gram repetition signal. */
  query("q54_repetition", (s, dir) =>
    TextOps.repetitionScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
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
        |ORDER BY d.doc_id""".stripMargin)

  /** Context-window chunking: 32-token chunks overlapping by 8. */
  query("q55_chunking", (s, dir) =>
    TextOps.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx"),
    oracle =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, w,
        |        unnest(generate_series(1, least(len(w), greatest(len(w) - 8, 1)), 24)) AS s
        |      FROM d)
        |SELECT doc_id,
        |       ((s - 1) // 24)::BIGINT AS chunk_idx,
        |       array_to_string(w[s:s+31], ' ') AS chunk_text,
        |       least(32, len(w) - s + 1)::BIGINT AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Winsorize event values to each type's [p05, p95] band. */
  query("q56_winsorize", (s, dir) =>
    Stats.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", pLo = 0.05, pHi = 0.95)
      .select("event_id", "event_type", "value", "clipped")
      .orderBy("event_id"),
    oracle =
      """WITH q AS (
        |  SELECT event_type,
        |         round(quantile_cont(value, 0.05), 6) AS lo,
        |         round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |       least(greatest(value, lo), hi) AS clipped
        |FROM events e JOIN q ON e.event_type IS NOT DISTINCT FROM q.event_type
        |ORDER BY event_id""".stripMargin)

  /** Heavy-hitter tokens per source: the custom Misra-Gries mergeable
    * aggregate (k=100 counters) audited in-query against exact counts —
    * every token above 4% of its source's token mass, with the sketch's
    * completeness flag (provably TRUE since 25 ≤ k). */
  query("q65_heavy_tokens", (s, dir) =>
    TextOps.heavyTokens(Tables.documents(s, dir), "source", "text",
        k = 100, reportFrac = 25)
      .orderBy("source", "item"),
    // the sketch's own output is merge-tree-specific; the exact heavy
    // set and the MG completeness guarantee are portable, so mg_found
    // oracles as constant TRUE (Misra-Gries: freq > n/k survives)
    oracle =
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS item FROM documents),
        |tot AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
        |cnt AS (SELECT source, item, count(*) AS exact_count
        |        FROM tok GROUP BY source, item)
        |SELECT c.source, c.item, c.exact_count, TRUE AS mg_found
        |FROM cnt c JOIN tot t USING (source)
        |WHERE c.exact_count * 25 > t.n
        |ORDER BY source, item""".stripMargin)

  /** Corpus vocabulary ([[Vocab.vocabulary]]): token counts over
    * `documents`, sub-`minCount` tail dropped, dense 1-based ids in
    * (cnt DESC, token ASC) order. The global rank is DECOMPOSED —
    * cumulative offsets over a (cnt, token-prefix) bucket histogram +
    * in-bucket row_number — so no task ever windows the whole
    * vocabulary; the only single-partition window runs over the
    * metadata-sized histogram (pinned in PlanContractSpec). Oracle =
    * the naive single-window row_number, certifying the decomposition
    * law end-to-end. */
  query("q77_vocabulary", (s, dir) =>
    Vocab.vocabulary(Tables.documents(s, dir), "text", minCount = 2L)
      .orderBy("vocab_id"),
    // the decomposed histogram-offset rank must equal the naive
    // single-window row_number over the same (cnt DESC, token) order
    oracle =
      """SELECT token, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id
        |FROM (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents)
        |      WHERE len(token) > 0
        |      GROUP BY token)
        |WHERE cnt >= 2
        |ORDER BY vocab_id""".stripMargin)

  /** Incremental vocabulary maintenance ([[Vocab.tokenCountState]] /
    * mergeTokenCountState / vocabularyFromState): history and an
    * arriving batch are counted SEPARATELY, the mergeable states are
    * summed, and only the merged state — vocabulary-sized, not
    * corpus-sized — is re-ranked. Token counting runs once per slice;
    * history text is never recounted on refresh (q74/q76's state
    * discipline applied to q77's operator). Oracle = the from-scratch
    * recount + naive global rank: the merge ≡ recompute law end-to-end. */
  query("q79_incremental_vocab", (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 3 === 0
    val history = Vocab.tokenCountState(docs.filter(!isNew), "text")
    val batch = Vocab.tokenCountState(docs.filter(isNew), "text")
    Vocab.vocabularyFromState(
        Vocab.mergeTokenCountState(Seq(history, batch)), minCount = 3L)
      .orderBy("vocab_id")
  },
    // merged per-batch count states re-ranked must equal the
    // from-scratch recount (merge ≡ recompute, q74's law for q77's op)
    oracle =
      """SELECT token, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, token) AS vocab_id
        |FROM (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents)
        |      WHERE len(token) > 0
        |      GROUP BY token)
        |WHERE cnt >= 3
        |ORDER BY vocab_id""".stripMargin)

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
  query("q116_bpe_merges", (s, dir) => {
    val merges = TextOps.bpeLearnMerges(Tables.documents(s, dir), "text",
      BpeMerges, BpeMaxWords)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }.toSeq
      .toDF("rank", "left", "right")
      .orderBy("rank")
  },
    // q116-q118: the BPE trainer unrolled (32 chained merge steps);
    // counts are integers and every tie has a total order, so the
    // whole model — and everything budgeted in its tokens — replays
    // bit-exact
    oracle = (bpeChainSql(BpeMerges, BpeMaxWords) +
      ",\nmm AS (" + (1 to BpeMerges).map(r =>
        s"""SELECT ${r - 1}::BIGINT AS rank, l AS "left", r AS "right" FROM b$r""")
        .mkString("\nUNION ALL\n") +
      ")\nSELECT rank, \"left\", \"right\" FROM mm ORDER BY rank"))

  /** Learned-BPE token accounting ([[TextOps.bpeTokenCounts]]): every
    * document's token count under the q116 model — the unit a real
    * training-data pipeline budgets in (whitespace tokens under-count
    * sub-word models). Encoding applies the merges in rank order via
    * ONE codegen'd call per row (frozen model as a plan constant — no
    * explode, no shuffle); the oracle counts each dictionary word's
    * final symbols in the unrolled training state, equal to the
    * encode by the train-state ≡ encode law (BpeSpec). */
  query("q117_bpe_tokens", (s, dir) => {
    val d = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(d, "text", BpeMerges, BpeMaxWords)
    TextOps.bpeTokenCounts(d, "doc_id", "text", merges)
      .orderBy("doc_id")
  },
    oracle = (bpeDocCountsSql(BpeMerges, BpeMaxWords) + """
      |SELECT doc.doc_id, coalesce(dcnt.bpe_tokens, 0)::BIGINT AS bpe_tokens
      |FROM documents doc LEFT JOIN dcnt USING (doc_id)
      |ORDER BY doc.doc_id""".stripMargin))

  /** Token-budget mix in BPE tokens ([[Sampling.budgetTake]] over
    * q117's counts): q61's per-source budgeted take re-run in the
    * budget unit that matters — documents admitted in seeded-hash
    * order until each source's BPE-token budget is spent. Same
    * monotone prefix-take machinery; only the measure changed. */
  query("q118_bpe_budget_mix", (s, dir) => {
    val d = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(d, "text", BpeMerges, BpeMaxWords)
    val docs = TextOps.bpeTokenCounts(d, "doc_id", "text", merges)
      .join(d.select("doc_id", "source"), "doc_id")
    Sampling.budgetTake(docs, "source", "doc_id", "bpe_tokens",
        BpeMixDefaultBudget, BpeMixBudgets, SampleSeed)
      .select("doc_id", "source", "bpe_tokens")
      .orderBy("doc_id")
  },
    oracle = (bpeDocCountsSql(BpeMerges, BpeMaxWords) + s""",
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
      |ORDER BY doc_id""".stripMargin))

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
  query("q120_tokenizer_drift", (s, dir) => {
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
  },
    // q120: two models trained in ONE statement (namespaced chains —
    // frozen learns from three data quarters, retrained from all);
    // both encode the full vocabulary (freq-0 ride-along words), then
    // per-source integer fertility in basis points
    oracle = ("WITH " +
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
      |FROM per ORDER BY source""".stripMargin))

  /** LM quality scoring ([[TextOps.bigramLmScores]]): corpus-trained
    * add-one bigram model, per-doc log-likelihood — the perplexity
    * filter of the CCNet recipe with the model AS a table (two counting
    * aggregates), never driver state. Rounded-ln + DECIMAL sums keep
    * the scores engine-exact. */
  query("q100_bigram_lm", (s, dir) =>
    TextOps.bigramLmScores(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"),
    oracle =
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
        |FROM sc ORDER BY doc_id""".stripMargin)

  /** Temperature-rebalanced source mix ([[Sampling.temperatureSample]]):
    * the UniMax-family α=0.5 rule — sample shares ∝ √(source token
    * mass), flattening the head so low-resource sources punch above
    * their raw weight. Output is the per-source audit: full-corpus
    * size, the derived integer threshold, and what survived. Exact
    * end to end (integer sums, correctly-rounded √, decimal
    * normalizer, floored thresholds), so the oracle replays the whole
    * derivation. */
  query("q103_temperature_mix", (s, dir) => {
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
  },
    oracle =
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
        |ORDER BY rt.source""".stripMargin)

  /** Dataset card / per-source corpus report: the audit table a
    * curation pipeline publishes with every release — size, token
    * mass, exact-dup rate, language mix with dominant language, char-
    * length envelope and exact lower-median. Composes the counting,
    * distinct, argmax, dedup and order-statistic machinery in ONE
    * query; everything integer/string-exact. The per-source median
    * window is the q46 exact-order-statistic shape (bounded group
    * count; the mergeable-sketch variant is the unbounded path). */
  query("q104_corpus_report", (s, dir) => {
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
  },
    // q103: the temperature-mix derivation replayed — integer token
    // sums, 6dp-rounded IEEE sqrt, decimal normalizer (VARCHAR-cast to
    // double to match Spark's decimal→double), the same fixed
    // operation order for the rate, floored integer thresholds, and
    // the portable-hash membership rule
    // q104: the dataset card replayed — counts, distincts, argmax,
    // dup rate and the exact lower-median order statistic
    oracle =
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
        |ORDER BY ag.source""".stripMargin)

  /** Trained language/quality classifier ([[TextOps.nbTrainPredict]]):
    * multinomial Naive Bayes trained on the doc_id%4≠3 split, scored
    * on the held-out quarter, reported as the (true lang × predicted
    * lang) confusion matrix with exact count and min/max joint
    * log-likelihood — the learned-classifier arm next to q15's
    * n-gram heuristic (the CCNet/GPT-3 quality-filter shape: a linear
    * model over token counts, trained on a curated reference). Every
    * prediction is an exact-decimal argmax, so the confusion matrix —
    * not a tolerance band — is the oracle. */
  query("q122_nb_classifier", (s, dir) => {
    val d = Tables.documents(s, dir)
    val pred = TextOps.nbTrainPredict(
      d.filter(col("doc_id") % 4 =!= 3), d.filter(col("doc_id") % 4 === 3),
      "doc_id", "lang", "text")
    pred.join(d.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy("lang", "pred")
  },
    // q122: the NB classifier replayed — integer counts, rounded-ln
    // likelihoods/floors/priors, DECIMAL sums, exact-decimal argmax
    // with ties to the smaller label; confusion over the held-out split
    oracle =
      (nbPredCtes +
      """
        |SELECT te.lang, p.pred, count(*)::BIGINT AS n_docs,
        |       min(p.score) AS min_score, max(p.score) AS max_score
        |FROM pred p JOIN te ON te.doc_id = p.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

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
  query("q123_weighted_quantiles", (s, dir) => {
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
  },
    // q123: weighted quantile = smallest v whose cumulative integer
    // token weight reaches ⌈p·W⌉ — replayed as a distinct-value
    // cumulative sum (tie-safe: equal v collapse before the window)
    oracle =
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

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
  query("q146_nb_store", (s, dir) => {
    val d = Tables.documents(s, dir)
    val path = sessionStore("q146", "nbstore", s, dir) { path =>
      TextOps.writeNbModel(d.filter(col("doc_id") % 4 =!= 3),
        "lang", "text", path)
    }
    TextOps.scoreNbBatch(s, path, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text")
      .orderBy("doc_id")
  },
    // q146: the SAME training + scoring replay — the parquet model
    // store between them is read-invisible (every stored number is an
    // exact integer or DECIMAL(18,6)), the q140/q127 oracle-reuse
    // discipline applied to the classifier lifecycle
    oracle =
      (nbPredCtes +
      """
        |SELECT doc_id, pred, score FROM pred ORDER BY doc_id""".stripMargin))

  /** Margin-calibration audit of the quality classifier
    * ([[TextOps.nbScoreMargin]]): the held-out quarter scored by the
    * q122 split's NB model, confidence proxied by the EXACT top-2
    * log-score margin (a softmax posterior is cross-engine float
    * soup; the DECIMAL difference is bit-exact), binned at 0.25
    * log-units in scaled-integer arithmetic, per-bin empirical
    * accuracy — the reliability table that says whether "margin ≥ X"
    * is a trustworthy auto-accept gate for the curation pipeline. */
  query("q169_nb_calibration", (s, dir) => {
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
  },
    // q169: the q122-split NB chain's per-class scores reduced to the
    // top-2 margin, binned in scaled integers; per-bin accuracy
    oracle =
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
        |FROM lbl GROUP BY bin ORDER BY bin""".stripMargin))

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
  query("q171_vocab_growth", (s, dir) => {
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
  },
    // q171: doc_id-order deciles; per decile BIGRAM occurrences,
    // first-seen bigrams, and the running vocabulary
    oracle =
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
        |ORDER BY decile""".stripMargin)

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
  query("q151_nb_drift", (s, dir) => {
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
  },
    // q151: two namespaced NB chains (frozen: trained on %4 != 3;
    // retrained: all docs), both scoring everything — integer
    // agreement/accuracy counts and floor-div drift in basis points
    oracle = ("WITH " +
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
      |GROUP BY 1 ORDER BY 1""".stripMargin))

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
  query("q157_drift_signal", (s, dir) => {
    val root = q156Root(s, dir)
    CurationEpochs.driftSignal(s,
      s"${CurationEpochs.epochPath(root, 0L)}/nb",
      Tables.documents(s, dir).filter(col("doc_id") % 4 <= 2),
      "doc_id", "lang", "text")
  },
    // q157: the gate's signal path alone — the same two namespaced NB
    // chains as q156, reduced to the one decision row (exact-integer
    // agreement, floor-div basis points)
    oracle = ("WITH " +
      nbPredCtesFor("doc_id % 4 <= 1", "doc_id % 4 <= 2", "f_") + ", " +
      nbPredCtesFor("doc_id % 4 <= 2", "doc_id % 4 <= 2", "r_") + """
      |SELECT count(*)::BIGINT AS n_docs,
      |       sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END)::BIGINT
      |         AS n_agree,
      |       ((count(*) - sum(CASE WHEN f.pred = r.pred THEN 1 ELSE 0 END))
      |        * 10000 // count(*))::BIGINT AS drift_bp
      |FROM f_pred f JOIN r_pred r USING (doc_id)""".stripMargin))

  /** Equi-depth histogram ([[Stats.equiDepthHistogram]]): 8
    * quantile-boundary bins of event values per event type — the
    * balanced-bin profile where q47's fixed-width bins collapse under
    * skew. Edges are exact order statistics at ⌈j·n/8⌉ (two-phase
    * path, no data-sized window); assignment is a broadcast
    * projection; a row at an edge falls left in both engines. */
  query("q125_equidepth_hist", (s, dir) =>
    Stats.equiDepthHistogram(
        Tables.events(s, dir).where(col("value").isNotNull),
        "event_type", "value", bins = 8)
      .orderBy("event_type", "bin"),
    // q125: equi-depth bins — edges = exact order statistics at
    // ⌈j·n/8⌉ (distinct-value cumulative replay), bin(v) = #edges < v
    // (edge rows fall left in both engines), empty bins absent
    oracle =
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
        |ORDER BY 1, 2""".stripMargin)
}
