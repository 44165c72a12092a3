package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextOps}
import graft.streaming.CurationEpochs

/** Helpers and constants that more than one query family uses: the
  * crash-safe store builders, the shared seeds and model sizes, and the
  * oracle-side SQL fragments several families replay. */
private[queries] object Shared {

  /** A tag unique to (`key`, sf dir, Spark application), for scratch
    * names that must not outlive the session: a catalog table, a memory
    * sink, a [[sessionStore]] path. */
  def sessionTag(key: String, s: SparkSession, dir: String): String =
    (math.abs(scala.util.hashing.MurmurHash3.stringHash(
      key + dir + s.sparkContext.applicationId)) % 1000000).toString

  /** The session's `graft-<kind>-<tag>` store under `java.io.tmpdir`,
    * built by `build(path)` once per session; returns the path.
    *
    * Crash-safe (round-19 advice, generalized from the q190 finding):
    * guarding a MULTI-STEP build on bare path existence means a rep
    * after a mid-build failure (step 1 created the dir, step 2 died)
    * silently serves a half-built store — wrong results, no error. The
    * `_DONE` marker is written only after the whole build block
    * returns; a marker-less dir is torn down and rebuilt.
    * Underscore-prefixed files are invisible to the parquet readers, so
    * the marker never pollutes a store scan. */
  def sessionStore(key: String, kind: String, s: SparkSession, dir: String)(
      build: String => Unit): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-$kind-${sessionTag(key, s, dir)}"
    val marker = new java.io.File(path, "_DONE")
    if (!marker.exists()) {
      val d = new java.io.File(path)
      if (d.exists()) Engine.rmTree(d)
      build(path)
      marker.createNewFile()
    }
    path
  }

  /** `events.ts` (Long nanos) truncated to micros — DuckDB truncates
    * ns-parquet to its µs TIMESTAMP on read, so µs is the precision both
    * engines share. */
  def tsUs = expr("ts DIV 1000")

  val SampleSeed = "graft-mix"
  val BpeMerges = 32
  val BpeMaxWords = 100000
  val BpeMixDefaultBudget = 2400L
  val BpeMixBudgets = Map("src0" -> 15000L, "src1" -> 0L)
  val KmeansK = 8
  val KmeansIters = 3
  val SemThrNum = 49L // threshold² = 49/400 ⇒ cosine ≥ 0.35
  val SemThrDen = 400L
  val SemCap = 48L

  /** The q147/q155 shared frozen store (built once per JVM — sharing is
    * the production contract: artifacts are frozen, every consumer reads
    * the same ones). */
  def q147Store(s: SparkSession, dir: String): String =
    sessionStore("q147", "curstore", s, dir) { path =>
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

  /** The q156/q157 shared gate root (built once per JVM, the q147Store
    * convention): epoch 0 trained on the %4 ≤ 1 history, then the two
    * gates run against the grown %4 ≤ 2 corpus. */
  def q156Root(s: SparkSession, dir: String): String = {
    val d = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    sessionStore("q156", "curgate", s, dir) { root =>
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
  }

  /** DuckDB 60-bit md5 hash — must mirror TextOps.hash60 exactly. */
  def sqlHash60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Distinct 8-gram hash set of a (doc_id, text) source — CTEs
    * `<p>arr/<p>occ/<p>gs`; mirrors [[SpanDedup.gramStarts]]'
    * generate + [[TextOps.hash60]]. */
  def spanGramSet(p: String, src: String,
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
  def phashCtesFor(p: String, pred: String,
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

  /** One [[SpanDedup.serveSpanCut]] round as CTEs (`<p>out` is the
    * result): batch grams vs the `histG` gram-set CTE (any hit cuts)
    * ∪ the within-batch non-first rank, islands → positions → ordered
    * rebuild — the exact serve derivation, replayed per round. */
  def spanServeRound(p: String, batSrc: String,
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

  val P = TextOps.MinhashP

  /** Shared CTE: distinct word-3-gram shingles per doc. Positions come
    * from `generate_series(1, len(w) - 2)` — derived per document, so
    * no fixed cap can silently truncate when fixture docs grow (the
    * Spark side never had one). */
  val shingleCte =
    """d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d)),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  def jaccardOracle(threshold: Double, extraWhere: String = ""): String =
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
  def simhashCteFor(from: String): String = {
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

  val simhashCte: String = simhashCteFor("documents")

  /** The 10-token segment lattice CTE chain ending in
    * `seg(doc_id, i, s)` — shared by the q197/q199-q201 boilerplate
    * oracles. */
  val segLatticeCte: String =
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
  def segCutRound(p: String, histPred: String,
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

  /** Rounded cosine between two DOUBLE[] lists — the exact convention
    * of the native kernel + round(…, 6) used by every ANN query. */
  def sqlCosine(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** [[planeCoeffCte]] with a data-derived plane count: `totalPlanes` is
    * any scalar SQL expression (DuckDB's range() rejects subquery
    * bounds, but scalar generate_series + unnest accepts them — the
    * auto-sized q51 oracle derives its plane count from count(*)). */
  def planeCoeffCteDyn(totalPlanes: String): String = {
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
  def nbPredCtesFor(trainPred: String, testPred: String,
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
  def bpeChainCtes(m: Int, w: Int, learnPred: String,
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
  def kmeansOracleCtes(k: Int, iters: Int,
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

  /** The SemDeDup tail shared by q121 (fixture embeddings) and q129
    * (media embeddings): q110's cap replay over `fa` + the integer
    * pair decision over `vzall` — everything an exact BIGINT. */
  def semPairsTailSql: String =
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
  def curationRoundCtes(p: String, batchPred: String,
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
  def curationChainBody(histDocPred: String,
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

  /** The sem-store probe replay shared by q127 (batch-layout build+append)
    * and q140 (stream-layout build+fold): train on the build slice
    * only, route members (%4 != 3) and the probe batch (%4 = 3)
    * through the frozen centroids, cap both sides, integer pair
    * decision. The two stores hold identical member CONTENT in
    * different layouts, so one replay certifies both lifecycles —
    * and the fold, which must be invisible to every read. */
  lazy val semStoreProbeOracleSql: String =
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

  def bruteAnnSqlOver(queryPred: String): String =
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

  val bruteAnnSql = bruteAnnSqlOver("vec_id % 50 = 0")
}
