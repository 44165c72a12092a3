package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Packing, SpanDedup, TextOps}
import graft.streaming.SpanStream

import Shared._

/** Span and content-defined-chunk dedup: exact-substring spans, CDC
  * chunks and decontamination. */
object SpanQueries extends QueryFamily {

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

  /** Duplicated-passage removal ([[TextOps.removeDuplicatedBlocks]]):
    * repeated 16-token blocks keep only their first corpus occurrence,
    * documents rebuilt from surviving blocks. The passage-level sibling
    * of q09's doc-level exact dedup — sf0.01 has ~70 repeated block
    * texts across otherwise-distinct documents. */
  query("q81_dup_passages", (s, dir) =>
    TextOps.removeDuplicatedBlocks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", blockTokens = 16)
      .orderBy("doc_id"),
    // block grid + first-occurrence window + ordered rebuild, all
    // portable: same split, same inclusive slice, same (doc, block)
    // tie order
    oracle =
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
        |ORDER BY doc_id""".stripMargin)

  /** Maximal duplicated-span report ([[SpanDedup.duplicatedSpans]]):
    * stride-1 8-gram fingerprints + island merge find every cross-doc
    * repeated run of ≥ 8 tokens at ARBITRARY offsets — the recall
    * [[TextOps.removeDuplicatedBlocks]]'s block grid (q81) explicitly
    * trades away (a passage straddling two block boundaries reports
    * here as ONE exact-width span). sf0.01: 47 spans, 11–93 tokens,
    * none block-aligned. */
  query("q162_dup_spans", (s, dir) =>
    SpanDedup.duplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start"),
    // q162/q163: stride-1 8-gram fingerprints, shared CTE chain; the
    // oracle hashes with the same md5-60-bit kernel so even a
    // collision would fuse gram families identically in both engines
    oracle =
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
         |ORDER BY 1, 2""".stripMargin)

  /** Exact-substring span CUT ([[SpanDedup.cutDuplicatedSpans]]): the
    * action to q162's report — every non-first occurrence of a
    * duplicated 8-gram loses its covered tokens, docs rebuild from the
    * survivors, pure-boilerplate docs vanish (q81's convention). The
    * per-gram (doc, pos) rank makes the keeper deterministic at any
    * offset, not just on q81's block grid. */
  query("q163_span_cut", (s, dir) =>
    SpanDedup.cutDuplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8)
      .orderBy("doc_id"),
    oracle =
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
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Interleaved multimodal packing ([[Packing.packInterleaved]]): the
    * VLM-training layout — docs with media (doc_id % 4 = 0, the q59
    * condition) lead with a 64-token image placeholder, text follows
    * in 32-token chunks, and the item stream contiguous-fills
    * 256-token bins per source shard with within-doc order preserved.
    * `doc_straddles` marks the attention-mask boundary docs. Item
    * construction and both windows are per-shard/per-doc — nothing
    * global, the q45 scale rule. */
  query("q164_interleaved_pack", (s, dir) =>
    Packing.packInterleaved(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", "text",
        hasMedia = col("doc_id") % 4 === 0, imageTokens = 64L,
        chunkTokens = 32, budgetTokens = 256L)
      .orderBy("doc_id", "item_idx"),
    // q164: media item (cost 64) leads each %4=0 doc, 32-token text
    // chunks follow; exclusive prefix sum per source shard → bin
    oracle =
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
        |FROM b ORDER BY doc_id, item_idx""".stripMargin)

  /** Incremental span cut ([[SpanDedup.serveSpanCut]]): the batch
    * (doc_id % 4 = 3) cut against the FROZEN gram store of the other
    * three quarters — the 100 TB shape, where history's per-token gram
    * log never re-shuffles (bloom misses skip the store entirely, hits
    * verify through a hit-pruned exact semi-join). Store built once
    * per JVM (q66/q83 convention — the first bench rep pays it).
    * Oracle replays the exact serve derivation: history's distinct
    * gram set ∪ the within-batch non-first rank, islands, cut,
    * ordered rebuild. */
  query("q165_span_serve", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q165", "gramstore", s, dir) { path =>
      SpanDedup.writeGramStore(s, d.filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text", k = 8, path)
    }
    SpanDedup.serveSpanCut(s, path, d.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", k = 8)
      .orderBy("doc_id")
  },
    // q165: the incremental serve derivation replayed — history's
    // distinct gram set (any hit cuts: the curated copy always wins)
    // ∪ the within-batch non-first rank, then q163's islands →
    // positions → ordered rebuild over the batch alone
    oracle =
      s"""WITH hsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3),
         |bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
         |${spanGramSet("h", "hsrc")},
         |${spanServeRound("b", "bsrc", "hgs")}
         |SELECT doc_id, clean_text, n_kept FROM bout
         |ORDER BY doc_id""".stripMargin)

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
  query("q167_span_fold", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q167", "spanfold", s, dir) { path =>
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
  },
    // q167: the same chain + a third round — the oracle has NO idea
    // the gram store folded between batches 2 and 3 (read-invisibility
    // through the driver gate, the q150 discipline on the gram log)
    oracle =
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
         |ORDER BY doc_id""".stripMargin)

  /** Content-defined chunking ([[TextOps.chunkContentDefined]]):
    * token p ends a chunk when the 4-gram ending at p hashes ≡ 0
    * mod 16 — cut points are local content, so an edit moves only
    * nearby boundaries and chunk-level dedup survives crawl-snapshot
    * drift (the FastCDC property; stability law in TextOpsSpec).
    * Expected chunk ≈ 16 tokens vs q55's fixed 32-token grid. */
  query("q170_cdc_chunks", (s, dir) =>
    TextOps.chunkContentDefined(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 4, modulus = 16)
      .orderBy("doc_id", "chunk_idx"),
    // q170: boundary = 4-gram ending at the token ≡ 0 mod 16; chunk
    // index = exclusive running boundary count; ordered rebuild
    oracle =
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
         |ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Per-source span-duplication rate: q162's maximal-span report
    * rolled up to the corpus-health view — per source, the docs
    * carrying at least one cross-doc span, the duplicated token mass,
    * and its share of the source's total tokens in exact basis points
    * (spans are disjoint maximal runs, so the mass is a plain sum) —
    * the "which domain ships the boilerplate" dashboard row that
    * decides where [[SpanDedup.cutDuplicatedSpans]] runs first. */
  query("q180_span_dup_rate", (s, dir) => {
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
  },
    // q180: the q162 span chain rolled up per source — duplicated
    // token mass and its basis-point share in exact integers
    oracle =
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
         |FROM base GROUP BY source ORDER BY source""".stripMargin)

  /** Guarded span cut ([[SpanDedup.cutDuplicatedSpans]] with
    * `minSpanTokens = 24`): the production exact-substring default —
    * only repeats of 24+ tokens cut (q163 cuts everything ≥ 8), so
    * short recurring phrases survive while licenses/boilerplate go.
    * The guard filters maximal ISLANDS post-merge, never their short
    * sub-repeats. sf0.01: 487 docs / 25,945 tokens survive vs q163's
    * 486 / 25,911. */
  query("q179_span_cut_guarded", (s, dir) =>
    SpanDedup.cutDuplicatedSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8, minSpanTokens = 24)
      .orderBy("doc_id"),
    // q179: q163's chain with the island filter — only spans of 24+
    // tokens expand to cut positions
    oracle =
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
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Windowed PCM energy / VAD gate ([[Multimodal.pcmWindowEnergy]]):
    * every doc's payload rides the REAL wrap→RIFF-parse→plane chain
    * (q152's oracled identity) and the plane scores 16-sample windows
    * by exact integer energy Σ (sample − 128)²; `active` gates at
    * 40 000 — the silence-trim decision audio pipelines make before
    * transcription. Oracle replays from the text's UTF-8 bytes, which
    * the roundtrip law makes the plane's exact content. */
  query("q178_audio_energy", (s, dir) =>
    Multimodal.pcmWindowEnergy(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "audio"),
        sampleRate = 16000, windowSamples = 16, activeThreshold = 40000L)
      .orderBy("media_id", "window_idx"),
    // q178: the plane ≡ the text's UTF-8 bytes (q152's roundtrip law);
    // per-byte unsigned-PCM energy in exact integers, 16-sample
    // windows. The oracle is BYTE-indexed like the engine — encode()
    // to the UTF-8 blob, hex-extract each byte — so the law holds for
    // non-ASCII docs too, not just because the fixture is ASCII.
    oracle =
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
        |ORDER BY media_id, window_idx""".stripMargin)

  /** Store-backed decontamination ([[SpanDedup.cutSpansAgainstStore]]):
    * eval sets ARRIVE — the first (doc_id % 50 = 0) seeds the
    * benchmark gram store, a second (doc_id % 50 = 25) absorbs under
    * b=1 — and the corpus decontaminates against the accumulated
    * union through the same bloom split the span serve uses (misses
    * definitively clean). The incremental sibling of q174's one-shot
    * cut; ≡-direct and ≡-plain laws in SpanDedupSpec. */
  query("q177_decontam_store", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q177", "benchstore", s, dir) { path =>
      SpanDedup.writeGramStore(s, d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 8, path)
      SpanDedup.appendGrams(d.filter(col("doc_id") % 50 === 25),
        "doc_id", "text", k = 8, path, batchId = 1L)
    }
    SpanDedup.cutSpansAgainstStore(s, path,
        d.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 25),
        "doc_id", "text", k = 8)
      .orderBy("doc_id")
  },
    // q177: benchmark gram set = union of BOTH arrived eval slices;
    // then q174's flag → islands → positions → rebuild over the rest
    oracle = {
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
    })

  /** Shard manifest over the interleaved packing (q164): one row per
    * (source shard, bin) with item/doc counts, the token fill, the
    * image share, and an order-independent modular content checksum
    * (Σ hash60(modality:doc:item) mod 1e9 — exact in both engines,
    * no overflow at any bin size) — the receipt a training job uses
    * to verify the shards it read are the shards the pipeline wrote.
    * Pure aggregate above q164's join-free plan. */
  query("q176_pack_manifest", (s, dir) => {
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
  },
    // q176: q164's item/fill lattice + per-(shard, bin) counts and the
    // order-independent modular checksum
    oracle = {
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
    })

  /** Span-level contamination report ([[SpanDedup.benchmarkSpans]]):
    * the eval set is the doc_id % 50 = 0 slice; every other doc
    * reports the maximal runs it shares verbatim with it — WHERE the
    * leak sits, not just q44's how-much. The fixture's planted
    * repeats make real multi-span hits. */
  query("q173_contamination_spans", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    SpanDedup.benchmarkSpans(d.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text",
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start")
  },
    // q173/q174: corpus grams vs the eval slice's gram set; islands →
    // spans (report) or positions → anti-join → rebuild (cut)
    oracle = {
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
    })

  /** Surgical decontamination ([[SpanDedup.cutBenchmarkSpans]]): cut
    * exactly q173's spans out of the corpus — the per-passage
    * alternative to dropping whole documents (q124/q128 drop; this
    * keeps the doc minus the leak). Docs reduced to nothing vanish. */
  query("q174_decontam_cut", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    SpanDedup.cutBenchmarkSpans(d.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text",
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 8)
      .orderBy("doc_id")
  },
    oracle = {
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
    })

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
  query("q172_cdc_reuse", (s, dir) => {
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
  },
    // q172: CDC-chunk both snapshots, per-doc multiset intersection
    // of chunk texts (duplicates count with multiplicity)
    oracle =
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
         |ORDER BY y.doc_id""".stripMargin)
}
