package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Multimodal, Packing, Similarity, SpanDedup, TextOps}

import Shared._

/** Multimodal and perceptual hashes: media decode, phash stores and the
  * composed pipeline manifest. */
object MediaQueries extends QueryFamily {

  private val phashCtes: String = phashCtesFor("p", "TRUE")

  /** Multimodal: binary media column + metadata features. */
  query("q23_media_features", (s, dir) =>
    Multimodal.byteFeatures(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text", "text"))
      .orderBy("media_id"),
    oracle =
      """SELECT doc_id AS media_id, 'text' AS format,
        |       length(text)::BIGINT AS n_bytes, md5(text) AS content_hash
        |FROM documents ORDER BY media_id""".stripMargin)

  /** Multimodal: frame sampling over binary payloads (stride 2 over
    * 100-byte blocks). */
  query("q24_frame_sample", (s, dir) =>
    Multimodal.sampleFrames(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text", "text"),
        blockSize = 100, stride = 2)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .withColumn("frame_bytes", col("frame_bytes").cast("long"))
      .orderBy("media_id", "frame_idx"),
    oracle =
      """WITH m AS (SELECT doc_id AS media_id, text,
        |             (length(text) + 99) // 100 AS n_blocks FROM documents),
        |f AS (SELECT media_id, b, substr(text, (b * 100 + 1)::INT, 100) AS frame
        |      FROM (SELECT media_id, text, unnest(generate_series(0, n_blocks - 1, 2)) AS b FROM m))
        |SELECT media_id, (b // 2)::BIGINT AS frame_idx,
        |       length(frame)::BIGINT AS frame_bytes, md5(frame) AS frame_hash
        |FROM f ORDER BY media_id, frame_idx""".stripMargin)

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
  query("q59_binary_ingest", (s, dir) => {
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
  },
    // {SF_DIR} is substituted with the actual sf directory by Verify at
    // dump time (the only query whose oracle reads FILES, not tables);
    // parquet is not BMP/WAV, so decode takes the opaque-payload
    // fallback: byte-length dims, reproduced from read_blob's size
    oracle =
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
        |FROM d ORDER BY file_name""".stripMargin)

  /** Perceptual image hashes ([[Multimodal.perceptualHash]]): every
    * payload rides the REAL wrap→DIB-parse→plane chain (q153's oracled
    * roundtrip) into the exact-integer aHash/dHash kernel — 64-bit
    * gradient and mean fingerprints, the re-encode-robust media
    * near-dup signal byte-feature ANN (q88/q129) cannot see. No float
    * resize anywhere, so the oracle replays every bit from the text's
    * UTF-8 bytes + the wrap's zero tail. */
  query("q181_media_phash", (s, dir) =>
    Multimodal.perceptualHash(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64)
      .orderBy("media_id"),
    // q181: exact-integer aHash/dHash replay from the UTF-8 bytes +
    // zero tail (the q153 wrap law); h = ceil(n/64) is the decode height
    oracle =
      s"""WITH $phashCtes
         |SELECT media_id, 64::BIGINT AS width, h::BIGINT AS height,
         |       dhash, ahash
         |FROM ph ORDER BY media_id""".stripMargin)

  /** Media near-dup pairs ([[Multimodal.phashNearDups]]): dHash
    * Hamming ≤ 3 via the simhash pigeonhole (4 exact 16-bit chunks —
    * any pair within distance shares one, so candidates are an
    * equi-join, never n²). The oracle brute-forces all pairs, which
    * only the fixture can afford — the banded plan IS the scale path,
    * and the law they agree is the query. sf0.001: 22 pairs (11 exact
    * dups at distance 0 + near-encodes up to 3). */
  query("q182_phash_neardups", (s, dir) =>
    Multimodal.phashNearDups(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64, maxDist = 3)
      .orderBy("id_a", "id_b"),
    // q182: the oracle brute-forces ALL pairs (fixture-sized); the
    // engine's banded pigeonhole must agree exactly — that is the law
    oracle =
      s"""WITH $phashCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
         |FROM ph a JOIN ph b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)

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
  query("q183_pipeline_manifest", (s, dir) => {
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
  },
    // q183: serve → span cut → pack → manifest, one oracle derivation
    oracle = pipelineManifestOracleSql)

  /** Media near-dup keeper table ([[Multimodal.phashDedupClusters]]):
    * q182's perceptual pairs closed into clusters by the certified
    * min-label connected components, every decodable media row labeled
    * (cluster = smallest reachable id, keeper = itself) — the dedup
    * DECISION, where q182 is the evidence. Oracle: the brute-force
    * pair set + the q31 recursive-CTE reachability. */
  query("q184_phash_dedup", (s, dir) =>
    Multimodal.phashDedupClusters(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "image"),
        width = 64, maxDist = 3)
      .orderBy("media_id"),
    // q184: brute-force phash pairs + q31's recursive-CTE reachability
    oracle =
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
         |ORDER BY media_id""".stripMargin)

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
  query("q185_phash_store_serve", (s, dir) => {
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    val path = sessionStore("q185", "phashstore", s, dir) { path =>
      Multimodal.writePhashStore(mt(d.filter(col("doc_id") % 4 =!= 3)),
        width = 64, path)
    }
    Multimodal.servePhashDedup(s, path,
        mt(d.filter(col("doc_id") % 4 === 3)), width = 64, maxDist = 3)
      .orderBy("media_id")
  },
    // q185: history and batch hash sets from the one phash definition;
    // both match sets brute-forced — banding is pure access path
    oracle =
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
         |ORDER BY media_id""".stripMargin)

  /** q186's chain + a THIRD round with a retention fold between —
    * [[graft.streaming.PhashStream.foldPhash]] compacts batches
    * b ≤ 2 into one snapshot between rounds 2 and 3, and the oracle
    * has NO idea (read-invisibility through the `b < 3` fence — the
    * q167/q150 discipline on the media index). Store chain built once
    * per JVM; round 3 serves fresh per rep. */
  query("q187_phash_fold", (s, dir) => {
    import graft.streaming.PhashStream
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    val path = sessionStore("q187", "phfold", s, dir) { path =>
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
  },
    // q187: q186's rounds + a third — the oracle replays the
    // accumulated keeper sets and is BLIND to the fold between rounds
    // 2 and 3 (read-invisibility through the b < 3 fence)
    oracle =
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
         |ORDER BY b, media_id""".stripMargin)

  /** Media contamination report ([[Multimodal.phashLeaks]]) — q173's
    * story for images: the eval set's perceptual hashes persist as the
    * benchmark index (doc_id % 50 = 0 plays the image benchmark) and
    * every TRAINING image within Hamming ≤ 3 of any eval image is
    * flagged with its CLOSEST eval match and the count of distinct
    * eval images it leaks — a re-encoded benchmark image is exactly
    * what byte-level checks miss and this catches. Within-batch
    * matches deliberately not consulted (contamination is
    * batch-vs-benchmark only). */
  query("q188_media_decontam", (s, dir) => {
    val d = Tables.documents(s, dir)
    def mt(df: DataFrame) =
      Multimodal.asMediaTable(df, "doc_id", "text", "image")
    val path = sessionStore("q188", "phbench", s, dir) { path =>
      Multimodal.writePhashStore(mt(d.filter(col("doc_id") % 50 === 0)),
        width = 64, path)
    }
    Multimodal.phashLeaks(s, path,
        mt(d.filter(col("doc_id") % 50 =!= 0)), width = 64, maxDist = 3)
      .orderBy("media_id")
  },
    // q188: eval hash set vs training hash set, brute-forced; closest
    // match = min (hamming, eval_id), the engine's min-struct tiebreak
    oracle =
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
         |FROM m GROUP BY media_id ORDER BY media_id""".stripMargin)

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
  query("q189_phash_skew_dedup", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 7,
        concat(lit("blank thumbnail "),
          expr("repeat(concat('variant', CAST(doc_id % 8 AS STRING), ' '), 12)")))
        .otherwise(col("text")).as("text"))
    Multimodal.phashDedupClusters(
        Multimodal.asMediaTable(d, "doc_id", "text", "image"),
        width = 64, maxDist = 3)
      .orderBy("media_id")
  },
    // q189: the skewed corpus re-derived in SQL (10% of docs collapse
    // onto 8 planted payloads), then q184's brute-force pairs +
    // recursive reachability — the round-18 collapse certified WITH
    // mega-clusters present
    oracle =
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
         |ORDER BY media_id""".stripMargin)

  /** Real-codec certification, audio: wrap each document's bytes as a
    * PCM-8 mono WAV and read every header field back through the REAL
    * RIFF parser ([[Multimodal.wavRoundtrip]]) — frames, sample rate,
    * channel count, file size — plus the md5 of the extracted channel-0
    * plane, which must equal the md5 of the original payload (PCM-8
    * mono stores the bytes verbatim). The oracle replays the header
    * arithmetic from the text length and hashes the text directly: a
    * parser that didn't actually read the file could not match. */
  query("q152_wav_roundtrip", (s, dir) =>
    Multimodal.wavRoundtrip(
        Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text",
          "audio"),
        sampleRate = 16000)
      .orderBy("media_id"),
    // q152: every column is a WAV header field the real RIFF parser had
    // to read back out of the encoded file; the channel-0 plane of a
    // PCM-8 mono WAV is the payload verbatim, so its md5 is md5(text).
    // BYTE lengths throughout (octet_length over the UTF-8 encoding):
    // asMediaTable encodes text as UTF-8, so char-based length() would
    // break on any non-ASCII doc (round-15 advice; the n_bytes
    // convention everywhere else in the media family)
    oracle =
      """SELECT doc_id AS media_id,
        |       octet_length(encode(text))::BIGINT AS n_samples,
        |       16000::BIGINT AS sample_rate,
        |       1::BIGINT AS channels,
        |       (44 + octet_length(encode(text))
        |           + (octet_length(encode(text)) % 2))::BIGINT AS file_bytes,
        |       md5(text) AS pcm_hash
        |FROM documents ORDER BY media_id""".stripMargin)

  /** Real-codec certification, image: the BMP twin of [[q152]] —
    * top-down 8-bpp grayscale BMPs of width 4, decoded back through the
    * real DIB parser ([[Multimodal.bmpRoundtrip]]). Restricted to
    * payloads whose length divides the width so the extracted plane is
    * the payload EXACTLY (no zero tail) and the oracle can hash the
    * text verbatim. */
  query("q153_bmp_roundtrip", (s, dir) =>
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
      .orderBy("media_id"),
    // q153: BMP twin — width-4 top-down grayscale DIB (1078-byte
    // header+palette), byte-length%4=0 docs so the plane is the text's
    // UTF-8 bytes exactly (matching the Spark filter's octet_length)
    oracle =
      """SELECT doc_id AS media_id,
        |       4::BIGINT AS width,
        |       (octet_length(encode(text)) // 4)::BIGINT AS height,
        |       1::BIGINT AS channels,
        |       (1078 + octet_length(encode(text)))::BIGINT AS file_bytes,
        |       md5(text) AS plane_hash
        |FROM documents
        |WHERE octet_length(encode(text)) % 4 = 0
        |  AND octet_length(encode(text)) > 0
        |ORDER BY media_id""".stripMargin)

  private val MediaSemK = 2

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
  query("q129_media_semdedup", (s, dir) => {
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
  },
    // q129: q88's deterministic blob-feature chain as the k-means
    // source, then the shared SemDeDup tail — the whole multimodal ×
    // semantic-dedup composition replayed
    oracle =
      (kmeansOracleCtes(MediaSemK, KmeansIters, srcSql =
        """SELECT ('0x' || substr(md5(regexp_extract(filename, '[^/]+$')), 1, 15))::BIGINT AS vec_id,
          |         list_transform(range(0, 8), i ->
          |           ((size::BIGINT * (i + 1) +
          |             (64 + (size::BIGINT % 64)) * (3 * i + 1) +
          |             (64 + ((size::BIGINT // 64) % 64)) * (7 * i + 2))
          |            % 997 - 498)::DOUBLE) AS v
          |  FROM read_blob('{SF_DIR}/*.parquet')""".stripMargin) +
        semPairsTailSql))
}
