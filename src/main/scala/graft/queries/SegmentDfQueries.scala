package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.TextOps

import Shared._

/** Segment-df boilerplate removal: corpus-wide segment document
  * frequencies. */
object SegmentDfQueries extends QueryFamily {

  /** Corpus-wide boilerplate segment removal ([[TextOps
    * .dropHotSegments]]): consecutive 10-token segments whose exact
    * text occurs in ≥ 3 distinct documents are chrome (the
    * CCNet/RefinedWeb line-frequency trick on this corpus's token
    * streams); survivors rebuild in order. Frequency-threshold
    * semantics — keeps a two-doc repeat, kills only corpus-wide
    * boilerplate — where span dedup (q163) cuts any pairwise repeat.
    * One map-combinable aggregation + one co-partitioned join back,
    * no pairwise candidates, no broadcast assumption. */
  query("q197_boilerplate_segments", (s, dir) =>
    TextOps.dropHotSegments(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", segLen = 10, minDf = 3)
      .orderBy("doc_id"),
    // q197: segment lattice re-derived with correlated generate_series,
    // df over exact segment text, ordered string_agg rebuild
    // (string_agg skips the CASE's NULLs; coalesce for all-hot docs)
    oracle =
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
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)

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
  query("q199_segment_df_store", (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q199", "segdf", s, dir) { path =>
      TextOps.writeSegmentDf(d.filter(col("doc_id") % 4 <= 1),
        "doc_id", "text", segLen = 10, path, batchId = 0L)
      TextOps.writeSegmentDf(d.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", segLen = 10, path, batchId = 1L)
    }
    TextOps.serveSegmentCut(s, path, d.filter(col("doc_id") % 8 === 3),
        "doc_id", "text", segLen = 10, minDf = 2, batchCut = Some(2L))
      .orderBy("doc_id")
  },
    // q199: the accumulated df is replayed over history ∪ batch 1
    // (doc_id % 4 <= 2), batch 2 (doc_id % 8 = 3) is cut against it —
    // within-batch frequency deliberately not consulted
    oracle =
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
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** q200's chain + a THIRD round with the count-store retention fold
    * between ([[graft.streaming.SegDfStream.foldSegDf]]): partitions
    * b ≤ 2 compact to one snapshot — (segment, src, df) granularity
    * preserved, so the fold is pure partition compaction and every
    * read's (segment, src) dedup + sum sees identical counts. The
    * oracle has NO idea a fold happened. Round 3 serves fresh per
    * rep. */
  query("q201_segdf_fold", (s, dir) => {
    import graft.streaming.SegDfStream
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q201", "segdffold", s, dir) { path =>
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
  },
    // q201: three rounds; the oracle is BLIND to the fold between
    // rounds 2 and 3 (partition compaction preserves (segment, src,
    // df) granularity, so every read's dedup + sum is unchanged)
    oracle =
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
         |ORDER BY b, doc_id""".stripMargin)
}
