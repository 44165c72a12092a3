package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore

/** Exact-substring span dedup: find and cut MAXIMAL duplicated token
  * spans at arbitrary offsets — the stride-1 sibling of
  * [[TextOps.removeDuplicatedBlocks]]'s block grid, which by
  * construction misses a repeated passage that straddles two block
  * boundaries (its own scaladoc names the trade). The suffix-array
  * engines built for this (the "remove every repeated ≥50-token
  * substring" pass pretraining pipelines run after doc-level dedup)
  * don't distribute; the standard scalable approximation is sliding
  * k-gram fingerprints + island merge, which recovers every repeat of
  * length ≥ k at exact boundaries:
  *
  *   1. every token position emits the hash of the k-gram starting
  *      there (row-local generate — codegen'd `sequence`/`slice`, no
  *      shuffle);
  *   2. a gram hash seen in ≥ `minDocs` distinct docs is "duplicated"
  *      (distinct + count — ONE exchange on the fixed-width 60-bit
  *      key, map-side combined; the raw gram text never shuffles);
  *   3. a doc's flagged start positions merge into maximal runs
  *      (islands: `pos − row_number` per doc — the per-doc window
  *      partitions by id, never global);
  *   4. a run [s, e] covers token span [s, e + k − 1]: every repeat of
  *      length L ≥ k becomes exactly one span of exactly L tokens
  *      (stride-1 grams overlap, so interior positions are consecutive
  *      — no block-boundary recall loss).
  *
  * Shuffle volume is (60-bit hash, id, pos) per token position —
  * fixed-width rows linear in corpus tokens, the same order
  * [[TextOps.exactDedup]] moves; no O(n²) pair list, no index build.
  * Hashing is the repo-wide md5-derived [[TextOps.hash60]], so the
  * DuckDB oracle reproduces the grouping bit-for-bit (a 60-bit
  * collision would fuse two gram families identically in both
  * engines; at 100 TB verify the collision bucket exactly — it is
  * collision-rate-sized).
  *
  * Reference scope note: the reference ETL (mabna_tables_update.py)
  * has no text ops at all — this operator belongs to the
  * training-data-pipeline surface the build brief adds on top.
  */
object SpanDedup {

  /** (id, pos, __gh): the 60-bit hash of the k-gram starting at each
    * 0-based token position. Docs shorter than k emit nothing (the
    * `when` guard nulls the sequence and explode drops it). */
  private def gramStarts(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    val a = col("__a")
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__a"))
      .select(col(idCol), a,
        explode(when(size(a) >= k, sequence(lit(1), size(a) - k + 1)))
          .as("__s"))
      .select(col(idCol), (col("__s") - 1).cast("long").as("pos"),
        TextOps.hash60(concat_ws(" ", slice(a, col("__s"), lit(k))))
          .as("__gh"))
  }

  /** Gram hashes appearing in at least `minDocs` distinct documents.
    * distinct-then-count instead of countDistinct: the distinct's
    * partial aggregation collapses a doc's internal repeats map-side,
    * so a boilerplate-heavy doc contributes one row per gram family to
    * the exchange, and no expand/two-phase plan is needed. */
  private def dupGrams(occ: DataFrame, idCol: String, minDocs: Int): DataFrame =
    occ.select(col("__gh"), col(idCol)).distinct()
      .groupBy(col("__gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__gh"))

  /** Merge flagged start positions into maximal runs per doc and
    * return one row per run: (id, span_start, span_end) in 0-based
    * inclusive token coordinates, span_end = last start + k − 1. */
  private def islands(flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val grp = col("pos") -
      row_number().over(Window.partitionBy(col(idCol)).orderBy(col("pos")))
    flagged
      .withColumn("__grp", grp)
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"))
      .drop("__grp")
  }

  /** Flagged start positions → the DISTINCT covered token positions to
    * remove: islands-merge first (so expansion is O(span length), not
    * O(span length × k)), optionally drop runs shorter than
    * `minSpanTokens`, then expand each run to its covered positions.
    * Shared by every cut/serve path so they cannot drift. */
  private def cutPositions(flagged: DataFrame, idCol: String, k: Int,
                           minSpanTokens: Int = 0): DataFrame =
    islands(flagged, idCol, k)
      .filter(col("span_end") - col("span_start") + 1 >= minSpanTokens)
      .select(col(idCol),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
      .distinct()

  /** Anti-join the docs' token positions against `cut` and rebuild the
    * surviving text in order — the one rebuild every cut/serve path
    * ends with: (id, clean_text, n_kept); fully-cut docs vanish. */
  private def rebuildClean(docs: DataFrame, idCol: String, textCol: String,
                           cut: DataFrame): DataFrame =
    docs
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__tok")))
      .withColumn("pos", col("pos").cast("long"))
      .join(cut, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("__tok")))),
          s => s.getField("__tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))

  /** The persisted gram store, read tolerantly: an empty seed writes a
    * zero-partition store parquet cannot infer a schema from —
    * semantically an empty gram set, served as such. */
  private def readStore(s: SparkSession, path: String): DataFrame =
    scala.util.Try {
      val df = s.read.parquet(s"$path/grams")
      df.schema // force analysis — inference failure must land in the Try
      df
    }.getOrElse(s.range(0).select(col("id").as("__gh"), lit(0L).as("b")))

  /** The store probe both serve paths share: occurrences whose gram is
    * in the store. With a usable bloom, split the access path — bloom
    * MISSES are definitively store-fresh (no false negatives), HITS
    * verify against the covered slice through a hit-sized prefilter,
    * and grams absorbed above `covered_up_to` (since the last sweep)
    * probe through a residual absorption-sized plain semi-join. Without
    * one, a plain semi-join — the sketch is an access path, never a
    * semantics. */
  private def storeHits(s: SparkSession, path: String, occ: DataFrame,
                        store: DataFrame, bloomMinItems: Long): DataFrame =
    Blooms.readCoverage(s, s"$path/grambloom", bloomMinItems).fold(
      occ.join(store.select("__gh"), Seq("__gh"), "left_semi")
    ) { case (bf, covered) =>
      val coveredSlice = store.filter(col("b").cast("long") <= covered)
      val recentSlice = store.filter(col("b").cast("long") > covered)
      val might = call_function("graft_might_contain", bf, col("__gh"))
      occ.where(might)
        .join(Blooms.bloomPrefilter(coveredSlice.select("__gh"),
            occ.where(might), "__gh", "__gh",
          expectedItems = 1000000L), Seq("__gh"), "left_semi")
        .unionByName(
          occ.join(recentSlice.select("__gh"), Seq("__gh"), "left_semi"))
    }

  /** Report the maximal duplicated spans: one row per (doc, span) with
    * the span's token coordinates and text. A doc-level exact dup
    * reports one full-width span; a shared license paragraph reports
    * one span per doc containing it, at whatever offset it sits. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    // the gram generate feeds two consumers (dup set + flag join) —
    // materialize once, the q139 hub discipline
    val occ = gramStarts(docs, idCol, textCol, k).localCheckpoint(true)
    val flagged = occ.join(dupGrams(occ, idCol, minDocs), Seq("__gh"),
      "left_semi")
    val spanLen = col("span_end") - col("span_start") + 1
    islands(flagged, idCol, k)
      .join(docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__a")),
        Seq(idCol))
      .select(col(idCol), col("span_start"),
        spanLen.as("span_tokens"),
        concat_ws(" ", slice(col("__a"),
          (col("span_start") + 1).cast("int"),
          spanLen.cast("int"))).as("span_text"))
  }

  /** Cut every NON-FIRST occurrence of duplicated content and rebuild
    * the text — the action to [[duplicatedSpans]]' report. Occurrences
    * of a duplicated gram rank by (id, pos); rank 1 is the keeper,
    * every other occurrence marks its k covered positions for removal.
    * Redundant starts merge into maximal runs BEFORE expanding to
    * covered positions, so the expansion is O(span length), not
    * O(span length × k). Docs whose every token was cut (pure
    * duplicated boilerplate) vanish, [[TextOps
    * .removeDuplicatedBlocks]]' convention.
    *
    * Cutting can butt two previously-distant tokens together and
    * create a NEW duplicated gram, so the op is not idempotent in
    * general — the standard exact-substring-dedup caveat; pipelines
    * run it to a fixed point when that matters (one pass removes the
    * planted mass; the spec pins the planted-copy law). */
  /** `minSpanTokens`: cut only maximal runs at least this long — the
    * production exact-substring default (the canonical pass removes
    * repeats ≥ 50 tokens; an unguarded cut chops every common short
    * phrase that happens to clear k). 0 disables the guard (q163's
    * behavior, the default). The guard filters ISLANDS, after the
    * merge — a long repeat is never mistaken for its short
    * sub-repeats. */
  def cutDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, minDocs: Int = 2,
                         minSpanTokens: Int = 0): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    // two consumers of the generate (dup set + rank join) — hub
    val occ = gramStarts(docs, idCol, textCol, k).localCheckpoint(true)
    val redundant = occ
      .join(dupGrams(occ, idCol, minDocs), Seq("__gh"), "left_semi")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__gh")).orderBy(col(idCol), col("pos"))))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("pos"))
    rebuildClean(docs, idCol, textCol,
      cutPositions(redundant, idCol, k, minSpanTokens))
  }

  /** Span-level contamination report: the maximal runs of each doc
    * that verbatim-overlap a BENCHMARK set (k-gram granularity) — the
    * quote-the-evidence upgrade over a scalar overlap score
    * ([[TextOps.contamination]], q44): decontamination wants to know
    * WHERE the eval set leaked, not just how much. Same machinery as
    * [[duplicatedSpans]] with the dup set replaced by the benchmark's
    * gram set; the benchmark side reduces to distinct fixed-width
    * hashes before the one equi-join. */
  def benchmarkSpans(docs: DataFrame, idCol: String, textCol: String,
                     bench: DataFrame, benchIdCol: String,
                     benchTextCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val occ = gramStarts(docs, idCol, textCol, k).localCheckpoint(true)
    val bg = gramStarts(bench, benchIdCol, benchTextCol, k)
      .select(col("__gh")).distinct()
    // the benchmark side is eval-set-sized — pin the broadcast so the
    // corpus-sized occ never shuffles for the flag join
    val flagged = occ.join(broadcast(bg), Seq("__gh"), "left_semi")
    val spanLen = col("span_end") - col("span_start") + 1
    islands(flagged, idCol, k)
      .join(docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__a")),
        Seq(idCol))
      .select(col(idCol), col("span_start"),
        spanLen.as("span_tokens"),
        concat_ws(" ", slice(col("__a"),
          (col("span_start") + 1).cast("int"),
          spanLen.cast("int"))).as("span_text"))
  }

  /** Surgical decontamination: CUT every benchmark-overlapping span
    * (every occurrence — contamination has no "first keeper") and
    * rebuild the text; docs reduced to nothing vanish. The doc-level
    * alternative drops the whole document for one leaked paragraph —
    * at pretraining scale that overcuts by orders of magnitude. */
  def cutBenchmarkSpans(docs: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchIdCol: String,
                        benchTextCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val occ = gramStarts(docs, idCol, textCol, k).localCheckpoint(true)
    val bg = gramStarts(bench, benchIdCol, benchTextCol, k)
      .select(col("__gh")).distinct()
    val flagged = occ.join(broadcast(bg), Seq("__gh"), "left_semi")
      .select(col(idCol), col("pos"))
    rebuildClean(docs, idCol, textCol, cutPositions(flagged, idCol, k))
  }

  /** [[cutBenchmarkSpans]] against a PERSISTED benchmark gram store
    * ([[writeGramStore]]/[[appendGrams]] over the eval sets as they
    * arrive — new benchmarks absorb under their own `b` and every
    * later batch decontaminates against the union): the store-backed
    * decontam serve, sharing [[serveSpanCut]]'s bloom split — misses
    * are definitively clean, hits verify exactly. Law (SpanDedupSpec):
    * ≡ [[cutBenchmarkSpans]] against the store's source docs, with or
    * without the sketch. */
  def cutSpansAgainstStore(s: SparkSession, path: String, batch: DataFrame,
                           idCol: String, textCol: String, k: Int,
                           bloomMinItems: Long = 4096L): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val store = readStore(s, path)
    val occ = gramStarts(batch, idCol, textCol, k).localCheckpoint(true)
    val flagged = storeHits(s, path, occ, store, bloomMinItems)
      .select(col(idCol), col("pos")).distinct()
    rebuildClean(batch, idCol, textCol, cutPositions(flagged, idCol, k))
  }

  // ------------------------------------------------- incremental serve

  /** Frozen gram store: the history corpus's DISTINCT k-gram hashes
    * (`grams/b=0`, hash-partitioned fixed-width longs — the stream
    * layout from day one, so [[graft.streaming.SpanStream]] can absorb
    * later batches under their own `b`) plus a bloom sketch over them
    * (`grambloom/`, [[Blooms]] kernel — the [[Curation.writeHashBloom]]
    * shape applied to the gram log, which is per-TOKEN-sized, ~150× a
    * per-doc hash log, so the prefilter matters here even more). */
  def writeGramStore(s: SparkSession, history: DataFrame, idCol: String,
                     textCol: String, k: Int, path: String,
                     parts: Int = 32): Unit = {
    require(parts >= 1, s"parts=$parts must be >= 1")
    gramStarts(history, idCol, textCol, k)
      .select(col("__gh")).distinct()
      .repartition(parts, col("__gh"))
      .withColumn("b", lit(0L))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/grams")
    writeGramBloom(s, path, coveredUpTo = 0L)
  }

  /** Absorb one batch's distinct gram hashes under `b = batchId` —
    * an idempotent dynamic partition overwrite
    * ([[graft.streaming.BatchStore.writeBatch]]). The bloom's coverage
    * does NOT move: absorbed batches sit above `covered_up_to` and
    * serve through the residual plain semi-join until
    * [[writeGramBloom]] re-sweeps. */
  def appendGrams(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, path: String, batchId: Long): Unit = {
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    BatchStore.writeBatch(gramStarts(docs, idCol, textCol, k)
      .select(col("__gh")).distinct(), batchId, s"$path/grams")
  }

  /** (Re)build the gram log's coverage bloom (`grambloom/`,
    * [[Blooms.writeCoverage]] over `__gh`) over batches
    * `b <= coveredUpTo`. */
  def writeGramBloom(s: SparkSession, path: String,
                     coveredUpTo: Long): Unit =
    Blooms.writeCoverage(s, s"$path/grams", col("__gh"), coveredUpTo,
      s"$path/grambloom")

  /** Cut ONE new batch against the frozen gram store — the shape the
    * 100 TB path runs: history never re-shuffles (only the batch's
    * HITS reach an exact semi-join whose store side is pruned to
    * hit-sized by an in-plan bloom of the hit hashes; bloom MISSES are
    * definitively history-fresh by no-false-negatives). A batch start
    * is redundant when its gram is IN HISTORY (the curated copy always
    * wins) or when it is a non-first occurrence of a within-batch
    * cross-doc duplicate; islands merge, positions cut, docs rebuild —
    * [[cutDuplicatedSpans]]' machinery above the split.
    *
    * Law (SpanDedupSpec): when every history id precedes every batch
    * id, this equals [[cutDuplicatedSpans]] over history ∪ batch
    * restricted to batch docs — the incremental path and the
    * full-corpus path agree doc-for-doc, which is also exactly how the
    * driver oracle replays it. With the bloom deleted the result is
    * identical (≡-plain law).
    *
    * `batchCut`: for stream-maintained stores
    * ([[graft.streaming.SpanStream]]) probe only grams absorbed under
    * `b < batchCut` — the redelivery fence: a crashed attempt may have
    * absorbed its own clean output's grams before the commit marker,
    * and an unfenced re-serve would cut the whole batch against
    * itself. Grams above the bloom's `covered_up_to` (absorbed after
    * the last sweep) probe through a residual absorption-sized plain
    * semi-join, the [[Curation]] residual discipline. */
  def serveSpanCut(s: SparkSession, path: String, batch: DataFrame,
                   idCol: String, textCol: String, k: Int,
                   minDocs: Int = 2, batchCut: Option[Long] = None,
                   bloomMinItems: Long = 4096L): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val store0 = readStore(s, path)
    val store = batchCut.fold(store0)(c =>
      store0.filter(col("b").cast("long") < c))
    val occ = gramStarts(batch, idCol, textCol, k).localCheckpoint(true)
    val inHist = storeHits(s, path, occ, store, bloomMinItems)
    val batchRedundant = occ
      .join(dupGrams(occ, idCol, minDocs), Seq("__gh"), "left_semi")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__gh")).orderBy(col(idCol), col("pos"))))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("pos"))
    val redundant = inHist.select(col(idCol), col("pos"))
      .unionByName(batchRedundant).distinct()
    rebuildClean(batch, idCol, textCol, cutPositions(redundant, idCol, k))
  }
}
