package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval fusion — combining ranked lists from heterogeneous
  * retrievers (lexical BM25, dense ANN, PQ serving) into one ranking.
  *
  * The engine's retrieval arms each certify their own ranking (q85/q86
  * BM25, q12 exact cosine, q130-q132 PQ); production pipelines rarely
  * serve a single arm — hybrid search fuses a lexical and a dense list
  * per query, and reciprocal-rank fusion (Cormack et al., SIGIR 2009)
  * is the standard score-free recipe: each arm contributes
  * 1/(K + rank), so fusion needs NO cross-arm score calibration (BM25
  * sums and cosines are incomparable; ranks always are).
  */
object Retrieval {

  /** Scaled-integer RRF weight: one unit = 1e-9. Integer floor-div
    * keeps the fused score exact cross-engine (no float summation
    * order to agree on). floor(RrfScale/(K+r)) is STRICTLY decreasing
    * in r while (K+r)(K+r+1) < RrfScale — for K=60 that holds to
    * r ≈ 31 560, far past any real per-arm k — so scaling loses no
    * rank information at practical depths. */
  val RrfScale = 1000000000L

  /** Fuse per-query rankings by reciprocal rank. Each arm is
    * `(name, df)` with columns `(query_id, doc_id, rank)` — rank
    * 1-based and dense per query (every arm's own top-k contract).
    * Output: `(query_id, rank, doc_id, rrf_score, <name>_rank…)` —
    * one audit column per arm (NULL where the arm missed the doc),
    * the in-query honesty discipline (q126 n_agree, q131 q_rank).
    *
    * Score = Σ_arms RrfScale DIV (kRrf + arm_rank), summed as longs;
    * final order (rrf_score DESC, doc_id) — deterministic, no floats.
    *
    * Scale shape: every arm is already top-k-per-query — the union is
    * |queries|·arms·k rows, the groupBy a map-side-combinable hash
    * aggregate on (query_id, doc_id), and the final window ranks
    * ≤ arms·k rows per query. Fusion adds NO data-sized work at any
    * corpus size; the cost lives in the arms, which carry their own
    * scale disciplines (posting pruning, shortlists, stored codes). */
  def rrfFuse(arms: Seq[(String, DataFrame)], k: Int,
              kRrf: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    require(k > 0 && kRrf >= 0, s"bad fusion params k=$k kRrf=$kRrf")
    require(arms.map(_._1).distinct.size == arms.size,
      "arm names must be distinct")
    val tagged = arms.map { case (name, df) =>
      df.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("__r"), lit(name).as("__arm"))
    }.reduce(_ unionByName _)
    val armRanks = arms.map { case (name, _) =>
      max(when(col("__arm") === name, col("__r")))
        .cast("long").as(s"${name}_rank")
    }
    val fused = tagged
      .withColumn("__c", expr(s"${RrfScale}L div (${kRrf}L + __r)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).cast("long").as("rrf_score"), armRanks: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id") +: col("rank") +: col("doc_id") +:
        col("rrf_score") +: arms.map { case (n, _) => col(s"${n}_rank") }: _*)
  }

  /** DCG discount table for ranks 1..[[MaxDcgRank]], scaled integers:
    * disc(r) = floor(DcgScale / log2(r+1) + 0.5). Computed ONCE here
    * and inlined as literals into BOTH engines' plans (the oracle SQL
    * is generated from these same constants), so every DCG sum is pure
    * integer arithmetic — there is no cross-engine log2 to agree on,
    * which is what makes nDCG oracle-able at all. */
  val DcgScale = 1000000000L
  val MaxDcgRank = 64
  val dcgDiscounts: IndexedSeq[Long] = (1 to MaxDcgRank).map { r =>
    math.floor(DcgScale / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong
  }

  /** Ranking-quality metrics (MRR and micro-averaged nDCG@k with
    * binary gains) for each arm against a ground-truth relevant set —
    * the metric layer q92's recall audit ([[graft.queries.AnnQueries]])
    * lacks: recall says WHETHER the truth was returned, these say WHERE.
    *
    * `arms`: `(name, df)` with `(query_id, neighbor_id, rank)`
    * (1-based, the arm's own top-k). `exact`: the relevant pairs
    * `(query_id, neighbor_id)` — each query's exact top-k, so ideal
    * DCG per query is the full discount prefix sum.
    *
    * Exactness: per-query first-hit reciprocal = RrfScale DIV rank and
    * DCG = Σ disc(rank) are integer sums; only the two final ratios
    * (mrr, ndcg) divide — exact longs in, one deterministic round(6)
    * out, the q92 recall discipline. A query an arm misses entirely
    * contributes 0 to both sums (it simply has no hit rows), which is
    * the standard convention.
    *
    * Scale shape: arms are top-k-per-query, so every input is
    * |queries|·arms·k rows; the relevant set broadcasts; aggregates
    * are map-side-combinable. Nothing here is corpus-sized. */
  def rankingMetrics(arms: Seq[(String, DataFrame)], exact: DataFrame,
                     k: Int): DataFrame = {
    require(arms.nonEmpty, "rankingMetrics needs at least one arm")
    require(k >= 1 && k <= MaxDcgRank, s"k=$k outside 1..$MaxDcgRank")
    require(arms.map(_._1).distinct.size == arms.size,
      "arm names must be distinct")
    val discArr = array(dcgDiscounts.take(k).map(lit): _*)
    val idcgPerQuery = dcgDiscounts.take(k).sum
    val rel = exact.select(col("query_id"), col("neighbor_id"))
    val nQ = broadcast(rel.agg(
      countDistinct(col("query_id")).as("__nq")))
    val tagged = arms.map { case (name, df) =>
      df.select(lit(name).as("method"), col("query_id"),
        col("neighbor_id"), col("rank").cast("long").as("__r"))
    }.reduce(_ unionByName _)
    val perQuery = tagged.filter(col("__r") <= k)
      .join(broadcast(rel), Seq("query_id", "neighbor_id"))
      .groupBy(col("method"), col("query_id"))
      .agg(min(col("__r")).as("__fr"),
        sum(element_at(discArr, col("__r").cast("int"))).as("__dcg"))
    perQuery.groupBy(col("method"))
      .agg(sum(expr(s"${DcgScale}L div __fr")).cast("long").as("sum_rr"),
        sum(col("__dcg")).cast("long").as("sum_dcg"))
      .crossJoin(nQ)
      .select(col("method"),
        col("__nq").cast("long").as("n_queries"),
        col("sum_rr"),
        round(col("sum_rr").cast("double") /
          (col("__nq") * lit(DcgScale)).cast("double"), 6).as("mrr"),
        col("sum_dcg"),
        (col("__nq") * lit(idcgPerQuery)).cast("long").as("sum_idcg"),
        round(col("sum_dcg").cast("double") /
          (col("__nq") * lit(idcgPerQuery)).cast("double"), 6).as("ndcg"))
      .orderBy(col("method"))
  }

  /** Hard-negative mining — the embedding-model training prep (the
    * DPR/ANCE recipe): for each query, the top-retrieved candidates
    * that are NOT labeled positives become the contrastive negatives,
    * densely re-ranked so every query ships exactly its `nNeg` hardest.
    * `retrieved` is any arm's top-k contract `(query_id, rank,
    * neighbor_id, …)`; `positives` is the label relation `(query_id,
    * neighbor_id)`. The anti-join is retrieved-sized (|queries|·k),
    * the re-rank window per query — mining adds NO data-sized work on
    * top of the retrieval arm, which carries the scale discipline. */
  def hardNegatives(retrieved: DataFrame, positives: DataFrame,
                    nNeg: Int): DataFrame = {
    require(nNeg > 0, s"nNeg=$nNeg must be positive")
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    retrieved
      .join(positives.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= nNeg)
      .drop("rank")
  }
}
