package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArrayMath

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, as a 100 TB pipeline needs:
  *  - `bruteForceTopK` — the exact baseline: broadcast the (small) query
  *    set against the full corpus; one pass, no shuffle of the corpus,
  *    per-partition top-k via window. Cost O(|corpus|·|queries|·dim) but
  *    embarrassingly parallel — correct reference for recall tests.
  *  - `lshTopK` — random-hyperplane LSH: bucket by sign-pattern of d
  *    fixed pseudo-random hyperplanes, probe only the query's bucket
  *    (+ optional multi-probe). Candidate set shrinks ~2^d-fold; rerank
  *    candidates exactly. The scale path: bucketing is one cheap map,
  *    the join is an equi-join on bucket id.
  *
  * The cosine kernel is the native codegen'd `cosine_similarity`
  * expression (functions/ArrayMath.scala) — Spark's zip_with/aggregate
  * HOFs would fall back to interpreted eval in this, the hottest loop.
  */
object Similarity {

  /** Exact top-k neighbours for each query vector.
    * `queries` must be small (it is broadcast). Output: one row per
    * (query_id, rank) with the neighbour id and cosine similarity. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    ArrayMath.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val joined = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(q))
    val scored = (if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id"))
                  else joined)
      // rank on the 6-dp-rounded similarity: semantically identical for
      // retrieval, and the ordering becomes engine-exact (raw doubles
      // can differ in the last ulp across implementations and flip
      // near-ties at the top-k boundary)
      .withColumn("cosine",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Quantize-shortlist-rerank top-k: score every corpus vector with
    * the int8-quantized cosine (native `int8_quantize` kernel — the
    * scan reads what would be an int8 column at 4× less bandwidth than
    * f32, which IS the economics of a 100 TB embedding store), keep the
    * top `shortlist` per query, then rerank ONLY those with the exact
    * full-precision cosine. Output matches [[bruteForceTopK]]'s shape
    * (query_id, rank, neighbor_id, cosine) plus `q_rank`, the
    * quantized-stage rank — the visible evidence of how much the
    * shortlist reordered under exact scores.
    *
    * Recall is governed by `shortlist`/`k`: a true top-k neighbour is
    * missed only if quantization error pushes it below the shortlist
    * boundary. q72 certifies the trade in-query against the exact
    * baseline (q63-style audit). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    shortlist: Int): DataFrame = {
    ArrayMath.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      ArrayMath.int8Quantize(col(vecCol)).as("__qq"))
    // quantized scan: ONLY (query_id, neighbor_id, qcos) survive into
    // the shortlist window's shuffle — vectors never cross it (the
    // id-pairs-first discipline that fixed q51's candidate storm)
    val scored = corpus
      .select(col(idCol).as("neighbor_id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__cq"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        round(ArrayMath.cosineSimilarity(col("__qq"), col("__cq")), 6))
      .select(col("query_id"), col("neighbor_id"), col("qcos"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    val short = scored
      .withColumn("q_rank", row_number().over(wq).cast("long"))
      .filter(col("q_rank") <= shortlist)
      .drop("qcos")
    // exact rerank touches full-precision vectors ONLY for the
    // |queries|·shortlist survivors: the shortlist broadcasts against
    // the corpus (no corpus shuffle), the query vectors broadcast too
    val wx = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))), Seq("query_id"))
      .withColumn("cosine",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(wx).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("q_rank"))
  }

  /** Multi-table buckets: one row per (table, bucket) — the recall knob.
    * P(candidate) = 1 − (1 − p^nPlanes)^nTables for per-plane agreement
    * p; more tables buy recall linearly in index size, never O(n²). */
  def lshBuckets(df: DataFrame, vecCol: String, nPlanes: Int,
                 nTables: Int): DataFrame = {
    ArrayMath.register(df.sparkSession)
    df.select(col("*"),
      posexplode(ArrayMath.hyperplaneBuckets(col(vecCol), nPlanes, nTables))
        .as(Seq("table", "bucket")))
  }

  /** Approximate top-k: candidates share the query's bucket in ANY of
    * the `nTables` hash tables; exact rerank on the deduplicated
    * candidate set. Candidate generation is an equi-join on
    * (table, bucket) — linear, broadcastable query side. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nPlanes: Int, nTables: Int = 8): DataFrame = {
    ArrayMath.register(corpus.sparkSession)
    val cb = lshBuckets(corpus, vecCol, nPlanes, nTables)
      .select(col(idCol).as("neighbor_id"), col("table"), col("bucket"))
    val qb = lshBuckets(queries, vecCol, nPlanes, nTables)
      .select(col(idCol).as("query_id"), col("table"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // dedupe candidate (query, neighbor) id pairs BEFORE re-attaching
    // vectors (same rationale as cosineDedupPairs: multi-table overlap
    // replicates each pair ~nTables×, and the distinct should hash slim
    // id pairs, not vector payloads)
    val cand = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .withColumn("cosine",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  // ------------------------------------------------------------------ IVF

  /** Train a coarse quantizer: deterministic-seed Lloyd iterations over
    * cosine assignment. Centroid recompute is elementwise mean via
    * posexplode + (cluster, dim) average — one shuffle per iteration,
    * centroids stay broadcast-sized. */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int, iters: Int = 2): DataFrame = {
    ArrayMath.register(corpus.sparkSession)
    // deterministic init: the nCentroids rows with smallest ids
    var centroids = corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("cvec"))
    var it = 0
    while (it < iters) {
      val assigned = assignToCentroid(corpus, centroids, idCol, vecCol)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos").agg(avg(col("x")).as("m"))
        .groupBy("centroid_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"),
          expr("transform(pm, e -> e.m)").as("cvec"))
      it += 1
    }
    centroids
  }

  /** Nearest-centroid assignment (broadcast centroids, argmax by
    * cosine with deterministic tie-break). The similarity is rounded to
    * 6 dp BEFORE the argmax — same convention as the top-k rerank: the
    * assignment becomes a pure function of the data (engine-exact, so
    * the DuckDB oracle reproduces the identical inverted lists) instead
    * of depending on last-ulp summation order. */
  private def assignToCentroid(df: DataFrame, centroids: DataFrame,
                               idCol: String, vecCol: String): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("__sim", round(ArrayMath.cosineSimilarity(
        col(vecCol).cast("array<double>"), col("cvec")), 6))
    scored.groupBy(col(idCol))
      .agg(max_by(struct(col("centroid_id"), col(vecCol).as("v")),
        struct(col("__sim"), -col("centroid_id"))).as("best"))
      .select(col(idCol), col("best.centroid_id").as("centroid_id"),
        col("best.v").as(vecCol))
  }

  /** A trained IVF index: broadcast-sized `centroids`
    * (centroid_id, cvec) and the corpus partitioned into inverted lists
    * `index` (neighbor_id, centroid_id, __cv). At 100 TB the index build
    * is the expensive step (Lloyd iterations scan the corpus) — build it
    * ONCE, persist, and serve every query batch from the artifact; see
    * [[buildIvfIndex]] / [[writeIvfIndex]] / [[readIvfIndex]]. */
  final case class IvfIndex(centroids: DataFrame, index: DataFrame)

  /** Train the quantizer and assign every corpus vector to its inverted
    * list. The one corpus-scale step of IVF — run it per corpus version,
    * not per query. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, iters: Int = 2): IvfIndex = {
    ArrayMath.register(corpus.sparkSession)
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nCentroids, iters)
    val index = assignToCentroid(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col(vecCol).as("__cv"))
    IvfIndex(centroids, index)
  }

  /** Persist an index: inverted lists parquet-partitioned by centroid so
    * a probe reads only the `nProbe` lists it needs (partition pruning). */
  def writeIvfIndex(ivf: IvfIndex, path: String): Unit = {
    ivf.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    ivf.index.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/index")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/index"))

  /** Incrementally append a batch to a persisted IVF index: assign the
    * new vectors to the index's FROZEN centroids and append their
    * inverted-list rows into the matching centroid partitions. No
    * retraining, no rewrite of history lists — per-increment cost is
    * O(batch × nCentroids) assignment plus an append into the touched
    * partition directories (the reference's pattern would rebuild the
    * whole index per refresh). The correctness law is exact, not
    * approximate: assignment is a pure per-row function of the frozen
    * centroids, so append-then-probe ≡ assign-everything-at-once-then-
    * probe (SimilaritySpec pins it; q83's oracle certifies it
    * end-to-end). The honest trade: frozen centroids drift stale as the
    * embedding distribution shifts — list sizes skew and recall sags —
    * so production retrains on a cadence (a rebuild, amortized over
    * thousands of appends), never per batch. */
  def appendToIvfIndex(s: org.apache.spark.sql.SparkSession, path: String,
                       batch: DataFrame, idCol: String,
                       vecCol: String): Unit = {
    val centroids = s.read.parquet(s"$path/centroids")
    assignToCentroid(batch, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/index")
  }

  /** PURGE vectors from a persisted IVF index — [[appendToIvfIndex]]'s
    * retraction twin (an opted-out document's embedding must leave the
    * index, not just the corpus). The purge batch is assigned to the
    * FROZEN centroids exactly as ingest was; assignment is a pure
    * per-row function of those centroids, so the batch's centroid ids
    * name every inverted-list partition its rows can live in, and only
    * those directories are rewritten (purged `neighbor_id`s
    * anti-joined out, [[graft.operators.Layout.rewritePartitionsInPlace]]'s
    * swap). O(batch × nCentroids) assignment + O(touched partitions)
    * rewrite, never O(index); idempotent (absent rows delete to
    * nothing). The batch must carry the embeddings AS INGESTED — same
    * contract as every pruned-maintenance path here: the vector is
    * what names the partition. Law: purge(index(A∪B), B) holds the
    * same inverted-list rows as index(A) assigned fresh against the
    * same centroids — pinned in SimilaritySpec. */
  def purgeFromIvfIndex(s: org.apache.spark.sql.SparkSession, path: String,
                        purgeBatch: DataFrame, idCol: String,
                        vecCol: String): Unit = {
    val centroids = s.read.parquet(s"$path/centroids")
    val cids = assignToCentroid(purgeBatch, centroids, idCol, vecCol)
      .select(col("centroid_id")).distinct()
      .collect().map(_.get(0)).toSeq
    val ids = purgeBatch.select(col(idCol).as("neighbor_id")).distinct()
    Layout.rewritePartitionsInPlace(s, s"$path/index", "centroid_id", cids) {
      part => part.join(broadcast(ids), Seq("neighbor_id"), "left_anti")
    }
    ()
  }

  /** Probe a built index: `nProbe` nearest centroid lists per query,
    * exact rerank within them. No training happens here — the plan is a
    * broadcast join against the inverted lists (pinned by
    * PlanContractSpec: no Lloyd aggregation in the probe). */
  def probeIvfIndex(ivf: IvfIndex, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nProbe: Int): DataFrame = {
    ArrayMath.register(queries.sparkSession)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(ivf.centroids))
      // rounded for the same engine-exactness reason as assignToCentroid
      .withColumn("__sim", round(ArrayMath.cosineSimilarity(
        col("__qv").cast("array<double>"), col("cvec")), 6))
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    ivf.index.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** IVF approximate top-k in one call (build + probe). Complements
    * lshTopK: IVF adapts buckets to the data distribution (trained),
    * LSH is data-independent (no training pass). Repeated query batches
    * should build once via [[buildIvfIndex]] and probe the artifact.
    * `iters = 0` skips Lloyd entirely: centroids are the nCentroids
    * smallest-id vectors — a deterministic, SQL-expressible quantizer
    * (how the driver oracle certifies the probe machinery); positive
    * `iters` buys recall via data-adapted centroids. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
              iters: Int = 2): DataFrame =
    probeIvfIndex(buildIvfIndex(corpus, idCol, vecCol, nCentroids, iters),
      queries, idCol, vecCol, k, nProbe)

  /** Product-quantization ANN with asymmetric distance computation
    * (ADC) — the memory-bound trillion-vector tier the int8 arm (q72)
    * stops short of: int8 shrinks an f32 store 4×, PQ shrinks it
    * dim·4/m× (m=4 codes for a dim-64 vector is 64× under f32),
    * because a stored vector becomes m CODEBOOK CODES and scoring
    * never touches vectors again — each query computes one
    * m×codebookK lookup table of exact subspace distances, and every
    * corpus score is m table lookups summed.
    *
    * Construction (Jégou et al. 2011, made engine-exact): the corpus
    * is int8-quantized once, each vector sliced into m subvectors;
    * per subspace an INTEGER k-means ([[Clustering.kmeansQuantized]] —
    * which re-quantizes the slice, deterministically) trains the
    * codebook and its final assignment IS the code. Query subvectors
    * take the same slice+re-quantize path, so every ADC distance is
    * an exact integer and the whole construction — training chains,
    * codes, lookup tables, ranking — replays in the SQL oracle; ranks
    * need no rounding convention at all.
    *
    * Plan shape: m driver-resident codebooks (m·codebookK·subdim
    * doubles — metadata); the codes table is the only corpus-sized
    * artifact and nothing wider than (id, s, code) shuffles; the
    * lookup table broadcasts. Approximation error comes from coarse
    * codebooks (recall audited in SimilaritySpec against the exact
    * quantized-space L2 ranking); the production recipe re-ranks an
    * ADC shortlist exactly, which is [[quantizedTopK]]'s discipline
    * composed on top. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, m: Int, codebookK: Int,
             iters: Int, k: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(codebookK >= 1 && k >= 1 && iters >= 0, "bad PQ sizing")
    ArrayMath.register(corpus.sparkSession)
    val subDim = dim / m
    val qv = corpus.select(col(idCol).as("__id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__qv"))
      .where(col("__qv").isNotNull)
    qv.persist()
    try {
      val trained = (0 until m).map { s =>
        val sub = qv.select(col("__id"),
          slice(col("__qv"), s * subDim + 1, subDim).as("__sv"))
        val (assign, cents) = Clustering.kmeansQuantized(
          sub, "__id", "__sv", codebookK, iters)
        (s, assign.select(lit(s).as("__s"), col("id").as("__nid"),
          col("cluster").as("__code")), cents)
      }
      val codes = trained.map(_._2).reduce(_ unionByName _)
      adcScore(codes,
        pqLookup(queries, idCol, vecCol, subDim,
          trained.map { case (s, _, cents) => (s, cents) }), k)
    } finally qv.unpersist(blocking = false)
  }

  /** Per-query ADC lookup tables: for each subspace, the exact integer
    * distance from the query's re-quantized slice to every codebook
    * entry — m·codebookK broadcastable rows per query. */
  private def pqLookup(queries: DataFrame, idCol: String, vecCol: String,
                       subDim: Int,
                       books: Seq[(Int, Seq[(Int, Array[Double])])]): DataFrame = {
    val qfull = queries.select(col(idCol).as("query_id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__qv"))
      .where(col("__qv").isNotNull)
    books.map { case (s, cents) =>
      val sliceQ = ArrayMath.int8Quantize(
        slice(col("__qv"), s * subDim + 1, subDim))
      val entries = cents.map { case (code, cent) =>
        struct(lit(code).as("code"),
          ArrayMath.squaredL2(sliceQ, typedlit(cent.toSeq))
            .cast("long").as("d"))
      }
      qfull.select(col("query_id"), lit(s).as("__s"),
          explode(array(entries: _*)).as("__e"))
        .select(col("query_id"), col("__s"),
          col("__e.code").as("__code"), col("__e.d").as("__d"))
    }.reduce(_ unionByName _)
  }

  /** The ADC scoring tail shared by [[pqTopK]] and [[probePqIndex]]:
    * codes ⋈ broadcast lookup, map-side-combined sum, rank-limited
    * window. `codes` columns: (__nid, __s, __code). */
  private def adcScore(codes: DataFrame, lookup: DataFrame,
                       k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    codes.join(broadcast(lookup), Seq("__s", "__code"))
      .filter(col("__nid") =!= col("query_id"))
      .groupBy(col("query_id"), col("__nid").as("neighbor_id"))
      .agg(sum(col("__d")).as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_dist"))
  }

  /** Persist a PQ index — the codebooks (m·codebookK·subdim doubles)
    * and the codes table, the ONLY corpus-sized artifact (m small ints
    * per vector: the whole point). The codes are [[pqTopK]]'s training
    * assignments, so build-then-probe ≡ the one-shot operator (law).
    * The frozen codebooks make the append law exact: encoding is a
    * pure per-row function of them. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, m: Int, codebookK: Int, iters: Int,
                   path: String): Unit = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val spark = corpus.sparkSession
    ArrayMath.register(spark)
    val subDim = dim / m
    val qv = corpus.select(col(idCol).as("__id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__qv"))
      .where(col("__qv").isNotNull)
    qv.persist()
    try {
      import spark.implicits._
      val trained = (0 until m).map { s =>
        val sub = qv.select(col("__id"),
          slice(col("__qv"), s * subDim + 1, subDim).as("__sv"))
        val (assign, cents) = Clustering.kmeansQuantized(
          sub, "__id", "__sv", codebookK, iters)
        (s, assign, cents)
      }
      trained.flatMap { case (s, _, cents) =>
        cents.map { case (cid, v) => (s, cid, v.toSeq) }
      }.toDF("s", "cid", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      trained.map { case (s, assign, _) =>
        assign.select(col("id").as("vec_id"), lit(s).as("s"),
          col("cluster").as("code"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("s").parquet(s"$path/codes")
    } finally qv.unpersist(blocking = false)
  }

  private def readPqCodebooks(s: org.apache.spark.sql.SparkSession,
                              path: String): Seq[(Int, Seq[(Int, Array[Double])])] =
    s.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (sub, rows) =>
        (sub, rows.map(r => (r._2, r._3)).sortBy(_._1).toSeq)
      }

  /** Encode a batch against the FROZEN codebooks and append its codes —
    * no retraining, no rewrite of history (the q83 IVF-append
    * discipline applied to PQ). Law: append(build(A), B) holds the
    * same code rows as build over A∪B with A's codebooks (encoding is
    * pure per-row; SimilaritySpec). */
  def appendToPqIndex(s: org.apache.spark.sql.SparkSession, path: String,
                      batch: DataFrame, idCol: String, vecCol: String,
                      dim: Int): Unit = {
    val books = readPqCodebooks(s, path)
    val subDim = dim / books.size
    ArrayMath.register(s)
    val qv = batch.select(col(idCol).as("__id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__qv"))
      .where(col("__qv").isNotNull)
    books.map { case (sub, cents) =>
      val sliced = qv.select(col("__id"),
        slice(col("__qv"), sub * subDim + 1, subDim).as("__sv"))
      Clustering.assignToCentroids(sliced, "__id", "__sv", cents)
        .select(col("id").as("vec_id"), lit(sub).as("s"),
          col("cluster").as("code"))
    }.reduce(_ unionByName _)
      .write.mode("append").partitionBy("s").parquet(s"$path/codes")
  }

  /** ADC top-k against the PERSISTED index: the scoring plan touches
    * only the stored codes and a broadcast per-query lookup — no
    * vector but the queries' own is ever read, which is the PQ
    * serving contract made visible. */
  def probePqIndex(s: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   dim: Int, k: Int): DataFrame = {
    val books = readPqCodebooks(s, path)
    val subDim = dim / books.size
    ArrayMath.register(s)
    val codes = s.read.parquet(s"$path/codes")
      .select(col("vec_id").as("__nid"), col("s").cast("int").as("__s"),
        col("code").as("__code"))
    adcScore(codes, pqLookup(queries, idCol, vecCol, subDim, books), k)
  }

  /** IVF-PQ with residual encoding (Jégou et al. 2011, the
    * billion-to-trillion-vector serving shape faiss calls IVFADC):
    * a coarse integer k-means partitions the corpus into inverted
    * lists, each vector is PQ-encoded as its RESIDUAL from its list's
    * centroid (residuals concentrate near 0, so the same codebook
    * budget quantizes them far more finely than raw vectors), and a
    * query probes only its `nProbe` nearest lists — ADC scoring
    * touches codes of probed lists only, never a corpus vector.
    *
    * Engine-exact construction on top of the certified pieces:
    * the coarse quantizer is [[Clustering.kmeansQuantized]] over the
    * int8 space (exact integer Lloyd, keepVec so the residual
    * subtraction is a projection, not a second pass); residual =
    * qv − centroid is exact integer `zip_with`; each subspace
    * codebook is another integer k-means over the sliced residuals
    * (re-quantized per row, the [[pqTopK]] discipline); the query
    * takes the SAME path per probed list — residual against that
    * list's centroid, slice, re-quantize, exact integer lookup
    * table. Every distance is an exact integer, so the full
    * composition — coarse chain, routing, residuals, m codebook
    * chains, probes, lookups, ADC — replays in the SQL oracle.
    *
    * Plan shape: coarse centroids and codebooks are driver-resident
    * metadata (nCoarse·dim + m·codebookK·subDim doubles); the codes
    * table is the only corpus-sized artifact, (id, cid, m codes)
    * wide; probes and lookup tables broadcast
    * (|q|·nProbe·(1 + m·codebookK) rows); the ADC aggregate sees
    * only probed-list candidates — the IVF economics composed with
    * the PQ memory economics. `cid` rides along in the output naming
    * the list each neighbor was served from (audit column). */
  /** `train`: the production train/serve split (the q132 discipline
    * applied to the whole IVF-PQ family) — when given, the coarse
    * quantizer AND every per-subspace codebook train on `train`'s rows
    * ONLY, and the full corpus is then FROZEN-routed / frozen-encoded
    * through the fixed models (train once, encode forever). Routing
    * and encoding are pure per-row argmins over the final centroids,
    * so passing `train = Some(corpus)` is bit-identical to no split
    * (law in SimilaritySpec) — the split changes what the models SAW,
    * never how rows are served. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, nCoarse: Int, coarseIters: Int,
                m: Int, codebookK: Int, pqIters: Int, nProbe: Int,
                k: Int, train: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nCoarse >= 1 && nProbe >= 1 && codebookK >= 1 && k >= 1,
      "bad IVF-PQ sizing")
    ArrayMath.register(corpus.sparkSession)
    val subDim = dim / m
    // coarse quantizer + per-row residuals. No split: the training
    // loop's own final assignment IS the routing (keepVec: one pass).
    // Split: train the model on the slice, frozen-route the corpus.
    val (coarse, coarseCents) = train match {
      case None =>
        Clustering.kmeansQuantized(corpus, idCol, vecCol, nCoarse,
          coarseIters, keepVec = true)
      case Some(t) =>
        val (_, cents) = Clustering.kmeansQuantized(t, idCol, vecCol,
          nCoarse, coarseIters)
        (Clustering.assignToCentroidsKeepVec(corpus, idCol, vecCol, cents),
          cents)
    }
    def residualFrom(qvCol: Column, cidCol: Column): Column =
      coarseCents.tail.foldLeft(
        when(cidCol === coarseCents.head._1,
          zip_with(qvCol, typedlit(coarseCents.head._2.toSeq),
            (a, b) => a - b))) { case (acc, (cid, cent)) =>
        acc.when(cidCol === cid,
          zip_with(qvCol, typedlit(cent.toSeq), (a, b) => a - b))
      }
    val resid = coarse.select(col("id").as("__nid"),
        col("cluster").as("__cid"),
        residualFrom(col("qv"), col("cluster")).as("__res"))
    resid.persist()
    try {
      // per-subspace codebooks over the residual slices; under the
      // split, codebooks see only the train rows' residuals (slim
      // id-only semi-join) and every row is frozen-encoded after
      val trainIds = train.map(_.select(col(idCol).as("__nid")))
      val trained = (0 until m).map { s =>
        val sub = resid.select(col("__nid"),
          slice(col("__res"), s * subDim + 1, subDim).as("__sv"))
        trainIds match {
          case None =>
            val (assign, cents) = Clustering.kmeansQuantized(
              sub, "__nid", "__sv", codebookK, pqIters)
            (s, assign.select(lit(s).as("__s"), col("id").as("__nid"),
              col("cluster").as("__code")), cents)
          case Some(ids) =>
            val (_, cents) = Clustering.kmeansQuantized(
              sub.join(ids, Seq("__nid"), "left_semi"),
              "__nid", "__sv", codebookK, pqIters)
            val assign = Clustering.assignToCentroids(sub, "__nid", "__sv",
              cents)
            (s, assign.select(lit(s).as("__s"), col("id").as("__nid"),
              col("cluster").as("__code")), cents)
        }
      }
      val codes = trained.map(_._2).reduce(_ unionByName _)
        .join(resid.select(col("__nid"), col("__cid")), Seq("__nid"))
      // query coarse probes: exact integer L2, top-nProbe lists
      val qqv = queries.select(col(idCol).as("query_id"),
          ArrayMath.int8Quantize(col(vecCol)).as("__qv"))
        .where(col("__qv").isNotNull)
      val probeEntries = coarseCents.map { case (cid, cent) =>
        struct(lit(cid).as("c"),
          ArrayMath.squaredL2(col("__qv"), typedlit(cent.toSeq))
            .cast("long").as("d"))
      }
      val wp = Window.partitionBy(col("query_id"))
        .orderBy(col("__d").asc, col("__cid"))
      val probes = qqv
        .select(col("query_id"), col("__qv"),
          explode(array(probeEntries: _*)).as("__e"))
        .select(col("query_id"), col("__qv"),
          col("__e.c").as("__cid"), col("__e.d").as("__d"))
        .withColumn("__pr", row_number().over(wp))
        .filter(col("__pr") <= nProbe)
        .select(col("query_id"), col("__cid"),
          residualFrom(col("__qv"), col("__cid")).as("__qres"))
      // per-(query, probed list) lookup tables over the codebooks
      val lookup = trained.map { case (s, _, cents) =>
        val sliceQ = ArrayMath.int8Quantize(
          slice(col("__qres"), s * subDim + 1, subDim))
        val entries = cents.map { case (code, cent) =>
          struct(lit(code).as("code"),
            ArrayMath.squaredL2(sliceQ, typedlit(cent.toSeq))
              .cast("long").as("d"))
        }
        probes.select(col("query_id"), col("__cid"), lit(s).as("__s"),
            explode(array(entries: _*)).as("__e"))
          .select(col("query_id"), col("__cid"), col("__s"),
            col("__e.code").as("__code"), col("__e.d").as("__d"))
      }.reduce(_ unionByName _)
      // ADC over probed-list candidates only
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("neighbor_id"))
      val out = codes
        .join(broadcast(probes.select(col("query_id"), col("__cid"))),
          Seq("__cid"))
        .filter(col("__nid") =!= col("query_id"))
        .join(broadcast(lookup), Seq("query_id", "__cid", "__s", "__code"))
        .groupBy(col("query_id"), col("__nid").as("neighbor_id"),
          col("__cid").as("cid"))
        .agg(sum(col("__d")).as("adc_dist"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("adc_dist"), col("cid").cast("int"))
        .localCheckpoint(eager = true)
      out
    } finally resid.unpersist(blocking = false)
  }

  /** [[pqTopK]] composed with an EXACT full-space rerank — the
    * production PQ recipe (and the reason fixture-recall limits of
    * raw ADC don't bound the composition): ADC's job is only to name
    * a `shortlist` of candidates from the codes table; the final
    * order comes from exact integer L2 over the full int8 vectors of
    * just those candidates. Per query the rerank touches `shortlist`
    * vectors instead of the corpus — the [[quantizedTopK]] economics
    * with PQ as the shortlister. `q_rank` (the ADC rank) rides along
    * as the visible evidence of how much the exact pass reordered.
    * Law: an exhaustive shortlist makes the output the exact
    * quantized-space L2 ranking (SimilaritySpec). */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, dim: Int, m: Int, codebookK: Int,
                     iters: Int, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val short = pqTopK(corpus, queries, idCol, vecCol, dim, m, codebookK,
        iters, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("q_rank"))
    val vn = corpus.select(col(idCol).as("neighbor_id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__vn"))
      .where(col("__vn").isNotNull)
    val vq = queries.select(col(idCol).as("query_id"),
        ArrayMath.int8Quantize(col(vecCol)).as("__vq"))
      .where(col("__vq").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id"))
    vn.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(vq), Seq("query_id"))
      .withColumn("l2_dist",
        ArrayMath.squaredL2(col("__vq"), col("__vn")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("l2_dist"), col("q_rank"))
  }

  /** All near-duplicate pairs by embedding cosine ≥ threshold — the
    * embedding-space analogue of TextOps.minhashDedupPairs, in the
    * banded multi-table form (like q11's MinHash banding): `nTables`
    * independent bands of `nPlanes` hyperplanes each; a pair is a
    * candidate when it agrees on EVERY plane of ANY band, then every
    * candidate is verified exactly on the rounded cosine.
    *
    * Sizing is what makes this corpus-size-safe: each band has 2^nPlanes
    * bucket keys, so size nPlanes ≳ log2(corpus) and the expected bucket
    * occupancy — hence the per-band self-join — stays O(n), never
    * Θ(n²/2^p) on a fixed tiny key space (a single wide table can't
    * spread across more tasks than it has keys). Recall lost to the
    * narrower per-band agreement comes back across bands:
    * P(candidate at cosine c) = 1 − (1 − (1 − acos(c)/π)^nPlanes)^nTables
    * — ≈ 1 for true near-dups (c ≥ 0.95) at nPlanes = 12, nTables = 16
    * even on a billion-vector corpus. [[cosineDedupPairsAuto]] applies
    * the log2 rule for you. Precision is always exact (candidates are
    * verified); only recall is probabilistic. */
  def cosineDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nPlanes: Int,
                       nTables: Int = 16): DataFrame = {
    ArrayMath.register(corpus.sparkSession)
    val b = lshBuckets(graft.Engine.fanOutIfNarrow(corpus, col(idCol)),
      vecCol, nPlanes, nTables)
      .select(col(idCol), col("table"), col("bucket"))
    val l = b.select(col(idCol).as("id_a"), col("table"), col("bucket"))
    val r = b.select(col(idCol).as("id_b"), col("table"), col("bucket"))
    // dedupe candidates ACROSS bands on IDS ALONE, then re-attach the
    // vectors by joining the corpus back. In a duplicate storm a pair
    // agrees on most of the nTables bands, so pre-distinct candidate
    // multiplicity is ~nTables×; dragging two full vectors per
    // replicated row through the distinct's hash aggregate was measured
    // 50× slower than deduping bare id pairs and paying two slim joins
    // (which the planner broadcasts when the corpus is small).
    val cand = l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      // threshold the ROUNDED value (like every ANN rank): the kept set
      // becomes engine-exact instead of hinging on last-ulp sums for
      // pairs sitting precisely on the threshold
      .withColumn("cosine",
        round(ArrayMath.cosineSimilarity(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Bit width of the per-band key space for a corpus of `n` vectors:
    * ⌈log2 n⌉ (so 2^planes ≥ n), clamped to the kernel's [1, 62]. */
  def autoPlanes(n: Long): Int = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(62, math.max(1, bits))
  }

  /** [[cosineDedupPairs]] with the per-band key space sized from the
    * corpus itself (one metadata-scale count; at 100 TB that's a
    * parquet-footer statistic, not a scan). The default entry point —
    * callers who know their corpus size can pass nPlanes explicitly. */
  def cosineDedupPairsAuto(corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nTables: Int = 16): DataFrame =
    cosineDedupPairs(corpus, idCol, vecCol, threshold,
      autoPlanes(corpus.count()), nTables)

  /** SemDeDup — semantic deduplication via cluster blocking (Abbas et
    * al. 2023, arXiv:2303.09540): k-means the embedding space, compare
    * pairs ONLY within a cluster, drop the more-prototypical member of
    * each near-dup pair. The cluster plays the role the LSH band plays
    * in [[cosineDedupPairs]] — but the blocks are SEMANTIC, so the
    * operator also catches paraphrase-level duplicates whose cosine
    * (0.3–0.7) sits far below any LSH-band agreement threshold.
    *
    * Exactness: vectors are int8-quantized (the [[Clustering]] loop's
    * own space, so clusters here ≡ q97's clusters bit-for-bit) and the
    * pair decision is pure integer arithmetic — keep iff dot > 0 and
    * dot²·thrDen ≥ thrNum·‖a‖²·‖b‖² with thrNum/thrDen = threshold²
    * as an exact rational. No float comparison anywhere in the kept-set
    * decision, so the oracle replays clustering, capping AND pairing.
    * The reported `cosine` is display-only (rounded like every ANN arm).
    *
    * Drop rule (the paper's, made deterministic): within a pair the
    * member CLOSER to its centroid (smaller exact integer `dist`) is
    * the droppable prototype; ties break toward the larger id.
    *
    * Scale contract: pair cost is Σ_c min(|c|, cap)²/2. The paper runs
    * k ≈ n/⟨cluster⟩ (tens of thousands of clusters at corpus scale) so
    * |c| is already bounded in expectation; `clusterCap` is the
    * deterministic degrade path for the skewed cluster (the
    * HardMaxPostings discipline: the cap keeps the min(|c|, cap) rows
    * with the smallest (hash, id) via [[Sampling.stratumCap]]'s
    * two-phase histogram — no data-sized window), and dropped rows are
    * observable as assignment−capped. The self-join is an equi-join on
    * cluster id — k keys, so k must scale with the corpus exactly as
    * the paper prescribes; nothing wider than (id, dist, qv) shuffles. */
  /** Overflow fence for the integer pair decision. Both sides of
    * dot²·thrDen ≥ thrNum·‖a‖²·‖b‖² are evaluated in Long; with int8
    * quantization, |dot| and ‖·‖² are each ≤ dim·127², so the worst
    * operand is (dim·127²)²·max(thrNum, thrDen). Spark's non-ANSI Long
    * arithmetic WRAPS silently past 2^63−1 — wrong keep/drop decisions
    * while the DuckDB oracle (HUGEINT) stays right — so fail loudly at
    * entry. Peeks one row for the dimension (a metadata-scale job; the
    * empty input trivially fits). The safe envelope in practice:
    * dim ≤ 1000 with thrDen ≤ 3·10⁴, or any (dim, thr) with
    * (dim·127²)²·max(thrNum, thrDen) ≤ 2^63−1. */
  /** `knownDim` (round-19 optimization): the serve path already holds
    * the store's centroid table driver-side, and every vector that can
    * REACH a pair decision there has the centroid dimension (a
    * mismatched batch vector dots to NULL against every centroid /
    * member — [[graft.functions.ArrayMath]]'s contract — and the
    * `__dot > 0` pair filter drops it, so it cannot overflow). Passing
    * the known dimension keeps the fence's loud-failure contract while
    * skipping the one-row peek, which on a composed serve plan was a
    * real executeTake job cascade per call (measured: 15 jobs / 1.3 s
    * of an 8.4 s serve — guide §5, the driver should do almost no data
    * work). */
  private[operators] def requirePairDecisionFits(
      vecs: DataFrame, vecCol: String, thrNum: Long, thrDen: Long,
      knownDim: Option[Int] = None): Unit = knownDim match {
    case Some(d) => requireDimFits(d, thrNum, thrDen)
    case None =>
      val first = vecs.select(col(vecCol)).limit(1).collect()
      if (first.nonEmpty && !first(0).isNullAt(0))
        requireDimFits(first(0).getSeq[Any](0).size, thrNum, thrDen)
  }

  private[operators] def requireDimFits(dim: Int, thrNum: Long,
                                        thrDen: Long): Unit = {
    val m = BigInt(dim) * BigInt(127L * 127L)
    val worst = m * m * BigInt(math.max(thrNum, thrDen))
    require(worst <= BigInt(Long.MaxValue),
      s"integer pair decision would overflow Long: dim=$dim with " +
        s"threshold rational $thrNum/$thrDen gives a worst operand " +
        s"(dim·127²)²·max(thrNum,thrDen) = $worst > 2^63−1, and Spark's " +
        s"non-ANSI Long math wraps silently — reduce the rational's " +
        s"denominator (the same threshold at lower precision) or the " +
        s"dimension")
  }

  def semDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, thrNum: Long, thrDen: Long,
                    clusterCap: Long, seed: String = "graft"): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    require(clusterCap > 1, s"clusterCap=$clusterCap: need at least a pair")
    requirePairDecisionFits(corpus, vecCol, thrNum, thrDen)
    // keepVec: the training loop's own final assignment already has the
    // quantized vectors — re-routing the corpus would repeat the
    // O(n·k·dim) assignment, the dominant cost at SemDeDup's k ∝ n
    val (av, _) = Clustering.kmeansQuantized(corpus, idCol, vecCol, k, iters,
      keepVec = true)
    semPairsWithin(av, thrNum, thrDen, clusterCap, seed)
  }

  /** [[semDedupPairs]]'s pair tail over an assignment that ALREADY
    * carries quantized vectors (columns id, cluster, dist, qv — the
    * [[Clustering.kmeansQuantized]] keepVec shape): cap per cluster,
    * decide every within-cluster pair with the integer threshold, name
    * the droppable prototype. Exposed so a composition that trains ONE
    * model and serves several stages (the q139 closed loop) doesn't
    * re-cluster per stage. */
  def semPairsWithin(av: DataFrame, thrNum: Long, thrDen: Long,
                     clusterCap: Long, seed: String = "graft",
                     knownDim: Option[Int] = None): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    require(clusterCap > 1, s"clusterCap=$clusterCap: need at least a pair")
    // direct callers (q139-style compositions) bypass semDedupPairs'
    // raw-vector fence — re-check on the quantized column, same bound
    // (the fence only reads the array's length, so qv works); callers
    // that hold the model driver-side pass knownDim and skip the peek
    requirePairDecisionFits(av, "qv", thrNum, thrDen, knownDim)
    // cut the capped set ONCE (round-20): the self-join consumes it on
    // both sides, and static exchange reuse never merged the two
    // subtrees — the full two-phase cap (histogram exchange + bounds
    // broadcast + boundary window) executed TWICE per call. The
    // materialized block is pair-stage-sized by the cap contract
    // (Σ_c min(|c|, cap) rows — the very rows the join shuffles).
    val capped = Sampling.stratumCap(av, "cluster", "id", clusterCap, seed = seed)
      .withColumn("__n2", ArrayMath.dotProduct(col("qv"), col("qv")).cast("long"))
      .localCheckpoint(eager = true)
    val a = capped.select(col("cluster"), col("id").as("id_a"),
      col("dist").as("__da"), col("qv").as("__qa"), col("__n2").as("__na"))
    val b = capped.select(col("cluster"), col("id").as("id_b"),
      col("dist").as("__db"), col("qv").as("__qb"), col("__n2").as("__nb"))
    val dot = ArrayMath.dotProduct(col("__qa"), col("__qb")).cast("long")
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__dot", dot)
      .filter(col("__dot") > 0 &&
        col("__dot") * col("__dot") * lit(thrDen) >=
          lit(thrNum) * col("__na") * col("__nb"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(col("__dot").cast("double") /
          sqrt((col("__na") * col("__nb")).cast("double")), 6).as("cosine"),
        when(col("__da") < col("__db"), col("id_a"))
          .when(col("__db") < col("__da"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("drop_id"))
  }

  /** Cap BOTH sides of a cross pair stage per cluster in ONE two-phase
    * histogram pass (round-20, guide §2.4 — share one exchange): union
    * the sides under a `__side` tag and stratify by
    * struct(side, cluster). [[Sampling.stratumCap]]'s per-row hash
    * depends only on (id, seed), so the fused cap keeps EXACTLY the
    * rows the two per-side caps kept (law in SimilaritySpec). The
    * capped result is cut once (localCheckpoint) — it is
    * pair-stage-sized by the cap contract (Σ_c min(|c|, cap) rows per
    * side, the same rows the pair join shuffles anyway) — so the
    * join's two consumers read the materialized block instead of each
    * re-running a full cap subtree. Halves the cap machinery's passes
    * and stages per probe/across call. Returns (members side, probes
    * side), each (cluster, id, qv, __n2). */
  private[operators] def capBothSides(members: DataFrame, probes: DataFrame,
                                      clusterCap: Long,
                                      seed: String): (DataFrame, DataFrame) = {
    def tagged(df: DataFrame, side: String) =
      df.select(col("cluster"), col("id"), col("qv"), lit(side).as("__side"))
    val u = tagged(members, "m").unionByName(tagged(probes, "p"))
      .withColumn("__sc", struct(col("__side"), col("cluster")))
    val capped = Sampling.stratumCap(u, "__sc", "id", clusterCap, seed = seed)
      .withColumn("__n2",
        ArrayMath.dotProduct(col("qv"), col("qv")).cast("long"))
      .localCheckpoint(eager = true)
    (capped.filter(col("__side") === "m").drop("__side", "__sc"),
      capped.filter(col("__side") === "p").drop("__side", "__sc"))
  }

  /** The cross-corpus pair tail shared by [[probeSemStore]] and
    * [[semContaminationPairs]]: both sides (columns id, cluster, qv)
    * capped per cluster (smallest-(hash, id), two-phase, fused across
    * sides — [[capBothSides]]), every within-cluster A×B pair decided
    * by the integer threshold.
    * Output: (cluster, store_id, batch_id, cosine). */
  def semPairsAcross(members: DataFrame, probes: DataFrame,
                     thrNum: Long, thrDen: Long, clusterCap: Long,
                     seed: String = "graft",
                     knownDim: Option[Int] = None): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    // both sides' norms bound the decision independently — fence each
    // on its own quantized dim (direct callers bypass the raw fence);
    // a knownDim covers both sides: the routed assignment shape means
    // both were quantized against the same centroid table
    requirePairDecisionFits(members, "qv", thrNum, thrDen, knownDim)
    requirePairDecisionFits(probes, "qv", thrNum, thrDen, knownDim)
    val (am, bp) = capBothSides(members, probes, clusterCap, seed)
    val a = am.select(col("cluster"),
      col("id").as("store_id"), col("qv").as("__qa"), col("__n2").as("__na"))
    val b = bp.select(col("cluster"),
      col("id").as("batch_id"), col("qv").as("__qb"), col("__n2").as("__nb"))
    val dot = ArrayMath.dotProduct(col("__qa"), col("__qb")).cast("long")
    a.join(b, Seq("cluster"))
      .withColumn("__dot", dot)
      .filter(col("__dot") > 0 &&
        col("__dot") * col("__dot") * lit(thrDen) >=
          lit(thrNum) * col("__na") * col("__nb"))
      .select(col("cluster"), col("store_id"), col("batch_id"),
        round(col("__dot").cast("double") /
          sqrt((col("__na") * col("__nb")).cast("double")), 6).as("cosine"))
  }

  /** Semantic benchmark decontamination — [[semDedupPairs]]'s cluster
    * blocking applied ACROSS two corpora: train k-means on the
    * training corpus only, route BOTH sides through the frozen
    * centroids (the q109 serve-path discipline — the benchmark must
    * never influence the cluster structure), then decide every
    * within-cluster (corpus × benchmark) pair with the same pure
    * integer threshold. The semantic complement to lexical
    * n-gram contamination (q44): a paraphrased eval question shares
    * no 8-gram with its source but sits at cosine 0.4+ in embedding
    * space.
    *
    * Same scale contract as [[semDedupPairs]]: per-cluster caps on
    * both sides (smallest-(hash, id), two-phase, observable drops),
    * equi-join on cluster id, nothing wider than (id, qv) shuffles.
    * Output: (cluster, corpus_id, bench_id, cosine ≥ threshold). */
  def semContaminationPairs(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            k: Int, iters: Int, thrNum: Long, thrDen: Long,
                            clusterCap: Long,
                            seed: String = "graft"): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    require(clusterCap >= 1, s"clusterCap=$clusterCap must be positive")
    requirePairDecisionFits(corpus, vecCol, thrNum, thrDen)
    // corpus side reuses the training loop's own final assignment
    // (keepVec); only the benchmark pays a frozen-routing pass. Both
    // sides capped in one fused pass ([[capBothSides]]).
    val (avCorpus, cents) = Clustering.kmeansQuantized(corpus, idCol, vecCol,
      k, iters, keepVec = true)
    val (am, bp) = capBothSides(avCorpus,
      Clustering.assignToCentroidsKeepVec(bench, idCol, vecCol, cents),
      clusterCap, seed)
    val a = am.select(col("cluster"), col("id").as("corpus_id"),
      col("qv").as("__qa"), col("__n2").as("__na"))
    val b = bp
      .select(col("cluster"), col("id").as("bench_id"),
        col("qv").as("__qb"), col("__n2").as("__nb"))
    val dot = ArrayMath.dotProduct(col("__qa"), col("__qb")).cast("long")
    a.join(b, Seq("cluster"))
      .withColumn("__dot", dot)
      .filter(col("__dot") > 0 &&
        col("__dot") * col("__dot") * lit(thrDen) >=
          lit(thrNum) * col("__na") * col("__nb"))
      .select(col("cluster"), col("corpus_id"), col("bench_id"),
        round(col("__dot").cast("double") /
          sqrt((col("__na") * col("__nb")).cast("double")), 6).as("cosine"))
  }

  /** Persisted semantic-dedup store — [[semDedupPairs]]'s cluster
    * structure as a maintained artifact, so the 15-minute ingest loop
    * dedups each batch against the corpus WITHOUT re-clustering or
    * re-routing history (the q83/q87 incremental-store discipline
    * applied to the semantic arm).
    *
    * Layout: `path/centroids` (the frozen quantizer — k·dim rows) and
    * `path/members` (every routed row: id, cluster, dist, qv),
    * parquet-partitioned by cluster so probes and purges touch only
    * the lists they name. Members are stored UNCAPPED — the
    * per-cluster cap is applied AT PROBE TIME (two-phase, no window) —
    * which is what makes every lifecycle law exact rather than
    * approximate: routing is a pure per-row function of the frozen
    * centroids, so append(build(A), B) ≡ build(A∪B) and
    * purge(build(A∪B), B) ≡ build(A) CONTENT-EQUAL (a capped store
    * could never refill rows the cap displaced). Probe-time capping
    * costs a scan of the probed clusters' lists — the same class as a
    * BM25 posting-list read (TextOps), and the price of exact purge. */
  def writeSemStore(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    val (av, cents) = Clustering.kmeansQuantized(corpus, idCol, vecCol,
      k, iters, keepVec = true)
    import spark.implicits._
    cents.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    av.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/members")
  }

  private[graft] def readSemCents(s: org.apache.spark.sql.SparkSession,
                                  path: String): Seq[(Int, Array[Double])] =
    s.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)

  /** Route a batch against the store's frozen centroids and append its
    * rows into the matching cluster partitions. Exact law:
    * append(build(A), B) holds the same member rows as build over A∪B
    * with A's centroids (routing is pure per-row; SimilaritySpec). */
  def appendToSemStore(s: org.apache.spark.sql.SparkSession, path: String,
                       batch: DataFrame, idCol: String,
                       vecCol: String): Unit =
    Clustering.assignToCentroidsKeepVec(batch, idCol, vecCol,
        readSemCents(s, path))
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/members")

  /** Retraction twin: remove a batch's ids from the store. The batch's
    * embeddings name (via frozen routing) every partition its rows can
    * live in — only those directories are rewritten
    * ([[graft.operators.Layout.rewritePartitionsInPlace]]). Exact law:
    * purge(build(A∪B), B) ≡ build(A) content-equal, because members
    * are uncapped. Idempotent. */
  def purgeFromSemStore(s: org.apache.spark.sql.SparkSession, path: String,
                        purgeBatch: DataFrame, idCol: String,
                        vecCol: String): Unit = {
    val routed = Clustering.assignToCentroidsKeepVec(purgeBatch, idCol,
      vecCol, readSemCents(s, path))
    val cids = routed.select(col("cluster")).distinct()
      .collect().map(_.get(0)).toSeq
    val ids = purgeBatch.select(col(idCol).as("id")).distinct()
    Layout.rewritePartitionsInPlace(s, s"$path/members", "cluster", cids) {
      part => part.join(broadcast(ids), Seq("id"), "left_anti")
    }
    ()
  }

  /** Near-dup pairs of a batch AGAINST the store: route the batch
    * through the frozen centroids, cap both sides per cluster
    * (smallest-(hash, id), two-phase), decide each within-cluster
    * (store × batch) pair with the integer threshold. Equivalent by
    * construction to the direct frozen-centroid composition over the
    * store's source corpus (law in SimilaritySpec) — the store buys
    * not re-routing history, not different answers.
    *
    * `batchCut`: for stream-layout stores (members partitioned by
    * `b=<batchId>`), probe only members with b < batchCut. This is the
    * redelivery fence SemStream needs: a crashed attempt may have
    * landed its own `b=batchId` member rows before the commit marker,
    * and an unfenced re-probe would then pair the batch against itself
    * (self-pairs at cosine 1), breaking the "pairs see exactly the
    * prior members" law. Batch-layout stores have no `b` column — leave
    * batchCut empty there. */
  def probeSemStore(s: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, idCol: String, vecCol: String,
                    thrNum: Long, thrDen: Long, clusterCap: Long,
                    seed: String = "graft",
                    batchCut: Option[Long] = None,
                    knownDim: Option[Int] = None): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    requirePairDecisionFits(batch, vecCol, thrNum, thrDen, knownDim)
    val cents = readSemCents(s, path)
    val raw = s.read.parquet(s"$path/members")
    // partition columns read back as Integer — cast, don't assume Long
    val fenced = batchCut.fold(raw)(c =>
      raw.filter(col("b").cast("long") < lit(c)))
    val members = fenced
      .select(col("id"), col("cluster").cast("int").as("cluster"),
        col("dist"), col("qv"))
    probePairsAgainst(members,
      Clustering.assignToCentroidsKeepVec(batch, idCol, vecCol, cents),
      thrNum, thrDen, clusterCap, seed)
  }

  /** [[probeSemStore]] for a batch that is ALREADY routed against the
    * store's centroids (the assignToCentroidsKeepVec shape: id,
    * cluster, dist, qv) — the serve path holds exactly that table for
    * its within-batch stage, and routing is per-row pure, so probing
    * the restricted assignment ≡ re-routing the restricted raw batch
    * (law in SimilaritySpec). Skips one quantize+route kernel pass and
    * one batch-vector join per serve. */
  /** `probeClusters` (round-20): a SUPERSET of the routed batch's
    * cluster ids, from a source the caller can scan cheaply (the serve
    * path's checkpointed assignment). Pairs form only on shared cluster
    * ids and the cap is per-cluster, so restricting the member side to
    * these clusters BEFORE its cap is exact — and turns the store-side
    * histogram from store-sized into probed-lists-sized (with the
    * members laid out partitioned-by-cluster, that is partition
    * pruning: the serve reads only the lists the batch routed to, the
    * IVF economics applied to the dedup probe). */
  def probeSemStoreRouted(s: org.apache.spark.sql.SparkSession, path: String,
                          routedBatch: DataFrame,
                          thrNum: Long, thrDen: Long, clusterCap: Long,
                          seed: String = "graft",
                          batchCut: Option[Long] = None,
                          knownDim: Option[Int] = None,
                          probeClusters: Option[DataFrame] = None): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold² = $thrNum/$thrDen must be a rational in [0, 1]")
    requirePairDecisionFits(routedBatch, "qv", thrNum, thrDen, knownDim)
    val raw = s.read.parquet(s"$path/members")
    val fenced = batchCut.fold(raw)(c =>
      raw.filter(col("b").cast("long") < lit(c)))
    val members = fenced
      .select(col("id"), col("cluster").cast("int").as("cluster"),
        col("dist"), col("qv"))
    val probed = probeClusters.fold(members)(pc =>
      members.join(broadcast(pc.select(col("cluster").cast("int")
        .as("cluster"))), Seq("cluster"), "left_semi"))
    probePairsAgainst(probed, routedBatch, thrNum, thrDen, clusterCap, seed)
  }

  /** Shared pair tail of [[probeSemStore]]/[[probeSemStoreRouted]]:
    * cap both routed sides per cluster, decide every within-cluster
    * (store × batch) pair with the integer threshold. */
  private def probePairsAgainst(members: DataFrame, routedBatch: DataFrame,
                                thrNum: Long, thrDen: Long, clusterCap: Long,
                                seed: String): DataFrame = {
    val (am, bp) = capBothSides(members, routedBatch, clusterCap, seed)
    val a = am.select(col("cluster"),
      col("id").as("store_id"), col("qv").as("__qa"), col("__n2").as("__na"))
    val b = bp
      .select(col("cluster"), col("id").as("batch_id"),
        col("qv").as("__qb"), col("__n2").as("__nb"))
    val dot = ArrayMath.dotProduct(col("__qa"), col("__qb")).cast("long")
    a.join(b, Seq("cluster"))
      .withColumn("__dot", dot)
      .filter(col("__dot") > 0 &&
        col("__dot") * col("__dot") * lit(thrDen) >=
          lit(thrNum) * col("__na") * col("__nb"))
      .select(col("cluster"), col("store_id"), col("batch_id"),
        round(col("__dot").cast("double") /
          sqrt((col("__na") * col("__nb")).cast("double")), 6).as("cosine"))
  }

  /** Late-interaction (MaxSim) retrieval over MULTI-vector documents —
    * the ColBERT-family scoring every single-vector ANN arm here
    * cannot express: a document is a BAG of vectors (one per token /
    * passage / frame), a query likewise, and
    *
    *   score(q, d) = Σ_{qv ∈ q} max_{dv ∈ d} cosine(qv, dv)
    *
    * — each query vector independently finds its best-matching
    * document vector, so a long document is never penalized for
    * containing extra material (the failure mode of pooling a document
    * to one vector before retrieval).
    *
    * Exactness discipline: each pairwise cosine is rounded to 6 dp
    * BEFORE the max (max commutes with rounding only if applied on the
    * same side in both engines), and the per-query-vector maxima are
    * summed as DECIMAL — score and rank are bit-identical
    * cross-engine, the q85 BM25 convention applied to late
    * interaction.
    *
    * Plan shape: the query bag broadcasts; the corpus's vector table is
    * scanned once, never shuffled with payloads — only slim
    * (query_id, qvec_id, doc_id, rounded-cosine) rows enter the
    * two-level aggregate (max per query-vector×doc, then the decimal
    * sum per query×doc), both with map-side partial aggregation. This
    * is the EXACT arm — cost O(|corpus vecs|·|query vecs|·dim), the
    * recall baseline. The scale path at 100 TB composes the existing
    * single-vector machinery: shortlist candidate doc_ids per query
    * vector with [[quantizedTopK]]/[[probeIvfIndex]] over the flat
    * vector table, union the per-vector shortlists, and run this exact
    * MaxSim only on the survivors (same shortlist-then-rerank economics
    * as q72). */
  def maxSimTopK(docVecs: DataFrame, docCol: String, vecCol: String,
                 queries: DataFrame, queryCol: String, queryVecIdCol: String,
                 queryVecCol: String, k: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    ArrayMath.register(docVecs.sparkSession)
    // queryVecIdCol distinguishes vectors WITHIN a query bag for the
    // max grouping — any per-row-unique value gives the same result
    // (order never matters), but taking it from the data keeps the
    // whole computation a pure function of the input
    val q = queries.select(col(queryCol).as("query_id"),
      col(queryVecIdCol).as("__qvid"), col(queryVecCol).as("__qv"))
    val joined = docVecs
      .select(col(docCol).as("doc_id"), col(vecCol).as("__dv"))
      .crossJoin(broadcast(q))
    val scored = (if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id"))
                  else joined)
      .withColumn("__c",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__dv")), 6))
      .select(col("query_id"), col("__qvid"), col("doc_id"), col("__c"))
    val best = scored.groupBy(col("query_id"), col("__qvid"), col("doc_id"))
      .agg(max(col("__c")).as("__m"))
    val perDoc = best.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__m").cast("decimal(18,6)")).cast("decimal(28,6)").as("__s"))
    Stats.topKPerGroup(perDoc, "query_id", k,
        Seq(col("__s").desc, col("doc_id")))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("__s").cast("double").as("score"))
  }

  /** The SCALE path for [[maxSimTopK]]: shortlist-then-exact, the q72
    * economics applied to late interaction. Stage 1 scores the FLAT
    * corpus vector table with the int8-quantized cosine (4× less scan
    * bandwidth than f32 — the actual cost at a 100 TB embedding
    * store), keeps the `shortlist` best vectors PER QUERY VECTOR, and
    * collapses them to candidate documents (a doc is a candidate if
    * ANY of its vectors shortlists for ANY query vector — the MaxSim
    * sum is dominated by per-query-vector best matches, which is
    * exactly what the shortlist preserves). Stage 2 is [[maxSimTopK]]'s
    * exact arithmetic restricted to the surviving (query, doc) pairs —
    * full-precision vectors are touched only for candidates.
    *
    * Every stage is deterministic (int8 quantization is exact integer
    * arithmetic, ranks tie-break on ids), so unlike most ANN this
    * approximate arm is ORACLE-REPLAYABLE end-to-end — q96 certifies
    * the whole composition, not just a recall floor. Recall vs the
    * exact arm is governed by `shortlist` (audited in SimilaritySpec
    * against [[maxSimTopK]] on the fixture). */
  def maxSimTopKShortlisted(docVecs: DataFrame, docCol: String,
                            vecIdCol: String, vecCol: String,
                            queries: DataFrame, queryCol: String,
                            queryVecIdCol: String, queryVecCol: String,
                            k: Int, shortlist: Int): DataFrame = {
    ArrayMath.register(docVecs.sparkSession)
    val qq = queries.select(col(queryCol).as("query_id"),
      col(queryVecIdCol).as("__qvid"),
      ArrayMath.int8Quantize(col(queryVecCol)).as("__qq"))
    // quantized scan: only slim (query_id, __qvid, doc_id, vec_id,
    // qcos) rows survive into the shortlist window's shuffle
    val wq = Window.partitionBy(col("query_id"), col("__qvid"))
      .orderBy(col("__qcos").desc, col("__vid"))
    val candDocs = docVecs
      .select(col(docCol).as("doc_id"), col(vecIdCol).as("__vid"),
        ArrayMath.int8Quantize(col(vecCol)).as("__cq"))
      .crossJoin(broadcast(qq))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("__qcos",
        round(ArrayMath.cosineSimilarity(col("__qq"), col("__cq")), 6))
      .select(col("query_id"), col("__qvid"), col("doc_id"), col("__vid"),
        col("__qcos"))
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= shortlist)
      .select(col("query_id"), col("doc_id")).distinct()
    // exact MaxSim only on candidate (query, doc) pairs: the pair set
    // (≤ |query vectors|·shortlist ids) broadcasts, the corpus never
    // shuffles with payloads
    val qv = queries.select(col(queryCol).as("query_id"),
      col(queryVecIdCol).as("__qvid"), col(queryVecCol).as("__qv"))
    val best = docVecs
      .select(col(docCol).as("doc_id"), col(vecCol).as("__dv"))
      .join(broadcast(candDocs), Seq("doc_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("__c",
        round(ArrayMath.cosineSimilarity(col("__qv"), col("__dv")), 6))
      .groupBy(col("query_id"), col("__qvid"), col("doc_id"))
      .agg(max(col("__c")).as("__m"))
    val perDoc = best.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__m").cast("decimal(18,6)")).cast("decimal(28,6)").as("__s"))
    Stats.topKPerGroup(perDoc, "query_id", k,
        Seq(col("__s").desc, col("doc_id")))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("__s").cast("double").as("score"))
  }
}
