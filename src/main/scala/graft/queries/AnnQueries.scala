package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Layout, Multimodal, Retrieval, Similarity, Stats, TextOps}

import Shared._

/** ANN and retrieval: vector search, indexes, rerankers and ranking
  * metrics. */
object AnnQueries extends QueryFamily {

  private val PqM = 4
  private val PqCodebookK = 16
  private val PqIters = 2
  private val PqK = 5
  private val IvfPqCoarse = 8
  private val IvfPqCoarseIters = 1
  private val IvfPqCodebookK = 8
  private val IvfPqIters = 1
  private val IvfPqProbe = 2

  /** DuckDB transliteration of ArrayMath.planeCoeff — the splitmix64
    * (plane, dim) mix, bit for bit. HUGEINT carries the unsigned-64
    * domain; the two 64×64 wrapping multiplies are split hi/lo-32 so no
    * intermediate exceeds 2^96 (a full 64×64 product overflows INT128).
    * Validated coefficient-for-coefficient against the JVM kernel.
    * Emits `coef(plane, dim, c)` and `coefl(plane, cl)` — the latter a
    * dim-ORDERED coefficient list, so the bucket-sign dot product runs
    * through `list_dot_product` in the same sequential dim order as the
    * JVM kernel (a hash-aggregate SUM would accumulate in chunk order
    * and could flip the sign of a dot within an ulp of zero). */
  private def planeCoeffCte(nPlanes: Int, nTables: Int): String =
    planeCoeffCteDyn((nTables * nPlanes).toString)

  /** q36 oracle: full replay of lshTopK — per-table sign-pattern
    * buckets from the splitmix64 planes, candidate equi-join on
    * (table, bucket), exact rounded-cosine rerank. */
  private def annLshOracle(nPlanes: Int, nTables: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |${planeCoeffCte(nPlanes, nTables)},
       |dots AS (
       |  SELECT e.vec_id, coefl.plane // $nPlanes AS tbl, coefl.plane % $nPlanes AS p,
       |         list_dot_product(e.v, coefl.cl[1:len(e.v)]) AS dot
       |  FROM e, coefl),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM dots GROUP BY 1, 2),
       |qb AS (SELECT vec_id, tbl, bucket FROM buckets WHERE vec_id % 50 = 0),
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM qb JOIN buckets c ON qb.tbl = c.tbl AND qb.bucket = c.bucket
       |         WHERE c.vec_id != qb.vec_id),
       |s AS (SELECT cand.query_id, cand.neighbor_id, ${sqlCosine("eq.v", "ec.v")} AS cosine
       |      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
       |                JOIN e ec ON ec.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** q37 oracle: full replay of the deterministic-quantizer IVF probe —
    * seed centroids (smallest ids), rounded-cosine argmax assignment,
    * nProbe nearest lists per query, exact rerank. */
  private def annIvfOracle(nCentroids: Int, nProbe: Int, k: Int,
                           centPred: String = "TRUE",
                           queryPred: String = "vec_id % 50 = 0"): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e WHERE $centPred ORDER BY vec_id LIMIT $nCentroids),
       |asg AS (SELECT e.vec_id, cent.centroid_id,
       |          row_number() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${sqlCosine("e.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
       |        FROM e, cent),
       |idx AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE $queryPred),
       |pr AS (SELECT q.query_id, cent.centroid_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY ${sqlCosine("q.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
       |       FROM q, cent),
       |cand AS (SELECT pr.query_id, idx.neighbor_id
       |         FROM pr JOIN idx ON pr.centroid_id = idx.centroid_id
       |         WHERE pr.rn <= $nProbe AND idx.neighbor_id != pr.query_id),
       |s AS (SELECT cand.query_id, cand.neighbor_id, ${sqlCosine("eq.v", "ec.v")} AS cosine
       |      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
       |                JOIN e ec ON ec.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Shared by q85 (direct) and q86 (indexed): the full BM25 replay. */
  /** The direct-BM25 replay, optionally over a restricted corpus —
    * q90 purges docs from the index, so its oracle is the SAME replay
    * with the purged docs excluded at the source: index maintenance
    * (build / append / compact / purge) changes what is STORED, never
    * what is computed. The query batch (doc_id ≡ 0 mod 100) is
    * disjoint from every predicate used, so the query set is invariant
    * across variants. */
  private def bm25SqlOver(corpusPred: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE $corpusPred),""".stripMargin +
    """
      |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w))::DOUBLE AS avgdl FROM d),
      |q AS (SELECT doc_id AS query_id, w[1:5] AS qw FROM d WHERE doc_id % 100 = 0),
      |qterm AS (SELECT DISTINCT query_id, term
      |          FROM (SELECT query_id, unnest(qw) AS term FROM q)
      |          WHERE len(term) > 0),
      |tok AS (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term FROM d),
      |toks AS (SELECT * FROM tok
      |         WHERE len(term) > 0
      |           AND term IN (SELECT DISTINCT term FROM qterm)),
      |post AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, min(dl) AS dl
      |         FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY 1),
      |sc AS (SELECT qt.query_id, p.doc_id,
      |         sum(CAST(round(
      |           ln((stats.n - f.df + 0.5) / (f.df + 0.5) + 1)
      |             * p.tf * (1.2 + 1)
      |             / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / stats.avgdl)),
      |           6) AS DECIMAL(18,6))) AS s
      |       FROM post p
      |       JOIN qterm qt USING (term)
      |       JOIN dfreq f USING (term), stats
      |       GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id,
      |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY s DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, score
      |FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  private val bm25Sql = bm25SqlOver("TRUE")

  /** Shared PQ CTE block ending at `adc(query_id, neighbor_id,
    * adc_dist)`; also exposes `bvzall` (the full-space quantized
    * components) for the rerank tail. With `codesFromRouting` the
    * codes come from FROZEN routing of every row against the final
    * codebooks (the q132 lifecycle: training saw only `trainPred`
    * rows, appended rows were encoded after the fact) — identical to
    * the training assignments when trainPred is TRUE. */
  private def pqChainsCtes(m: Int, codebookK: Int, iters: Int, dim: Int,
                           queryPred: String,
                           trainPred: String = "TRUE",
                           codesFromRouting: Boolean = false): String = {
    val subDim = dim / m
    val base =
      """WITH be AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bsc AS (SELECT vec_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |       FROM be),
        |bqzall AS (SELECT vec_id,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM bsc),
        |bvzall AS (SELECT vec_id, unnest(qv) AS val,
        |              generate_subscripts(qv, 1) AS pos
        |       FROM bqzall),
        |""".stripMargin
    val chains = (0 until m).map { s =>
      kmeansOracleCtes(codebookK, iters, trainPred,
        srcSql = s"SELECT vec_id, qv[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM bqzall",
        p = s"s${s}_", lead = if (s == 0) "" else ", ")
    }.mkString
    val lds = (0 until m).map { s =>
      s""", s${s}ld AS (SELECT v.vec_id AS query_id, c.cid AS code,
         |         CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS d
         |       FROM s${s}_vzall v JOIN s${s}_c$iters c USING (pos)
         |       WHERE $queryPred
         |       GROUP BY 1, 2)
         |""".stripMargin
    }.mkString
    val routes = if (!codesFromRouting) "" else (0 until m).map { s =>
      s""", s${s}rt AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM s${s}_vzall v JOIN s${s}_c$iters c USING (pos)
         |       GROUP BY 1, 2),
         |s${s}rc AS (SELECT vec_id, cid AS code FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM s${s}rt) WHERE rn = 1)
         |""".stripMargin
    }.mkString
    val codesUnion =
      if (codesFromRouting)
        (0 until m).map(s => s"SELECT $s AS s, vec_id, code FROM s${s}rc")
          .mkString(" UNION ALL ")
      else
        (0 until m).map(s => s"SELECT $s AS s, vec_id, cluster AS code FROM s${s}_fa")
          .mkString(" UNION ALL ")
    val ldUnion = (0 until m)
      .map(s => s"SELECT $s AS s, query_id, code, d FROM s${s}ld")
      .mkString(" UNION ALL ")
    base + chains + lds + routes +
      s""", codes AS ($codesUnion),
         |ld AS ($ldUnion),
         |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
         |          CAST(sum(l.d) AS BIGINT) AS adc_dist
         |        FROM ld l JOIN codes c ON c.s = l.s AND c.code = l.code
         |        WHERE c.vec_id != l.query_id GROUP BY 1, 2)
         |""".stripMargin
  }

  /** q135 oracle: the coarse k-means chain, every row's residual from
    * its assigned centroid, one namespaced codebook chain per subspace
    * over the sliced residuals (each chain re-quantizes, exactly as
    * the engine does), then the query side — probed lists by exact
    * integer L2, per-(query, list) residuals re-quantized into lookup
    * tables — and the ADC ranking over probed-list candidates only.
    * Every intermediate is an exact integer. */
  private def ivfPqOracleSql(nCoarse: Int, cIters: Int, m: Int,
                             codebookK: Int, pqIters: Int, dim: Int,
                             nProbe: Int, k: Int,
                             queryPred: String,
                             trainPred: String = "TRUE"): String = {
    val subDim = dim / m
    // trainPred != TRUE (the q138 split): the coarse chain and every
    // codebook chain train on the predicate's rows only, and ALL rows
    // are then frozen-routed/encoded against the final centroids —
    // the same argmin CTE shape the chains' own footer uses, applied
    // to vzall instead of vz (the q132 codesFromRouting discipline)
    val split = trainPred != "TRUE"
    val coarse = kmeansOracleCtes(nCoarse, cIters, trainPred, p = "g_")
    val routeAll = if (!split) "" else
      s""", g_rf AS (SELECT v.vec_id, c.cid,
         |        CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS dist
         |      FROM g_vzall v JOIN g_c$cIters c USING (pos) GROUP BY 1, 2),
         |g_ra AS (SELECT vec_id, cid::INTEGER AS cluster, dist FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM g_rf) WHERE rn = 1)
         |""".stripMargin
    val gAssign = if (split) "g_ra" else "g_fa"
    val resid =
      s""", rr AS (SELECT v.vec_id, v.pos, v.val - c.val AS val
         |      FROM g_vzall v
         |      JOIN $gAssign a ON a.vec_id = v.vec_id
         |      JOIN g_c$cIters c ON c.cid = a.cluster AND c.pos = v.pos),
         |rl AS (SELECT vec_id, list(val ORDER BY pos) AS v
         |       FROM rr GROUP BY 1)
         |""".stripMargin
    val chains = (0 until m).map { s =>
      kmeansOracleCtes(codebookK, pqIters, trainPred,
        srcSql = s"SELECT vec_id, v[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM rl",
        p = s"s${s}_", lead = ", ")
    }.mkString
    val subRoutes = if (!split) "" else (0 until m).map { s =>
      s""", s${s}rt AS (SELECT v.vec_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM s${s}_vzall v JOIN s${s}_c$pqIters c USING (pos)
         |       GROUP BY 1, 2),
         |s${s}rc AS (SELECT vec_id, cid AS code FROM (
         |         SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM s${s}rt) WHERE rn = 1)
         |""".stripMargin
    }.mkString
    val probes =
      s""", qp AS (SELECT v.vec_id AS query_id, c.cid,
         |         sum((v.val - c.val) * (v.val - c.val)) AS dist
         |       FROM g_vzall v JOIN g_c$cIters c USING (pos)
         |       WHERE $queryPred GROUP BY 1, 2),
         |pp AS (SELECT query_id, cid FROM (
         |         SELECT query_id, cid,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY dist, cid) AS rn
         |         FROM qp) WHERE rn <= $nProbe),
         |qr AS (SELECT p.query_id, p.cid, v.pos, v.val - c.val AS val
         |       FROM pp p
         |       JOIN g_vzall v ON v.vec_id = p.query_id
         |       JOIN g_c$cIters c ON c.cid = p.cid AND c.pos = v.pos),
         |qrl AS (SELECT query_id, cid, list(val ORDER BY pos) AS v
         |        FROM qr GROUP BY 1, 2)
         |""".stripMargin
    val lookups = (0 until m).map { s =>
      s""", q${s}q AS (SELECT query_id, cid,
         |         CASE WHEN s = 0 THEN list_transform(sv, x -> 0.0)
         |              ELSE list_transform(sv, x -> floor(x * 127.0 / s + 0.5))
         |         END AS qv
         |       FROM (SELECT query_id, cid,
         |               v[${s * subDim + 1}:${(s + 1) * subDim}] AS sv,
         |               list_aggregate(list_transform(
         |                 v[${s * subDim + 1}:${(s + 1) * subDim}],
         |                 x -> abs(x)), 'max') AS s
         |             FROM qrl)),
         |q${s}v AS (SELECT query_id, cid, unnest(qv) AS val,
         |              generate_subscripts(qv, 1) AS pos
         |        FROM q${s}q),
         |q${s}ld AS (SELECT v.query_id, v.cid, c.cid AS code,
         |          CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS d
         |        FROM q${s}v v JOIN s${s}_c$pqIters c USING (pos)
         |        GROUP BY 1, 2, 3)
         |""".stripMargin
    }.mkString
    val codesUnion =
      if (split)
        (0 until m).map(s => s"SELECT $s AS s, vec_id, code FROM s${s}rc")
          .mkString(" UNION ALL ")
      else
        (0 until m)
          .map(s => s"SELECT $s AS s, vec_id, cluster AS code FROM s${s}_fa")
          .mkString(" UNION ALL ")
    val ldUnion = (0 until m)
      .map(s => s"SELECT $s AS s, query_id, cid, code, d FROM q${s}ld")
      .mkString(" UNION ALL ")
    coarse + routeAll + resid + chains + subRoutes + probes + lookups +
      s""", codes AS ($codesUnion),
         |qld AS ($ldUnion),
         |cand AS (SELECT p.query_id, p.cid, a.vec_id AS neighbor_id
         |         FROM pp p JOIN $gAssign a ON a.cluster = p.cid
         |         WHERE a.vec_id != p.query_id),
         |adc AS (SELECT cd.query_id, cd.neighbor_id, cd.cid,
         |          CAST(sum(l.d) AS BIGINT) AS adc_dist
         |        FROM cand cd
         |        JOIN codes c ON c.vec_id = cd.neighbor_id
         |        JOIN qld l ON l.query_id = cd.query_id AND l.cid = cd.cid
         |                  AND l.s = c.s AND l.code = c.code
         |        GROUP BY 1, 2, 3),
         |res AS (SELECT query_id, neighbor_id, cid::INTEGER AS cid, adc_dist,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY adc_dist, neighbor_id) AS rank
         |        FROM adc)
         |SELECT query_id, rank, neighbor_id, adc_dist, cid
         |FROM res WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** q72 oracle: int8 quantization is floor(x*127/max|x| + 0.5) on
    * doubles — exact integer outputs, so quantized dot/norms are
    * bit-identical across engines; the rerank and the hit audit reuse
    * q12's exact-cosine arithmetic. Also q92's int8 arm. */
  private val quantAnnSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |sc AS (SELECT vec_id, v,
      |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
      |       FROM e),
      |qz AS (SELECT vec_id, v,
      |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
      |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
      |         END AS qv
      |       FROM sc),
      |q AS (SELECT vec_id, v, qv FROM qz WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.qv, c.qv) /
      |           (sqrt(list_dot_product(q.qv, q.qv)) *
      |            sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos,
      |         round(list_dot_product(q.v, c.v) /
      |           (sqrt(list_dot_product(q.v, q.v)) *
      |            sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      |  FROM q, qz c WHERE c.vec_id != q.vec_id),
      |short AS (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY qcos DESC, neighbor_id) AS q_rank
      |  FROM cand),
      |rer AS (
      |  SELECT query_id, neighbor_id, cosine, q_rank,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM short WHERE q_rank <= 32),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY cosine DESC, neighbor_id) AS xr
      |    FROM cand) WHERE xr <= 10)
      |SELECT r.query_id, r.rank, r.neighbor_id, r.cosine, r.q_rank,
      |       (x.neighbor_id IS NOT NULL) AS hit
      |FROM rer r
      |LEFT JOIN exact x
      |  ON r.query_id = x.query_id AND r.neighbor_id = x.neighbor_id
      |WHERE r.rank <= 10
      |ORDER BY r.query_id, r.rank""".stripMargin

  /** Multi-table hyperplane-LSH ANN (scale path). Fully oracle-checked:
    * the bucket function is deterministic splitmix64 integer math
    * (ArrayMath.planeCoeff), transliterated to DuckDB HUGEINT SQL, so
    * the oracle reproduces the exact candidate sets and rerank — not
    * just a rows-only count. Recall is additionally spec-gated against
    * brute force in SimilaritySpec. */
  query("q36_ann_lsh", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10, nPlanes = 4, nTables = 8)
      .orderBy("query_id", "rank")
  },
    oracle = annLshOracle(nPlanes = 4, nTables = 8, k = 10))

  /** IVF ANN (scale path). iters = 0 keeps the quantizer deterministic
    * and SQL-expressible (seed centroids = 16 smallest vec_ids) so the
    * DuckDB oracle replays assignment, probing, and rerank exactly; the
    * Lloyd-trained variant is recall-gated in SimilaritySpec. */
  query("q37_ann_ivf", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4,
        iters = 0)
      .orderBy("query_id", "rank")
  },
    oracle = annIvfOracle(nCentroids = 16, nProbe = 4, k = 10))

  /** Quantize-shortlist-rerank ANN ([[Similarity.quantizedTopK]]) with
    * an in-query recall audit: the same query set as q12 retrieved via
    * int8-quantized scores (4× scan bandwidth of the f32 corpus — the
    * 100 TB embedding-store economics), shortlist 32, exact rerank to
    * top-10, then each hit checked against the exact brute-force top-10
    * (q63-style certification — the exact branch is the baseline a
    * production run would drop). `hit` false rows are exactly the
    * recall loss the shortlist width buys back. */
  query("q72_quantized_ann", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val approx = Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
      k = 10, shortlist = 32)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    approx.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("__hit"), lit(false)))
      .select("query_id", "rank", "neighbor_id", "cosine", "q_rank", "hit")
      .orderBy("query_id", "rank")
  },
    // int8 quantization is floor(x*127/max|x| + 0.5) on doubles — exact
    // integer outputs, so quantized dot/norms are bit-identical across
    // engines; the rerank and the hit audit reuse q12's exact-cosine
    // arithmetic
    oracle = quantAnnSql)

  /** Incremental IVF maintenance ([[Similarity.appendToIvfIndex]]):
    * the index is built (seeded centroids, iters=0 — q37's
    * deterministic convention) over history only, persisted, and the
    * batch (vec_id % 10 == 0) is APPENDED by assigning it to the frozen
    * centroids — no retraining, no history rewrite. Queries probe the
    * updated index. Oracle assigns everything in one pass against the
    * same centroids: append-then-probe ≡ assign-all-at-once, the exact
    * law frozen-centroid assignment guarantees. */
  query("q83_ivf_append", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val isNew = col("vec_id") % 10 === 0
    val path = sessionStore("q83", "ivf", s, dir) { path =>
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(e.filter(!isNew), "vec_id", "embedding",
          nCentroids = 16, iters = 0), path)
      Similarity.appendToIvfIndex(s, path, e.filter(isNew),
        "vec_id", "embedding")
    }
    Similarity.probeIvfIndex(Similarity.readIvfIndex(s, path),
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 4)
      .orderBy("query_id", "rank")
  },
    // centroids seeded from HISTORY only; every row (history + batch)
    // assigned against them in one pass — must equal append-then-probe
    oracle = annIvfOracle(nCentroids = 16, nProbe = 4, k = 10,
      centPred = "vec_id % 10 != 0", queryPred = "vec_id % 100 = 0"))

  /** Grouped top-k ([[Stats.topKPerGroup]]): the 3 highest-quality
    * documents per source — the per-domain shortlist shape (best docs
    * per site, top products per category). Quality is the oracled q16
    * surface; rank order ends in doc_id so the kept set is a total
    * order. The plan is the scale story: WindowGroupLimit pre-prunes
    * each map task to its local top-3 before the exchange (pinned). */
  query("q84_grouped_topk", (s, dir) =>
    Stats.topKPerGroup(
        TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text",
            passthrough = Seq("source"))
          .select("doc_id", "source", "quality_score"),
        "source", 3, Seq(col("quality_score").desc, col("doc_id")))
      .orderBy("source", "rank"),
    // q16's exact quality expression + a per-source rank cut at 3
    oracle =
      """WITH f AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' '))::BIGINT AS n_tokens,
        |         round(length(text) * 1.0 / len(string_split(text, ' ')), 6) AS mean_token_len,
        |         round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
        |               / length(text), 6) AS punct_ratio,
        |         round(len(list_filter(string_split(lower(text), ' '),
        |                 t -> list_contains(['the','a','of','and','to','in','is','that'], t)))
        |               * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |        (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN mean_token_len BETWEEN 3 AND 12 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0 END)
        |          + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0 END) AS quality_score
        |      FROM f),
        |r AS (SELECT doc_id, source, quality_score,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY quality_score DESC, doc_id) AS rank
        |      FROM s)
        |SELECT doc_id, source, quality_score, rank
        |FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin)

  /** BM25 retrieval ([[TextOps.bm25TopK]]): every 100th document's
    * first five tokens become a query; top-10 documents per query by
    * exact decimal-summed BM25. The query doc itself ranking first is
    * expected (it contains its own terms) and deterministic. */
  query("q85_bm25_topk", (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
      .orderBy("query_id", "rank")
  },
    // full BM25 replay: same pruned postings, same idf/tf math, term
    // contributions rounded to 6 dp and summed as DECIMAL so score and
    // rank are exact in both engines. q86 shares it verbatim — the
    // posting index changes what is read, never what is computed.
    oracle = bm25Sql)

  /** Indexed BM25 ([[TextOps.bm25TopKIndexed]]): q85 against a
    * persisted posting index — the query batch's term-hash partition
    * set prunes the postings/dfreq read to matching directories.
    * Same oracle as q85: the index changes what is READ, never what
    * is computed. */
  query("q86_bm25_indexed", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q86", "postidx", s, dir) { path =>
      TextOps.writePostingIndex(docs, "doc_id", "text", path, parts)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  },
    oracle = bm25Sql)

  /** Incremental posting-index maintenance
    * ([[TextOps.appendToPostingIndex]]): q86's index built from the
    * doc_id % 4 != 0 three-quarters of the corpus, then the % 4 == 0
    * batch APPENDED — its postings and per-batch dfreq rows land only
    * in the batch's term-hash partitions, and corpus stats merge by
    * (n, dl_sum, dl_cnt) summation — and the same query batch
    * retrieves over the union. Same oracle as q85/q86 (the full
    * direct-BM25 replay): index maintenance changes WHEN rows are
    * written, never what is computed. The one persisted store that
    * was still overwrite-only now has the same incremental discipline
    * as the signature store (q75) and the IVF index (q83). */
  query("q87_bm25_incremental", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q87", "postidx-incr", s, dir) { path =>
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", path, parts)
      TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", path, parts)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  },
    // incremental maintenance must read back identical to a fresh
    // build, so the oracle is again the full direct replay
    oracle = bm25Sql)

  /** Store retention in the lifecycle loop ([[Layout.compactStore]]):
    * q87's append discipline run to its steady state — a build plus
    * three appends shatter every term-hash partition into one file
    * per batch (the reference's 15-minute cadence would add 96/day,
    * mabna_tables_update.py:58-59) — then the store is compacted IN
    * PLACE: trigger is the observable per-partition file count,
    * target file count from actual listed bytes, partition dirs keep
    * their names so the pruned probe layout is untouched. Same oracle
    * as q85/q86/q87: retention changes bytes-on-disk, never a
    * result. */
  query("q89_store_compaction", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q89", "postidx-compact", s, dir) { path =>
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 === 1),
        "doc_id", "text", path, parts)
      Seq(2L, 3L, 0L).foreach(m =>
        TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === m),
          "doc_id", "text", path, parts))
      Layout.compactStore(s, s"$path/postings", 64L * 1024 * 1024, maxFiles = 1)
      Layout.compactStore(s, s"$path/dfreq", 64L * 1024 * 1024, maxFiles = 1)
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  },
    // and in-place store compaction must too (bytes change, rows don't)
    oracle = bm25Sql)

  /** Multimodal retrieval composition ([[Multimodal.mediaEmbeddings]]
    * → [[Similarity.quantizedTopK]]): the multimodal family (q23/q24/
    * q59) and the ANN family (q12/q72) meeting in ONE pipeline. The sf
    * directory's parquet files are ingested once as opaque blobs
    * (binaryFile), decoded and embedded in a single pass, and the
    * compact (media_id, emb) store is MATERIALIZED — the blob source
    * is read exactly once (q59's pin, by construction) and retrieval
    * never touches bytes again; at 100 TB the blobs are the entire
    * I/O cost and the store is ~8 doubles per object. Retrieval is
    * q72's discipline over the store: int8-quantized shortlist 5,
    * exact rerank to top-3, ids-only shuffles. Every stage is DuckDB-
    * reproducible from read_blob file sizes. */
  query("q88_media_ann", (s, dir) => {
    val store = sessionStore("q88", "mediaemb", s, dir) { store =>
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet").load(dir)
        .select(
          conv(substring(md5(regexp_extract(col("path"), "[^/]+$", 0)), 1, 15),
            16, 10).cast("long").as("media_id"),
          col("content").as("media"))
      Multimodal.mediaEmbeddings(media)
        .write.mode("overwrite").parquet(store)
    }
    val e = s.read.parquet(store)
    val queries = e.filter(col("media_id") % 2 === 0)
    Similarity.quantizedTopK(e, queries, "media_id", "emb",
        k = 3, shortlist = 5)
      .orderBy("query_id", "rank")
  },
    // the blob→decode→embed→quantize→rerank composition re-derived
    // from read_blob file sizes alone: the opaque-payload decode dims
    // and the embedding are integer arithmetic (MediaDecode.scala,
    // Multimodal.mediaEmbeddings), quantization is
    // floor(x*127/max|x|+0.5) — every stage bit-exact across engines
    oracle =
      """WITH f AS (
        |  SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |         size::BIGINT AS n_bytes
        |  FROM read_blob('{SF_DIR}/*.parquet')),
        |d AS (
        |  SELECT ('0x' || substr(md5(file_name), 1, 15))::BIGINT AS media_id,
        |         n_bytes,
        |         (64 + (n_bytes % 64)) AS width,
        |         (64 + ((n_bytes // 64) % 64)) AS height
        |  FROM f),
        |e AS (
        |  SELECT media_id,
        |         list_transform(range(0, 8), i ->
        |           ((n_bytes * (i + 1) + width * (3 * i + 1) +
        |             height * (7 * i + 2)) % 997 - 498)::DOUBLE) AS v
        |  FROM d),
        |sc AS (SELECT media_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |       FROM e),
        |qz AS (SELECT media_id, v,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM sc),
        |q AS (SELECT media_id, v, qv FROM qz WHERE media_id % 2 = 0),
        |cand AS (
        |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
        |         round(list_dot_product(q.qv, c.qv) /
        |           (sqrt(list_dot_product(q.qv, q.qv)) *
        |            sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos,
        |         round(list_dot_product(q.v, c.v) /
        |           (sqrt(list_dot_product(q.v, q.v)) *
        |            sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        |  FROM q, qz c WHERE c.media_id != q.media_id),
        |short AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY qcos DESC, neighbor_id) AS q_rank
        |  FROM cand),
        |rer AS (
        |  SELECT query_id, neighbor_id, cosine, q_rank,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM short WHERE q_rank <= 5)
        |SELECT query_id, rank, neighbor_id, cosine, q_rank
        |FROM rer WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin)

  /** Store purge ([[TextOps.purgeFromPostingIndex]]): the retraction
    * path of the index lifecycle — build over three quarters of the
    * corpus, append the rest (so the purge spans rows from BOTH
    * batches), then PURGE every doc_id ≡ 3 (mod 5): their posting rows
    * are anti-joined out of only the term-hash partitions the purged
    * docs' terms name, df retracts by appended NEGATIVE contributions
    * into the same pruned partitions (the mergeable-state reader
    * already sums), and one negative (n, dl_sum, dl_cnt) row rebalances
    * the corpus stats. The query batch (doc_id ≡ 0 mod 100, disjoint
    * from the purge set) then retrieves over the index. Oracle: the
    * full direct-BM25 replay over the corpus WITHOUT the purged docs —
    * purge(build(A∪B), B) must read identically to build(A). */
  query("q90_store_purge", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q90", "postidx-purge", s, dir) { path =>
      TextOps.writePostingIndex(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", path, parts)
      TextOps.appendToPostingIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", path, parts)
      TextOps.purgeFromPostingIndex(s, path, parts,
        docs.filter(col("doc_id") % 5 === 3), "doc_id", "text")
    }
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10)
      .orderBy("query_id", "rank")
  },
    // q90's purge leaves the index reading exactly as if the purged
    // docs were never ingested — same replay, restricted corpus
    oracle = bm25SqlOver("doc_id % 5 != 3"))

  /** q92 oracle: each approximate arm's full replay (the SAME SQL that
    * oracles q36/q37/q72, as derived tables) audited against q12's
    * exact replay — the evaluation layer adds counting on top of
    * already-certified arithmetic, nothing else. */
  private def annRecallSql: String =
    s"""WITH lsh0 AS (SELECT query_id, neighbor_id FROM (
       |${annLshOracle(nPlanes = 4, nTables = 8, k = 10)})),
       |ivf0 AS (SELECT query_id, neighbor_id FROM (
       |${annIvfOracle(nCentroids = 16, nProbe = 4, k = 10)})),
       |qz0 AS (SELECT query_id, neighbor_id FROM (
       |$quantAnnSql)),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |$bruteAnnSql)),
       |nq AS (SELECT (count(*) * 10)::DOUBLE AS denom
       |       FROM embeddings WHERE vec_id % 50 = 0),
       |un AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh0
       |       UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf0
       |       UNION ALL SELECT 'int8', query_id, neighbor_id FROM qz0),
       |j AS (SELECT un.method,
       |        CASE WHEN bf.query_id IS NULL THEN 0 ELSE 1 END AS hit
       |      FROM un LEFT JOIN bf ON un.query_id = bf.query_id
       |                          AND un.neighbor_id = bf.neighbor_id)
       |SELECT method, count(*)::BIGINT AS n_results, sum(hit)::BIGINT AS n_hits,
       |       round(sum(hit)::DOUBLE / (SELECT denom FROM nq), 6) AS recall_at_10
       |FROM j GROUP BY method ORDER BY method""".stripMargin

  /** ANN recall evaluation: every approximate retrieval arm (q36's
    * LSH, q37's IVF, q72's int8 shortlist-rerank) audited against
    * q12's exact brute force in ONE evaluation table — the index
    * quality regression gate a pipeline runs before swapping a new
    * index build into serving. recall@10 denominates by |queries|·k
    * (an arm that returns fewer than k rows — LSH with sparse buckets
    * — is penalized for the misses, as it should be). The exact side
    * broadcasts (|queries|·k ids — metadata-scale) onto the union of
    * arms, so the audit adds no corpus-sized join; each arm keeps its
    * own already-pinned plan. */
  query("q92_ann_recall", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val denom = broadcast(queries
      .agg((count(lit(1)) * 10).cast("double").as("__denom")))
    Seq(
      "lsh" -> Similarity.lshTopK(e, queries, "vec_id", "embedding",
        k = 10, nPlanes = 4, nTables = 8),
      "ivf" -> Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4, iters = 0),
      "int8" -> Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
        k = 10, shortlist = 32))
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
      }
      .reduce(_.unionByName(_))
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_results"),
        sum(coalesce(col("__hit"), lit(false)).cast("long")).as("n_hits"))
      .crossJoin(denom)
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("__denom"), 6))
      .select("method", "n_results", "n_hits", "recall_at_10")
      .orderBy("method")
  },
    oracle = annRecallSql)

  /** Index time travel ([[TextOps.writePostingIndexVersioned]] +
    * `asOf`): the posting index built as three versioned batches
    * (doc_id mod 3), then read AS OF batch 1 — "retrieval as the
    * pipeline saw it before batch 2 landed", the audit primitive for
    * reproducing a historical training run or bisecting when a bad
    * document entered serving. `b` is a partition column under each
    * term-hash dir, so the as-of cut composes with q86's term pruning
    * as one static partition filter — batch 2's files are never
    * LISTED, let alone read (pinned in TextOpsSpec via inputFiles).
    * Oracle: the direct BM25 replay over batches 0-1 only — time
    * travel changes WHICH batches are read, never what is computed. */
  query("q94_index_time_travel", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q94", "postidx-asof", s, dir) { path =>
      (0L to 2L).foreach(m =>
        TextOps.writePostingIndexVersioned(docs.filter(col("doc_id") % 3 === m),
          "doc_id", "text", path, parts, batch = m))
    }
    // query docs drawn from the as-of corpus (batches 0-1) so the
    // oracle's query set — which bm25SqlOver derives from its filtered
    // corpus — is identical; an external query text would work the
    // same, there would just be nothing to replay it against
    val queries = docs
      .filter(col("doc_id") % 100 === 0 && col("doc_id") % 3 =!= 2)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10, asOf = Some(1L))
      .orderBy("query_id", "rank")
  },
    // q94: as-of batch 1 of the (doc_id mod 3)-versioned index ≡ the
    // direct replay over batches 0 and 1 — the q86 discipline (the
    // index changes what is read, never what is computed) extended to
    // WHEN
    oracle = bm25SqlOver("doc_id % 3 != 2"))

  /** Index retention folding ([[TextOps.foldPostingIndexVersions]]):
    * the lifecycle move that keeps q94's time-travel history from
    * growing forever. Four versioned batches (doc_id mod 4) land, then
    * batches ≤ 2 FOLD into one base snapshot at b=2 — every artifact
    * row relabels, and the reader sums df and stats across rows as it
    * does before the fold — while batch 3 keeps its
    * own history level. The query then reads AS OF the fold point:
    * by the fold law (every as-of ≥ the fold point is preserved,
    * pinned in TextOpsSpec) the answer is identical to the unfolded
    * store's, with one directory level per touched partition instead
    * of three. Oracle: the direct BM25 replay over batches 0-2 —
    * folding changes bytes-on-disk and listing cost, never a result. */
  query("q115_index_fold", (s, dir) => {
    val parts = 16
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val path = sessionStore("q115", "postidx-fold", s, dir) { path =>
      (0L to 3L).foreach(m =>
        TextOps.writePostingIndexVersioned(docs.filter(col("doc_id") % 4 === m),
          "doc_id", "text", path, parts, batch = m))
      TextOps.foldPostingIndexVersions(s, path, upTo = 2L)
    }
    val queries = docs
      .filter(col("doc_id") % 100 === 0 && col("doc_id") % 4 =!= 3)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    TextOps.bm25TopKIndexed(s, path, parts, queries, "query_id", "qtext",
        k = 10, asOf = Some(2L))
      .orderBy("query_id", "rank")
  },
    // q115: as-of the fold point over the folded store ≡ the direct
    // replay over batches 0-2 — folding never changes a result
    oracle = bm25SqlOver("doc_id % 4 != 3"))

  /** Late-interaction retrieval ([[Similarity.maxSimTopK]], the
    * ColBERT-family MaxSim): the embedding table regrouped into
    * multi-vector documents (8 consecutive vec_ids per doc — standing
    * in for per-token/per-passage embeddings), query bags scored
    * against document bags by Σ_qv max_dv cosine. The exact arm — the
    * recall baseline the shortlist composition (quantized/IVF
    * per-vector candidates → exact MaxSim on survivors) is audited
    * against, exactly as q12 anchors q36/q37/q72. */
  query("q95_maxsim_topk", (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .select(expr("vec_id DIV 8").as("doc_id"), col("vec_id"),
        col("embedding"))
    val queries = e.filter(col("doc_id") % 20 === 0)
    Similarity.maxSimTopK(e, "doc_id", "embedding",
        queries, "doc_id", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  },
    oracle =
      """WITH v AS (SELECT vec_id // 8 AS doc_id, vec_id,
        |                  embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT * FROM v WHERE doc_id % 20 = 0),
        |c AS (SELECT q.doc_id AS query_id, q.vec_id AS qvid,
        |        v.doc_id AS doc_id,
        |        round(list_dot_product(q.v, v.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) *
        |           sqrt(list_dot_product(v.v, v.v))), 6) AS cos
        |      FROM q, v WHERE v.doc_id != q.doc_id),
        |m AS (SELECT query_id, qvid, doc_id, max(cos) AS mx
        |      FROM c GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, doc_id,
        |         sum(CAST(mx AS DECIMAL(18,6))) AS s
        |       FROM m GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY s DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, rank, doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)

  /** Approximate late-interaction retrieval
    * ([[Similarity.maxSimTopKShortlisted]]): q95's MaxSim behind an
    * int8-quantized per-query-vector shortlist — the shortlist-then-
    * exact economics of q72 applied to multi-vector retrieval. Unlike
    * most ANN, every stage is deterministic integer/rounded
    * arithmetic, so the oracle replays the ENTIRE approximate
    * composition (quantize → shortlist → candidate docs → exact
    * MaxSim), not just a recall floor. */
  query("q96_maxsim_shortlist", (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .select(expr("vec_id DIV 8").as("doc_id"), col("vec_id"),
        col("embedding"))
    val queries = e.filter(col("doc_id") % 20 === 0)
    Similarity.maxSimTopKShortlisted(e, "doc_id", "vec_id", "embedding",
        queries, "doc_id", "vec_id", "embedding", k = 5, shortlist = 8)
      .orderBy("query_id", "rank")
  },
    // q96: the whole approximate composition replayed — int8 quantize
    // (q72's exact integer formula), per-query-vector shortlist,
    // candidate-doc collapse, exact MaxSim on survivors (q95's
    // arithmetic)
    oracle =
      """WITH v AS (SELECT vec_id // 8 AS doc_id, vec_id,
        |                  embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |sc0 AS (SELECT doc_id, vec_id, v,
        |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |        FROM v),
        |qz AS (SELECT doc_id, vec_id, v,
        |         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5))
        |         END AS qv
        |       FROM sc0),
        |q AS (SELECT * FROM qz WHERE doc_id % 20 = 0),
        |cand0 AS (SELECT q.doc_id AS query_id, q.vec_id AS qvid,
        |            c.doc_id AS doc_id, c.vec_id AS vid,
        |            round(list_dot_product(q.qv, c.qv) /
        |              (sqrt(list_dot_product(q.qv, q.qv)) *
        |               sqrt(list_dot_product(c.qv, c.qv))), 6) AS qcos
        |          FROM q, qz c WHERE c.doc_id != q.doc_id),
        |short AS (SELECT DISTINCT query_id, doc_id FROM (
        |            SELECT query_id, qvid, doc_id, vid,
        |                   row_number() OVER (PARTITION BY query_id, qvid
        |                     ORDER BY qcos DESC, vid) AS r
        |            FROM cand0) WHERE r <= 8),
        |c AS (SELECT s.query_id, q.vec_id AS qvid, s.doc_id,
        |        round(list_dot_product(q.v, d.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) *
        |           sqrt(list_dot_product(d.v, d.v))), 6) AS cos
        |      FROM short s
        |      JOIN v d ON d.doc_id = s.doc_id
        |      JOIN q ON q.doc_id = s.query_id),
        |m AS (SELECT query_id, qvid, doc_id, max(cos) AS mx
        |      FROM c GROUP BY 1, 2, 3),
        |scr AS (SELECT query_id, doc_id,
        |          sum(CAST(mx AS DECIMAL(18,6))) AS s
        |        FROM m GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |        CAST(CAST(s AS VARCHAR) AS DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY s DESC, doc_id) AS rank
        |      FROM scr)
        |SELECT query_id, rank, doc_id, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)

  /** Hard-negative mining ([[Retrieval.hardNegatives]]): q12's exact
    * retrieval arm labeled by a same-source weak positive (the
    * in-fixture stand-in for "clicked/linked" relevance labels) — a
    * retrieved neighbor from the QUERY DOC'S OWN source is a positive,
    * everything else it retrieved is a contrastive negative, densely
    * re-ranked to the 5 hardest per query. The DPR/ANCE training-pair
    * prep over the engine's own certified arm. */
  query("q168_hard_negatives", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val topk = Similarity.bruteForceTopK(e,
      e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 10)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val positives = topk.select(col("query_id"), col("neighbor_id"))
      .join(src.select(col("doc_id").as("query_id"),
        col("source").as("__qs")), Seq("query_id"))
      .join(src.select(col("doc_id").as("neighbor_id"),
        col("source").as("__ns")), Seq("neighbor_id"))
      .filter(col("__qs") === col("__ns"))
    Retrieval.hardNegatives(topk, positives, nNeg = 5)
      .orderBy("query_id", "neg_rank")
  },
    // q168: q12's exact-retrieval CTEs + the same-source weak positive
    // label; non-positive retrieved candidates re-rank densely to the
    // 5 hardest negatives per query
    oracle =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        round(list_dot_product(q.v, e.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
        |          AS cosine
        |      FROM q, e WHERE e.vec_id != q.vec_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s),
        |topk AS (SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 10),
        |src AS (SELECT doc_id, source FROM documents),
        |neg AS (SELECT t.query_id, t.rank, t.neighbor_id, t.cosine
        |        FROM topk t
        |        JOIN src qs ON qs.doc_id = t.query_id
        |        JOIN src ns ON ns.doc_id = t.neighbor_id
        |        WHERE qs.source <> ns.source)
        |SELECT query_id, neighbor_id, cosine, neg_rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY rank)::BIGINT AS neg_rank
        |  FROM neg)
        |WHERE neg_rank <= 5
        |ORDER BY query_id, neg_rank""".stripMargin)

  /** Hard-negative REFRESH across an index update (the ANCE training
    * loop's data half): round 1 mines negatives against the IVF index
    * over the old corpus; the new crawl batch (vec_id % 10 = 0)
    * appends to the frozen-centroid index (q83's discipline — no
    * retrain, no rewrite); round 2 re-mines against the updated index
    * and the freshly-indexed docs start appearing as negatives. Both
    * index states persist once per JVM (two frozen stores — a rep
    * never mutates), every rep probes both. Oracle = q83's
    * assign-all-at-once replay per state + the q168 label filter. */
  query("q175_negative_refresh", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val old = e.filter(col("vec_id") % 10 =!= 0)
    val fresh = e.filter(col("vec_id") % 10 === 0)
    val path = sessionStore("q175", "anceref", s, dir) { path =>
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(old, "vec_id", "embedding",
          nCentroids = 16, iters = 0), s"$path/r1")
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(old, "vec_id", "embedding",
          nCentroids = 16, iters = 0), s"$path/r2")
      Similarity.appendToIvfIndex(s, s"$path/r2", fresh,
        "vec_id", "embedding")
    }
    val queries = e.filter(col("vec_id") % 50 === 0)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    def mine(sub: String, round: Long) = {
      val topk = Similarity.probeIvfIndex(
        Similarity.readIvfIndex(s, s"$path/$sub"), queries,
        "vec_id", "embedding", k = 10, nProbe = 4)
      val positives = topk.select(col("query_id"), col("neighbor_id"))
        .join(src.select(col("doc_id").as("query_id"),
          col("source").as("__qs")), Seq("query_id"))
        .join(src.select(col("doc_id").as("neighbor_id"),
          col("source").as("__ns")), Seq("neighbor_id"))
        .filter(col("__qs") === col("__ns"))
      Retrieval.hardNegatives(topk, positives, nNeg = 5)
        .select(lit(round).as("round"), col("query_id"), col("neg_rank"),
          col("neighbor_id"), col("cosine"))
    }
    mine("r1", 1L).unionByName(mine("r2", 2L))
      .orderBy("round", "query_id", "neg_rank")
  },
    // q175: q83's frozen-centroid assign-all replay per index state
    // (idx1 = old corpus, idx2 = old + appended), q168's label filter
    // and dense re-rank per round
    oracle = {
      def round(n: Int, idx: String): String =
        s"""cand$n AS (SELECT pr.query_id, $idx.neighbor_id
           |         FROM pr JOIN $idx ON pr.centroid_id = $idx.centroid_id
           |         WHERE pr.rn <= 4 AND $idx.neighbor_id != pr.query_id),
           |s$n AS (SELECT cand$n.query_id, cand$n.neighbor_id,
           |         ${sqlCosine("eq.v", "ec.v")} AS cosine
           |      FROM cand$n JOIN e eq ON eq.vec_id = cand$n.query_id
           |                  JOIN e ec ON ec.vec_id = cand$n.neighbor_id),
           |t$n AS (SELECT query_id, neighbor_id, cosine, rank FROM (
           |        SELECT query_id, neighbor_id, cosine,
           |          row_number() OVER (PARTITION BY query_id
           |            ORDER BY cosine DESC, neighbor_id) AS rank FROM s$n)
           |      WHERE rank <= 10),
           |n$n AS (SELECT t.query_id, t.neighbor_id, t.cosine, t.rank
           |      FROM t$n t JOIN src qs ON qs.doc_id = t.query_id
           |                 JOIN src ns ON ns.doc_id = t.neighbor_id
           |      WHERE qs.source <> ns.source),
           |d$n AS (SELECT query_id, neighbor_id, cosine,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY rank)::BIGINT AS neg_rank FROM n$n)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
         |         WHERE vec_id % 10 != 0 ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT e.vec_id, cent.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${sqlCosine("e.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
         |        FROM e, cent),
         |idx1 AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg
         |         WHERE rn = 1 AND vec_id % 10 != 0),
         |idx2 AS (SELECT vec_id AS neighbor_id, centroid_id FROM asg WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 50 = 0),
         |pr AS (SELECT q.query_id, cent.centroid_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${sqlCosine("q.v", "cent.cvec")} DESC, cent.centroid_id) AS rn
         |       FROM q, cent),
         |src AS (SELECT doc_id, source FROM documents),
         |${round(1, "idx1")},
         |${round(2, "idx2")}
         |SELECT 1::BIGINT AS round, query_id, neg_rank, neighbor_id, cosine
         |FROM d1 WHERE neg_rank <= 5
         |UNION ALL
         |SELECT 2::BIGINT AS round, query_id, neg_rank, neighbor_id, cosine
         |FROM d2 WHERE neg_rank <= 5
         |ORDER BY round, query_id, neg_rank""".stripMargin
    })

  /** q130 oracle: the base int8 quantization, then one NAMESPACED
    * k-means chain per PQ subspace over the sliced quantized vectors
    * (each chain re-quantizes its slice exactly as
    * [[graft.operators.Clustering.kmeansQuantized]] does), then codes
    * (= each chain's final assignment), per-query lookup tables of
    * exact integer subspace distances, and the ADC ranking. */
  private def pqOracleSql(m: Int, codebookK: Int, iters: Int, dim: Int,
                          k: Int, queryPred: String): String =
    pqChainsCtes(m, codebookK, iters, dim, queryPred) +
      s""", r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY adc_dist, neighbor_id) AS rank
         |      FROM adc)
         |SELECT query_id, rank, neighbor_id, adc_dist
         |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** PQ-ADC retrieval ([[Similarity.pqTopK]]): product quantization
    * over the fixture embeddings — 4 subspaces × 16-code integer
    * codebooks (a stored vector is 4 codes: 64× under f32), queries
    * score every corpus vector by summing 4 exact-integer lookup
    * distances. Ranks are pure integer comparisons, so the oracle —
    * four namespaced k-means training chains + codes + lookup tables
    * + ADC ranking — replays with no rounding convention at all. */
  query("q130_pq_adc", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, m = PqM, codebookK = PqCodebookK,
        iters = PqIters, k = PqK)
      .orderBy("query_id", "rank")
  },
    // q100: the bigram LM replayed — same token stream, same add-one
    // conditional, same rounded-ln / decimal-sum discipline as q85
    // q130: four namespaced subspace k-means chains + ADC ranking
    oracle =
      pqOracleSql(PqM, PqCodebookK, PqIters, dim = 64, k = PqK,
        queryPred = "v.vec_id % 50 = 0"))

  private val PqShortlist = 25

  /** q131 oracle: the PQ chains + ADC ranking cut at `shortlist`,
    * then the exact full-space integer L2 rerank of just those
    * candidates — the composition, replayed. */
  private def pqRerankOracleSql(m: Int, codebookK: Int, iters: Int,
                                dim: Int, k: Int, shortlist: Int,
                                queryPred: String): String =
    pqChainsCtes(m, codebookK, iters, dim, queryPred) +
      s""", r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY adc_dist, neighbor_id) AS rank
         |      FROM adc),
         |short AS (SELECT query_id, neighbor_id, rank AS q_rank
         |          FROM r WHERE rank <= $shortlist),
         |fdr AS (SELECT s.query_id, s.neighbor_id, s.q_rank,
         |          CAST(sum((vq.val - vn.val) * (vq.val - vn.val)) AS BIGINT)
         |            AS l2_dist
         |        FROM short s
         |        JOIN bvzall vq ON vq.vec_id = s.query_id
         |        JOIN bvzall vn ON vn.vec_id = s.neighbor_id
         |                      AND vn.pos = vq.pos
         |        GROUP BY 1, 2, 3),
         |rr AS (SELECT query_id, neighbor_id, l2_dist, q_rank,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY l2_dist, neighbor_id) AS rank
         |       FROM fdr)
         |SELECT query_id, rank, neighbor_id, l2_dist, q_rank
         |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** PQ shortlist + exact rerank ([[Similarity.pqTopKReranked]]):
    * the production PQ recipe — ADC names 25 candidates from the
    * codes table, the exact integer L2 over the full int8 vectors of
    * just those candidates decides the final top-5; `q_rank` shows
    * how much the exact pass reordered. The oracle replays chains,
    * shortlist cut and rerank. */
  query("q131_pq_rerank", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopKReranked(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, m = PqM, codebookK = PqCodebookK,
        iters = PqIters, k = PqK, shortlist = PqShortlist)
      .orderBy("query_id", "rank")
  },
    // q131: the chains + shortlist cut + exact full-space rerank
    oracle =
      pqRerankOracleSql(PqM, PqCodebookK, PqIters, dim = 64, k = PqK,
        shortlist = PqShortlist, queryPred = "v.vec_id % 50 = 0"))

  /** Persisted PQ index lifecycle ([[Similarity.buildPqIndex]] →
    * append → probe): codebooks train on the vec_id%4≤1 slice only,
    * the rest of the corpus is ENCODED against the frozen codebooks
    * and appended (the q83 IVF discipline at PQ's 64× compression),
    * then ADC serves from the stored codes — the probe plan touches
    * no corpus vector at all. Oracle: the four chains train under the
    * same predicate, codes come from frozen ROUTING of every row, ADC
    * ranks as in q130. */
  query("q132_pq_index", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val path = sessionStore("q132", "pqidx", s, dir) { path =>
      Similarity.buildPqIndex(e.filter(col("vec_id") % 4 <= 1),
        "vec_id", "embedding", dim = 64, m = PqM,
        codebookK = PqCodebookK, iters = PqIters, path)
      Similarity.appendToPqIndex(s, path, e.filter(col("vec_id") % 4 >= 2),
        "vec_id", "embedding", dim = 64)
    }
    Similarity.probePqIndex(s, path, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64, k = PqK)
      .orderBy("query_id", "rank")
  },
    // q132: chains trained on the build slice, codes from frozen
    // routing of every row, ADC ranking — the index lifecycle replayed
    oracle =
      (pqChainsCtes(PqM, PqCodebookK, PqIters, dim = 64,
        queryPred = "v.vec_id % 50 = 0",
        trainPred = "vec_id % 4 <= 1", codesFromRouting = true) +
        s""", r AS (SELECT query_id, neighbor_id, adc_dist,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY adc_dist, neighbor_id) AS rank
           |      FROM adc)
           |SELECT query_id, rank, neighbor_id, adc_dist
           |FROM r WHERE rank <= $PqK ORDER BY query_id, rank""".stripMargin))

  /** IVF-PQ residual retrieval ([[Similarity.ivfPqTopK]]): the coarse
    * inverted-list quantizer (q97's integer k-means) composed with PQ
    * codebooks trained on RESIDUALS from each list's centroid — the
    * faiss-IVFADC serving shape, engine-exact. A query probes its 2
    * nearest of 8 lists and ADC-scores only those lists' codes; every
    * distance in the composition is an exact integer, so the oracle
    * replays the coarse chain, routing, residual derivation, all four
    * codebook chains, the probes, the lookup tables, and the ranking.
    * `cid` names the list each neighbor was served from (audit). */
  query("q135_ivfpq", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64,
        nCoarse = IvfPqCoarse, coarseIters = IvfPqCoarseIters,
        m = PqM, codebookK = IvfPqCodebookK, pqIters = IvfPqIters,
        nProbe = IvfPqProbe, k = PqK)
      .orderBy("query_id", "rank")
  },
    // q135: coarse chain + residuals + per-subspace codebook chains +
    // probed-list ADC — the whole IVF-PQ composition replayed
    oracle =
      ivfPqOracleSql(IvfPqCoarse, IvfPqCoarseIters, PqM, IvfPqCodebookK,
        IvfPqIters, dim = 64, nProbe = IvfPqProbe, k = PqK,
        queryPred = "v.vec_id % 50 = 0"))

  /** q135 under the PRODUCTION train/serve split (q132's discipline
    * uniformly across the index family): the coarse quantizer and all
    * four residual codebooks train on the vec_id % 4 ≤ 1 slice ONLY;
    * the whole corpus — held-out rows included — is then frozen-routed
    * and frozen-encoded through the fixed models, and queries are
    * served exactly as in q135. This is the shape a 100 TB deployment
    * actually runs (train once on a sample, encode forever); the
    * oracle replays the split chains, the frozen routing/encoding of
    * every row, and the ADC ranking — all exact integers. */
  query("q138_ivfpq_split", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", dim = 64,
        nCoarse = IvfPqCoarse, coarseIters = IvfPqCoarseIters,
        m = PqM, codebookK = IvfPqCodebookK, pqIters = IvfPqIters,
        nProbe = IvfPqProbe, k = PqK,
        train = Some(e.filter(col("vec_id") % 4 <= 1)))
      .orderBy("query_id", "rank")
  },
    // q138: the same composition with every chain trained on the
    // vec_id % 4 <= 1 slice and ALL rows frozen-routed/encoded against
    // the final centroids (the q132 codesFromRouting CTE shapes)
    oracle =
      ivfPqOracleSql(IvfPqCoarse, IvfPqCoarseIters, PqM, IvfPqCodebookK,
        IvfPqIters, dim = 64, nProbe = IvfPqProbe, k = PqK,
        queryPred = "v.vec_id % 50 = 0",
        trainPred = "vec_id % 4 <= 1"))

  /** Hybrid retrieval ([[Retrieval.rrfFuse]]): the lexical arm (q85's
    * BM25 over first-five-token queries) and the dense arm (q12's
    * exact cosine over the aligned embedding rows) fused by
    * reciprocal rank — scaled-integer contributions, so the fused
    * score and ranking are exact with no cross-arm calibration.
    * `lex_rank`/`vec_rank` ride along as the per-arm audit (NULL =
    * that arm missed the doc). The query set is doc_id ≡ 0 mod 100 on
    * BOTH arms (doc_id and vec_id are the same key space). */
  query("q133_hybrid_rrf", (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)).as("qtext"))
    val lex = TextOps.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val e = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq("lex" -> lex, "vec" -> vec), k = 10)
      .orderBy("query_id", "rank")
  },
    oracle =
      s"""WITH lex0 AS (SELECT query_id, doc_id, rank FROM (
         |$bm25Sql)),
         |vec0 AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |${bruteAnnSqlOver("vec_id % 100 = 0")})),
         |u AS (SELECT 'lex' AS arm, query_id, doc_id, rank FROM lex0
         |      UNION ALL SELECT 'vec', query_id, doc_id, rank FROM vec0),
         |f AS (SELECT query_id, doc_id,
         |        sum(1000000000 // (60 + rank))::BIGINT AS rrf_score,
         |        max(CASE WHEN arm = 'lex' THEN rank END)::BIGINT AS lex_rank,
         |        max(CASE WHEN arm = 'vec' THEN rank END)::BIGINT AS vec_rank
         |      FROM u GROUP BY 1, 2),
         |fr AS (SELECT query_id, doc_id, rrf_score, lex_rank, vec_rank,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf_score DESC, doc_id) AS rank
         |       FROM f)
         |SELECT query_id, rank, doc_id, rrf_score, lex_rank, vec_rank
         |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** q134 oracle: the same three arm replays WITH their ranks, hits
    * against q12's exact replay, then MRR/nDCG with the discount
    * constants inlined from [[Retrieval.dcgDiscounts]] — integer sums
    * throughout, two rounded ratios at the end. */
  private def retrievalMetricsSql: String = {
    val discList = graft.operators.Retrieval.dcgDiscounts.take(10)
      .mkString(", ")
    val idcg = graft.operators.Retrieval.dcgDiscounts.take(10).sum
    val scale = graft.operators.Retrieval.DcgScale
    s"""WITH lshr AS (SELECT query_id, neighbor_id, rank FROM (
       |${annLshOracle(nPlanes = 4, nTables = 8, k = 10)})),
       |ivfr AS (SELECT query_id, neighbor_id, rank FROM (
       |${annIvfOracle(nCentroids = 16, nProbe = 4, k = 10)})),
       |qzr AS (SELECT query_id, neighbor_id, rank FROM (
       |$quantAnnSql)),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |$bruteAnnSql)),
       |nqq AS (SELECT count(DISTINCT query_id)::BIGINT AS nq FROM bf),
       |un AS (SELECT 'lsh' AS method, query_id, neighbor_id, rank FROM lshr
       |       UNION ALL SELECT 'ivf', query_id, neighbor_id, rank FROM ivfr
       |       UNION ALL SELECT 'int8', query_id, neighbor_id, rank FROM qzr),
       |hits AS (SELECT un.method, un.query_id, un.rank
       |         FROM un JOIN bf USING (query_id, neighbor_id)
       |         WHERE un.rank <= 10),
       |pq AS (SELECT method, query_id, min(rank) AS fr,
       |         sum(list_value($discList)[rank])::BIGINT AS dcg
       |       FROM hits GROUP BY 1, 2),
       |m AS (SELECT method, sum($scale // fr)::BIGINT AS sum_rr,
       |        sum(dcg)::BIGINT AS sum_dcg
       |      FROM pq GROUP BY 1)
       |SELECT method, (SELECT nq FROM nqq) AS n_queries, sum_rr,
       |  round(sum_rr::DOUBLE /
       |    ((SELECT nq FROM nqq) * $scale)::DOUBLE, 6) AS mrr,
       |  sum_dcg, ((SELECT nq FROM nqq) * $idcg)::BIGINT AS sum_idcg,
       |  round(sum_dcg::DOUBLE /
       |    ((SELECT nq FROM nqq) * $idcg)::DOUBLE, 6) AS ndcg
       |FROM m ORDER BY method""".stripMargin
  }

  /** Ranking-quality metrics ([[Retrieval.rankingMetrics]]): q92's
    * recall audit says WHETHER the exact top-10 came back per arm —
    * this says WHERE: MRR over the first relevant hit and
    * micro-averaged binary nDCG@10, for the same three approximate
    * arms against the same exact ground truth. The DCG discount table
    * is precomputed scaled integers inlined into both engines (there
    * is no cross-engine log2 to agree on), so every sum is exact and
    * only the two final ratios round. */
  query("q134_retrieval_metrics", (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id",
        "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val arms = Seq(
      "lsh" -> Similarity.lshTopK(e, queries, "vec_id", "embedding",
        k = 10, nPlanes = 4, nTables = 8),
      "ivf" -> Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4, iters = 0),
      "int8" -> Similarity.quantizedTopK(e, queries, "vec_id", "embedding",
        k = 10, shortlist = 32))
      .map { case (m, df) =>
        m -> df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }
    Retrieval.rankingMetrics(arms, exact, k = 10)
  },
    // q133: both arms replayed verbatim (q85's BM25, q12's exact
    // cosine restricted to the shared query set), then integer RRF
    // q134: arm replays with ranks, hit-joined to the exact replay,
    // then integer MRR/DCG sums with the inlined discount constants
    oracle = retrievalMetricsSql)
}
