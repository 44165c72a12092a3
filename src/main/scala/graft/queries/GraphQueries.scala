package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Graphs

import Shared._

/** Graphs: PageRank and label-propagation communities. */
object GraphQueries extends QueryFamily {

  private val PageRankIters = 3

  /** q98 oracle: the integer-PageRank iteration replayed. Every
    * contribution is `((r // outdeg) * 85) // 100` on BIGINTs and the
    * teleport base is the same floored constant, so each rank table —
    * and therefore the fixpoint after any number of passes — is
    * bit-identical to the Spark loop. */
  /** q98/q119 oracle: integer PageRank replayed step by step.
    * `symmetrize` mirrors q98's undirected customer↔supplier graph;
    * `dangling` adds the per-pass redistribution term (q119's DIRECTED
    * bipartite graph, where every supplier is dangling): the dangling
    * rank sum, damped and floor-split evenly — the same integer ops
    * in the same order as Graphs.pageRankFixed. */
  private def pageRankOracleSql(iters: Int, symmetrize: Boolean = true,
                                dangling: Boolean = false): String = {
    val edCte = if (symmetrize)
      """ed AS (SELECT src, dst FROM le
        |       UNION SELECT dst AS src, src AS dst FROM le),""".stripMargin
    else "ed AS (SELECT src, dst FROM le),"
    val header =
      """WITH le AS (SELECT DISTINCT o.o_custkey * 2 AS src,
        |                            l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |""".stripMargin + edCte + """
        |deg AS (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
        |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |nn AS (SELECT count(*) AS n FROM nd),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nd, nn),
        |""".stripMargin
    val steps = (1 to iters).map { i =>
      val dangCte = if (!dangling) "" else
        s"""d$i AS (SELECT coalesce(sum(r.r), 0) AS d
           |        FROM r${i - 1} r LEFT JOIN deg ON deg.src = r.node
           |        WHERE deg.outdeg IS NULL),
           |""".stripMargin
      val dangTerm = if (!dangling) ""
        else " + ((d.d * 85) // 100) // nn.n"
      val dangFrom = if (!dangling) "" else s" CROSS JOIN d$i d"
      dangCte +
      s"""s$i AS (SELECT e.dst AS node,
         |          sum(((r.r // d.outdeg) * 85) // 100) AS c
         |        FROM ed e JOIN r${i - 1} r ON r.node = e.src
         |        JOIN deg d ON d.src = e.src GROUP BY 1),
         |r$i AS (SELECT nd.node,
         |          ((1000000000000 * 15) // (100 * nn.n)$dangTerm
         |           + coalesce(s.c, 0))::BIGINT AS r
         |        FROM nd CROSS JOIN nn$dangFrom
         |        LEFT JOIN s$i s ON s.node = nd.node),
         |""".stripMargin
    }.mkString
    val footer =
      s"""fin AS (SELECT node, r FROM r$iters)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |       node // 2 AS node_key, r AS rank_scaled
         |FROM fin ORDER BY node_type, node_key""".stripMargin
    header + steps + footer
  }

  /** Graph ranking ([[Graphs.pageRankFixed]]): integer-scaled PageRank
    * over the customer↔supplier trade graph (edge = "this customer's
    * order had a line from this supplier", symmetrized) — the source-
    * credibility primitive (rank a domain/citation graph, then weight
    * documents by their origin's rank). Three fixed update passes; all
    * arithmetic is floor-divided scaled integers, so rank mass is
    * exactly reproducible and the oracle replays the full iteration.
    * Node encoding: customer c ↦ 2c, supplier s ↦ 2s+1. */
  query("q98_pagerank", (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graphs.pageRankFixed(edges, iters = PageRankIters)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node DIV 2").as("node_key"), col("rank_scaled"))
      .orderBy("node_type", "node_key")
  },
    oracle = pageRankOracleSql(PageRankIters))

  /** PageRank with dangling-mass redistribution
    * ([[Graphs.pageRankFixed]] `redistributeDangling = true`) on the
    * DIRECTED customer→supplier bipartite graph — every supplier is
    * dangling (no out-edges), the shape where q98's simple treatment
    * visibly leaks mass to the teleport floor. Each pass sums the
    * dangling rank (one node-sized scalar), damps it and floor-splits
    * it evenly — integer-exact, so the oracle replays the term; rank
    * mass is conserved up to flooring loss (law in GraphsSpec). */
  query("q119_pagerank_dangling", (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    Graphs.pageRankFixed(fwd, iters = PageRankIters,
        redistributeDangling = true)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node DIV 2").as("node_key"), col("rank_scaled"))
      .orderBy("node_type", "node_key")
  },
    oracle = pageRankOracleSql(PageRankIters,
      symmetrize = false, dangling = true))

  private val LpaIters = 3

  /** q102 oracle: deterministic frequency-LPA replayed — neighbor
    * label counts are integers and the argmax tie-breaks on the label,
    * so every synchronous round (and the roster aggregate on top) is
    * bit-identical. */
  private def lpaOracleSql(iters: Int): String = {
    val header =
      """WITH le AS (SELECT DISTINCT o.o_custkey * 2 AS src,
        |                            l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey
        |            WHERE l.l_quantity >= 45),
        |ed AS (SELECT src, dst FROM le
        |       UNION SELECT dst AS src, src AS dst FROM le),
        |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        |l0 AS (SELECT node, node AS label FROM nd),
        |""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.dst AS node, l.label, count(*) AS c
         |        FROM ed e JOIN l${i - 1} l ON l.node = e.src
         |        GROUP BY 1, 2),
         |n$i AS (SELECT node, label FROM (
         |          SELECT node, label,
         |            row_number() OVER (PARTITION BY node
         |                               ORDER BY c DESC, label) AS rn
         |          FROM m$i) WHERE rn = 1),
         |l$i AS (SELECT p.node, coalesce(n.label, p.label) AS label
         |        FROM l${i - 1} p LEFT JOIN n$i n ON n.node = p.node),
         |""".stripMargin
    }.mkString
    val footer =
      s"""fin AS (SELECT node, label FROM l$iters)
         |SELECT label AS community, count(*)::BIGINT AS n_members,
         |       sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_customers,
         |       sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
         |         AS n_suppliers
         |FROM fin GROUP BY 1 ORDER BY community""".stripMargin
    header + steps + footer
  }

  /** Community detection ([[Graphs.labelPropagation]]): deterministic
    * frequency-LPA over the same symmetrized trade graph as q98 —
    * three synchronous rounds, each node adopting its neighbors' most
    * frequent label (ties toward the smaller). Integer counts + total
    * tie order make the whole fixpoint engine-exact. Output is the
    * community roster: per community label, its size and member split
    * by node type. */
  query("q102_communities", (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    // strong ties only (high-quantity lines): the dense full graph
    // collapses to one community per side in two LPA rounds — real
    // community structure needs the sparse backbone
    val l = Tables.lineitem(s, dir)
      .where(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val fwd = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graphs.labelPropagation(edges, iters = LpaIters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
      .orderBy("community")
  },
    oracle = lpaOracleSql(LpaIters))
}
