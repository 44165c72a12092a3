package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents finds transitive components with min labels") {
    // components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = TextOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on chains deeper than 10 hops") {
    val chain = (1L to 24L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = TextOps.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L)) // one component, min label 1
  }

  test("CC (large/small-star): descending chain and merged hubs land on " +
    "the component minima") {
    // descending chain 49-48-…-1 exercises the small-star direction the
    // ascending chain above never does; the two-hub component checks
    // that stars merging through a shared spoke adopt the global min
    val pairs = ((2L to 49L).map(i => (i, i - 1)) ++
      Seq((100L, 150L), (100L, 151L), (151L, 90L))).toDF("id_a", "id_b")
    val cc = TextOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 49L).forall(cc(_) == 1L))
    assert(Seq(90L, 100L, 150L, 151L).forall(cc(_) == 90L))
    assert(cc.size == 53)
  }

  /** Reference CC: iterative min-label propagation (the round-19 engine
    * CC) — each round every node adopts the smallest label in its
    * neighbourhood; fixpoint in O(component diameter) rounds. */
  private def minLabel(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val cut: DataFrame => DataFrame = df => df.localCheckpoint(true)
    val p = cut(pairs)
    val edges = cut(p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val updated = cut(
        labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")))
      converged = updated.filter(col("label") =!= col("prev")).isEmpty
      labels = updated.select("id", "label")
      i += 1
    }
    require(converged, s"minLabel did not converge in $maxIter rounds")
    labels
  }

  test("CC (large/small-star) ≡ min-label propagation on seeded random " +
    "graphs: chains, isolated pairs and one large component") {
    for (seed <- Seq(3L, 17L, 2024L)) {
      val rnd = new scala.util.Random(seed)
      // one large component: a random recursive tree over 200 shuffled
      // ids plus 60 random chords (duplicates and both orientations)
      val ids = rnd.shuffle((0L until 200L).map(_ * 7 + 1000L))
      val large = (1 until 200).map(i => (ids(rnd.nextInt(i)), ids(i))) ++
        Seq.fill(60)((ids(rnd.nextInt(200)), ids(rnd.nextInt(200))))
          .filter(e => e._1 != e._2)
      // chains of random length whose ids are not in path order
      val chains = (0 until 6).flatMap { c =>
        val path = rnd.shuffle((0L until 2L + rnd.nextInt(10)).map(_ + 100L * c))
        path.sliding(2).map(w => (w(0), w(1)))
      }
      val isolated = (0 until 15).map(i => (5000L + 2 * i, 5001L + 2 * i))
      val pairs = (large ++ chains ++ isolated)
        .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
        .toDF("id_a", "id_b")
      val got = TextOps.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val want = minLabel(pairs).as[(Long, Long)].collect().toMap
      assert(got == want, s"seed $seed")
      assert(want.size == 200 + chains.map(_._1).toSet
        .union(chains.map(_._2).toSet).size + 30, s"seed $seed")
    }
  }

  test("reliable-checkpoint CC equals the executor-local-cut result") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val pairs = ((1L to 24L).map(i => (i, i + 1)) ++ Seq((40L, 41L)))
      .toDF("id_a", "id_b")
    val local = TextOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val durable = TextOps.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(durable == local)
    // the rounds really did checkpoint to the reliable store
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty,
      s"no checkpoint data written under $dir")
  }

  test("dedupClusters works when the id column is literally named 'id'") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("id", "text")
    val out = TextOps.dedupClusters(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("dedupClusters: singletons keep themselves; dup groups keep the smallest id") {
    val docs = Seq(
      (10L, "a b c d e f"),
      (20L, "a b c d e f"),  // dup of 10
      (30L, "z y x w v u")   // singleton
    ).toDF("doc_id", "text")
    val out = TextOps.dedupClusters(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(10L) == (10L, true))
    assert(out(20L) == (10L, false))
    assert(out(30L) == (30L, true))
  }

  test("keeper count equals cluster count on the fixture corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.dedupClusters(docs, "doc_id", "text").cache()
    val keepers = out.filter(col("is_keeper")).count()
    val clusters = out.select("cluster_id").distinct().count()
    assert(keepers == clusters)
    assert(out.count() == docs.count()) // every doc classified exactly once
  }

  test("softDedupWeights: every doc kept once, singleton weight is " +
       "full, per-cluster mass is one floored document") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.softDedupWeights(docs, "doc_id", "text").cache()
    val n = docs.count()
    assert(out.count() == n, "soft dedup must keep every document")
    assert(out.select("doc_id").distinct().count() == n)
    val rows = out.collect()
    rows.foreach { r =>
      val dc = r.getAs[Long]("dup_count")
      val w = r.getAs[Long]("weight_ppm")
      assert(w == 1000000L / dc, "weight must be 1e6 div dup_count")
      assert(r.getAs[Long]("eff_tokens_ppm") ==
        r.getAs[Long]("ws_tokens") * w)
    }
    val singles = rows.filter(_.getAs[Long]("dup_count") == 1L)
    assert(singles.nonEmpty &&
      singles.forall(_.getAs[Long]("weight_ppm") == 1000000L))
    assert(rows.exists(_.getAs[Long]("dup_count") > 1L),
      "fixture must exercise a real dup cluster")
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (_, rs) =>
      val dc = rs.head.getAs[Long]("dup_count")
      val mass = rs.map(_.getAs[Long]("weight_ppm")).sum
      assert(rs.size == dc, "dup_count must equal the cluster's row count")
      assert(mass <= 1000000L && mass > 1000000L - dc,
        s"cluster mass $mass outside the floored-one-document band")
    }
    out.unpersist()
  }
}
