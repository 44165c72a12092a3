package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join pruning: cut the big side of a selective join
  * BEFORE its shuffle.
  *
  * The classic 100 TB shape: a huge fact table semi-joined to a
  * selective key set (contaminated doc ids, urgent orders, a denylist).
  * A plain semi join shuffles the ENTIRE big side on the join key; a
  * bloom filter built over the probe keys is a few MB, broadcasts as an
  * in-plan scalar, and eliminates most non-matching rows at the scan —
  * only the survivors (matches + the bloom's false positives) pay the
  * shuffle. The exact semi join still runs above the prefilter, so
  * false positives are removed and the result is EXACTLY the plain semi
  * join (which is what the q68 oracle asserts).
  *
  * Built on Spark's own sketch expressions ([[BloomFilterAggregate]] /
  * [[BloomFilterMightContain]] — the machinery behind AQE's runtime
  * row-level filtering), registered as functions the same way the media
  * and text kernels are. Doing it explicitly rather than relying on the
  * optimizer's injected filter keeps the pruning deterministic — it
  * works at any threshold, under any conf, and for non-join uses
  * (filter a stream against a static denylist bloom). The bloom stays
  * IN-PLAN as a scalar subquery: no driver-side collect, the aggregate
  * runs distributed and its one binary row broadcasts.
  */
object Blooms {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(FunctionIdentifier("graft_bloom_agg"))) return
    reg.createOrReplaceTempFunction("graft_bloom_agg", {
      case Seq(v)       => new BloomFilterAggregate(v)
      case Seq(v, n)    => new BloomFilterAggregate(v, n)
      case Seq(v, n, b) => new BloomFilterAggregate(v, n, b)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_might_contain",
      es => BloomFilterMightContain(es(0), es(1)), "scala_udf")
  }

  /** The bloom filter over `probeKey` as an in-plan scalar (binary)
    * column — a scalar subquery, usable in any filter. */
  def bloomOf(probe: DataFrame, probeKey: String, expectedItems: Long): Column = {
    register(probe.sparkSession)
    probe.agg(call_function("graft_bloom_agg",
        xxhash64(col(probeKey)), lit(expectedItems)).as("bf"))
      .scalar()
  }

  /** `big` reduced to rows whose `bigKey` MIGHT be in `probe`'s key
    * set: no false negatives, a bounded false-positive rate (~3% at the
    * default bits-per-item). Approximate on its own — compose with an
    * exact join ([[bloomSemiJoin]]) when exactness is required. */
  def bloomPrefilter(big: DataFrame, probe: DataFrame, bigKey: String,
                     probeKey: String, expectedItems: Long): DataFrame = {
    register(big.sparkSession)
    big.where(call_function("graft_might_contain",
      bloomOf(probe, probeKey, expectedItems), xxhash64(col(bigKey))))
  }

  /** Exact left-semi join with the bloom prefilter below it: equals the
    * plain `big SEMI JOIN probe` row-for-row, but at scale only the
    * bloom survivors reach the join's shuffle. The join side projects
    * the probe under a fresh name — the probe plan also appears inside
    * the bloom's scalar subquery, and reusing its attributes directly
    * would collide when the analyzer deduplicates the second
    * occurrence. */
  def bloomSemiJoin(big: DataFrame, probe: DataFrame, bigKey: String,
                    probeKey: String, expectedItems: Long): DataFrame = {
    val pruned = bloomPrefilter(big, probe, bigKey, probeKey, expectedItems)
    val keys = probe.select(col(probeKey).as("__probe_key"))
    pruned.join(keys, col(bigKey) === col("__probe_key"), "left_semi")
  }

  /** (Re)build a store's persisted COVERAGE bloom at `out`: one row —
    * `bf`, the bloom over `key` for every row of the parquet store at
    * `store` with `b ≤ coveredUpTo` (the whole store when it carries no
    * `b`), exact item count, Spark's default ~3% fpp — plus
    * `covered_up_to` and `n_items`, so a serve can split covered rows
    * from those absorbed since. Rebuilt at init and fold time; between
    * rebuilds the artifact goes stale-but-correct, because serves run
    * the `b > covered_up_to` slice through a plain exact join. A store
    * with no readable schema (no partition written yet) or no rows
    * writes no sketch. */
  def writeCoverage(s: SparkSession, store: String, key: Column,
                    coveredUpTo: Long, out: String): Unit = {
    scala.util.Try {
      val df = s.read.parquet(store)
      df.schema // force analysis — inference failure must land in the Try
      df
    }.foreach { all =>
      val slice =
        if (all.columns.contains("b")) all.filter(col("b").cast("long") <= coveredUpTo)
        else all
      val n = slice.count()
      if (n > 0) {
        register(s)
        slice
          .agg(call_function("graft_bloom_agg", key, lit(n)).as("bf"))
          .withColumn("covered_up_to", lit(coveredUpTo))
          .withColumn("n_items", lit(n))
          .coalesce(1)
          .write.mode("overwrite").parquet(out)
      }
    }
  }

  /** The coverage bloom at `dir` ([[writeCoverage]]) as an in-plan
    * scalar plus its coverage bound — None when absent, unreadable
    * (e.g. a mid-rebuild crash; the caller falls back to the plain
    * join) or smaller than `minItems` (below which the sketch's fixed
    * overhead costs more than the shuffle it saves). The sketch is an
    * access path, never a semantics. */
  def readCoverage(s: SparkSession, dir: String,
                   minItems: Long): Option[(Column, Long)] = {
    val bp = new org.apache.hadoop.fs.Path(dir)
    if (!bp.getFileSystem(s.sessionState.newHadoopConf()).exists(bp)) None
    else scala.util.Try {
      val art = s.read.parquet(dir)
      val meta = art.select(col("covered_up_to"), col("n_items")).head()
      register(s)
      (art.select(col("bf")).scalar(), meta.getLong(0), meta.getLong(1))
    }.toOption.collect {
      case (bf, covered, n) if n >= minItems => (bf, covered)
    }
  }
}
