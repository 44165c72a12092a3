package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental micro-batch engine (SURVEY.md §2.9, §2.2, §2.6).
  *
  * Reference shape (mabna_tables_update.py):
  *   1. watermark recovery — per-table `SELECT MAX("meta.version")`
  *      (:86-98); the destination table IS the state store;
  *   2. incremental read filtered `version > wm` (:137);
  *   3. append (:58-59);
  *   4. keep-last dedup repair (:271-280).
  *
  * Re-expressed: the watermark probe is a scalar agg (parquet
  * footer-min/max makes it a metadata-mostly scan), the filter pushes
  * down, the append is an atomic parquet append, the dedup is W1's
  * single-shuffle window instead of a full rewrite.
  */
object Incremental {

  /** A1 — watermark probe: ungrouped MAX over the version column.
    * Returns None on an empty/absent table (first run). */
  def maxWatermark(df: DataFrame, versionCol: String): Option[Long] =
    df.agg(max(col(versionCol)).cast("long")).first() match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getLong(0))
    }

  /** F3 — the incremental filter `version > wm`; pushed to the scan. */
  def newerThan(df: DataFrame, versionCol: String, wm: Option[Long]): DataFrame =
    wm.fold(df)(w => df.filter(col(versionCol) > lit(w)))

  /** Mergeable per-key aggregate state: (cnt, sum, vmin, vmax) of a
    * value column. The reference recomputes every aggregate from the
    * whole table each 15-minute batch; with a MERGEABLE state the
    * update costs O(batch + |state|) — history is never rescanned. The
    * sum is held as DECIMAL so merging is exact and associative (a
    * double sum would drift with merge order and diverge from any
    * oracle); derive doubles only at presentation. */
  def aggState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(col(valueCol)).as("cnt"),
      sum(col(valueCol).cast("decimal(18,6)")).cast("decimal(28,6)").as("vsum"),
      min(col(valueCol)).as("vmin"),
      max(col(valueCol)).as("vmax"))

  /** Merge any number of [[aggState]] snapshots: sum-of-sums on the
    * decimal state is exact, so merge(a, b) == aggState(a.raw ∪ b.raw)
    * for ANY slicing of the raw data (the associativity law
    * IncrementalSpec pins and q74's oracle certifies end-to-end). */
  def mergeAggState(states: Seq[DataFrame], keys: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(
        sum(col("cnt")).as("cnt"),
        sum(col("vsum")).cast("decimal(28,6)").as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))

  /** Mergeable per-key DISTINCT-count state: a Datasketches HLL sketch
    * (binary column) per key. The exact-distinct counterpart of
    * [[aggState]]: COUNT(DISTINCT) is the one common aggregate that is
    * NOT sum-decomposable, so incremental maintenance needs sketch
    * state — constant bytes per key (2^lgK registers) where the exact
    * state would be the full key×distinct-value set. Register-max union
    * makes the merge exact w.r.t. the sketch: merging any slicing of
    * the raw data yields the IDENTICAL sketch (and thus estimate) as
    * one pass over everything — the law IncrementalSpec pins and q76
    * audits in-query. */
  def distinctState(df: DataFrame, keys: Seq[String], distinctCol: String,
                    lgK: Int = 14): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(distinctCol), lit(lgK)).as("hll"))

  /** Merge any number of [[distinctState]] snapshots (register-max). */
  def mergeDistinctState(states: Seq[DataFrame], keys: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("hll"), lit(false)).as("hll"))
}

/** Layered table store abstraction (SURVEY.md §1.1): the reference's
  * source/staging/production Postgres schemas, behind one API. Two
  * implementations — parquet directories (pure-Spark engine) and JDBC
  * (reference-semantics parity against a relational database). Pipeline
  * code never cares which one it talks to. `replace` and `append` must
  * write the DataFrame they are given in one write action: Pipeline
  * observes its row count on that execution.
  */
trait LayeredStore {
  def spark: SparkSession
  /** K1 — full replace (`to_sql if_exists='replace'`). */
  def replace(layer: String, table: String, df: DataFrame): Unit
  /** K2 — append (`to_sql if_exists='append'`). */
  def append(layer: String, table: String, df: DataFrame): Unit
  def read(layer: String, table: String): DataFrame
  def exists(layer: String, table: String): Boolean
  /** Tables present in a layer. */
  def tables(layer: String): Seq[String]

  /** S5+A1 — probe every table of a layer for its max version
    * (the reference's `max_meta_versions(schema)` dict,
    * mabna_tables_update.py:73-98). */
  def probeWatermarks(layer: String, versionCol: String): Map[String, Long] =
    tables(layer).flatMap { t =>
      Incremental.maxWatermark(read(layer, t), versionCol).map(t -> _)
    }.toMap

  /** One micro-batch hop: filter the incoming batch past the stored
    * watermark, append, then keep-last repair. Returns the repaired
    * table. This is the reference's update-DAG body for one table. */
  def incrementalUpsert(layer: String, table: String, batch: DataFrame,
                        versionCol: String, keys: Seq[String],
                        ordering: Seq[Column]): DataFrame = {
    val wm = if (exists(layer, table))
      Incremental.maxWatermark(read(layer, table), versionCol) else None
    val fresh = Incremental.newerThan(batch, versionCol, wm)
    append(layer, table, fresh)
    // The reference rewrites the whole table each batch (O(total));
    // partition-pruned MERGE is the scale path. The repaired view is
    // MATERIALIZED (lineage cut) before returning: callers persist it
    // back over the same table, and a lazy plan would re-read the path/
    // JDBC table mid-truncate and silently lose data.
    Dedup.keepLast(read(layer, table), keys, ordering).localCheckpoint(true)
  }
}

/** Parquet-directory store: `root/{layer}/{table}`. At cluster scale
  * the same layout lives on object storage behind a catalog. */
final case class TableStore(spark: SparkSession, root: String) extends LayeredStore {
  private def path(layer: String, table: String) = s"$root/$layer/$table"

  private def write(layer: String, table: String, df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(path(layer, table))

  override def replace(layer: String, table: String, df: DataFrame): Unit =
    write(layer, table, df, SaveMode.Overwrite)

  override def append(layer: String, table: String, df: DataFrame): Unit =
    write(layer, table, df, SaveMode.Append)

  override def read(layer: String, table: String): DataFrame =
    spark.read.parquet(path(layer, table))

  /** Entries of a store directory (none if it is absent), resolved
    * through Hadoop's FileSystem like the parquet reader and writer do,
    * so a URI root (`file:`, `hdfs:`, an object store) lists the same
    * tables as the plain path. */
  private def children(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
    else Seq.empty
  }

  /** Directory-with-content check, not `_SUCCESS`: dynamic-partition
    * overwrites commit through a staging dir and do not leave a root
    * success marker. */
  override def exists(layer: String, table: String): Boolean =
    children(path(layer, table)).nonEmpty

  override def tables(layer: String): Seq[String] =
    children(s"$root/$layer").filter(_.isDirectory).map(_.getPath.getName).sorted

  /** Schema-evolving read: unions the schemas of every file in the
    * table (parquet mergeSchema), so an append that added columns stays
    * readable — older rows surface null for the new columns. The
    * reference's `if_exists='append'` silently assumes schema stability
    * (SURVEY.md §1.2); at 100 TB upstream APIs add fields mid-stream. */
  def readMerged(layer: String, table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(layer, table))

  /** K1, partitioned: production tables laid out by a partition column
    * (the reference's prod tables keyed by `j_date` — SURVEY.md §4
    * "partition prod tables by j_date prefix"). */
  def replacePartitioned(layer: String, table: String, df: DataFrame,
                         partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(path(layer, table))

  /** The 100 TB form of the reference's per-batch dedup: instead of
    * read-all → dedup → rewrite-all (O(table) every 15 minutes,
    * mabna_tables_update.py:271-280), merge the batch with ONLY the
    * partitions it touches and dynamically overwrite those partitions.
    * Work per batch is O(affected partitions), independent of total
    * table size. Partition values are metadata-scale, so collecting the
    * batch's distinct values on the driver is the partition-pruning
    * filter, not a data collect. */
  def incrementalUpsertPartitioned(layer: String, table: String,
                                   batch: DataFrame, versionCol: String,
                                   keys: Seq[String], ordering: Seq[Column],
                                   partCol: String): Unit = {
    val batchCols = batch.columns
    val aligned = batch.select(batchCols.map(col): _*)
    if (!exists(layer, table)) {
      replacePartitioned(layer, table,
        Dedup.keepLast(aligned, keys, ordering), partCol)
    } else {
      // materialize BEFORE the overwrite: the merged plan reads the same
      // path it is about to replace, so the lineage must be cut (eager
      // localCheckpoint) or the lazy re-read would see truncated data.
      // (A transactional table format — Delta/Iceberg — makes this a
      // real MERGE at cluster scale; same logical shape.)
      val merged = upsertMergePlan(layer, table, aligned, keys, ordering,
        partCol).localCheckpoint(true)
      // dynamic mode set ON THE WRITE, not just the session: under the
      // default static mode this overwrite would silently delete every
      // untouched partition
      merged.write.mode(SaveMode.Overwrite).partitionBy(partCol)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path(layer, table))
    }
  }

  /** The LAZY merge plan of one partitioned upsert, factored out so its
    * scale contract is pinnable (PlanContractSpec): the existing-rows
    * side reads ONLY the partitions the batch touches — the scan must
    * carry a partition filter, never a full-table scan. */
  def upsertMergePlan(layer: String, table: String, batch: DataFrame,
                      keys: Seq[String], ordering: Seq[Column],
                      partCol: String): DataFrame = {
    val batchCols = batch.columns
    val aligned = batch.select(batchCols.map(col): _*)
    val touched = aligned.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    // isin(null) evaluates to NULL, not true — the null partition
    // (__HIVE_DEFAULT_PARTITION__) must be matched explicitly or its
    // existing rows would be excluded from the merge and then erased
    // by the dynamic overwrite
    val nonNull = touched.filter(_ != null)
    val touchCond = {
      val in = if (nonNull.nonEmpty) col(partCol).isin(nonNull: _*) else lit(false)
      if (touched.contains(null)) in || col(partCol).isNull else in
    }
    val affected = read(layer, table)
      .filter(touchCond) // static partition pruning
      .select(batchCols.map(col): _*)
    Dedup.keepLast(affected.union(aligned), keys, ordering)
  }
}

/** JDBC store (S4/K1/K2): the reference's actual storage model —
  * Postgres schemas — expressed as `{layer}_{table}` JDBC tables (works
  * against any dialect Spark ships; tested against embedded Derby).
  * `replace` uses truncate=true so the DDL survives, matching the
  * engine-upgrade note in SURVEY.md §7.4 (pandas `to_sql(replace)`
  * drops and re-infers — truncating is strictly safer). */
final case class JdbcTableStore(spark: SparkSession, url: String) extends LayeredStore {
  private def name(layer: String, table: String) = s"${layer}_$table"

  override def replace(layer: String, table: String, df: DataFrame): Unit =
    df.write.format("jdbc").mode(SaveMode.Overwrite)
      .option("url", url).option("dbtable", name(layer, table))
      .option("truncate", "true").save()

  override def append(layer: String, table: String, df: DataFrame): Unit =
    df.write.format("jdbc").mode(SaveMode.Append)
      .option("url", url).option("dbtable", name(layer, table)).save()

  override def read(layer: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", name(layer, table)).load()

  override def exists(layer: String, table: String): Boolean =
    tables(layer).contains(table)

  override def tables(layer: String): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val prefix = s"${layer}_"
      while (rs.next()) {
        val t = rs.getString("TABLE_NAME").toLowerCase
        if (t.startsWith(prefix)) out += t.stripPrefix(prefix)
      }
      out.toSeq.sorted
    } finally conn.close()
  }
}
