package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.functions.ZOrder

/** Data-layout operators: Hive-style partitioned parquet writes and
  * partition-pruned reads.
  *
  * At 100 TB, partition pruning is the difference between scanning a
  * directory and scanning a corpus: a layout partitioned on the
  * dominant filter column (event day, source, language) turns any
  * predicate on that column into DIRECTORY-LISTING elision — files of
  * non-matching partitions are never opened, never even stat'd by the
  * scan. This is Catalyst's cheapest pushdown (it happens at file-index
  * time, before split planning), but only if the writer laid the data
  * out for it; these helpers are the write side of that contract.
  * (Mirrors the reference's per-table replace/append layout decision —
  * mabna_tables_create.py writes whole tables flat; at its data size
  * flat is fine, at ours partitioning is load-bearing.)
  */
object Layout {

  /** Write `df` as a Hive-partitioned parquet layout under `path`, one
    * directory per distinct value tuple of `partCols`. Choose LOW-
    * cardinality columns (day, source, lang): each partition should
    * hold many row groups, not the reverse — a high-cardinality
    * partition column shatters the table into tiny files and the
    * listing itself becomes the bottleneck. */
  def writePartitioned(df: DataFrame, path: String, partCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(path)

  /** Read a partitioned layout back. Partition columns come back as
    * real columns (parsed from directory names); any filter on them
    * prunes at the file index — `PartitionFilters` in the scan node,
    * pinned by PlanContractSpec. */
  def readPartitioned(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Write `df` z-order-clustered on `zcols` ([[ZOrder]] bit
    * interleave): normalize each column to a `bits`-bit bucket over
    * `bounds`, range-repartition + sort by the interleaved key, write
    * `numFiles` parquet files, drop the key. The layout is invisible to
    * results (same rows, pinned by the q69 oracle); what changes is
    * that every file's min/max footer stats become a tight box in
    * z-space, so a conjunctive filter on ANY subset of `zcols` skips
    * the row groups whose box misses it — where a lexicographic sort
    * only ever skips on its leading column (measured contrast in
    * LayoutSpec and docs/SCALE.md).
    *
    * `bounds` are the normalization ranges (inclusive); values outside
    * clamp to the edge buckets, nulls go to bucket 0 — clustering
    * quality degrades gracefully, correctness is unaffected. Use
    * [[writeZOrderedAuto]] to derive bounds with one extra
    * min/max pass; at 100 TB prefer bounds from existing footer stats
    * or domain knowledge (user ids, timestamps) and skip that pass. */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[String],
                    bounds: Seq[(Double, Double)], numFiles: Int,
                    bits: Int = 16): Unit = {
    require(zcols.nonEmpty && zcols.size == bounds.size &&
      zcols.size * bits <= 63, "zcols/bounds mismatch or too many bits")
    val maxB = (1L << bits) - 1
    val buckets = zcols.zip(bounds).map { case (c, (lo, hi)) =>
      val b =
        if (hi > lo)
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(maxB.toDouble))
            .cast("long")
        else lit(0L)
      coalesce(least(greatest(b, lit(0L)), lit(maxB)), lit(0L))
    }
    df.withColumn("__graft_z", ZOrder.zKey(df.sparkSession, bits, buckets: _*))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a small-files layout into ~`targetBytes` files.
    *
    * Micro-batch appends — the reference writes one per 15 minutes
    * (mabna_tables_update.py:58-59) — shatter a table into files far
    * smaller than a row group should be; at 100 TB the scan's task
    * count and footer-read overhead come to dominate. Compaction is a
    * pure read-concat-rewrite: file count from the layout's ACTUAL
    * listed bytes, `coalesce` (NOT repartition — merging partitions
    * needs no shuffle, and the scan already packs small files into
    * splits via maxPartitionBytes) and one write. No Exchange anywhere
    * in the plan (pinned). Returns the compacted file count.
    *
    * Trade-off, documented: coalesce merges ADJACENT splits, so file
    * sizes can skew where input files do; for strict sizing use the
    * z-order path (range write) instead. At cluster scale run this
    * per-partition-directory under the partition-pruning layout. */
  def compact(s: SparkSession, srcPath: String, dstPath: String,
              targetBytes: Long): Int = {
    val bytes = listParquetBytes(new java.io.File(srcPath))
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(srcPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(dstPath)
    nFiles
  }

  /** In-place retention compaction of a hash-partitioned STORE layout
    * (the signature store's `bk_part=N` dirs, the posting index's
    * `tp=N`, the IVF index's `part=N`): every partition directory
    * whose parquet file count exceeds `maxFiles` is compacted to
    * ~`targetBytes` files via [[compact]] and swapped back under the
    * SAME directory name, so readers keep the root path, the partition
    * column (re-derived from the directory name), and the pruning
    * layout. Append-per-batch stores shatter at the increment cadence
    * (one file per partition per append — the reference's 15-minute
    * loop, mabna_tables_update.py:58-59, would add 96/day); the
    * trigger is the OBSERVABLE shatter (file count), not an append
    * counter someone must remember to maintain. Compaction changes
    * bytes-on-disk only — the row multiset, and therefore every probe
    * over the store, is invariant (pinned in LayoutSpec and by q89's
    * oracle).
    *
    * Swap discipline: compact lands in a dot-prefixed sibling (hidden
    * from Spark reads), the old dir is renamed aside, the new one
    * takes its name, then the old is deleted. Single-writer contract
    * like every append here; at cluster scale the swap becomes a
    * transactional metadata commit (table-format territory) — the
    * directory form keeps the identical READ layout without a
    * metastore. Returns (partitions compacted, files before, files
    * after) for the caller's retention log. */
  def compactStore(s: SparkSession, root: String, targetBytes: Long,
                   maxFiles: Int): (Int, Int, Int) = {
    require(maxFiles >= 1, s"maxFiles=$maxFiles must be >= 1")
    val rootF = new java.io.File(root)
    val parts = Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !d.getName.startsWith("."))
    var done = 0; var before = 0; var after = 0
    parts.foreach { d =>
      val nSrc = Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      before += nSrc
      if (nSrc > maxFiles) {
        val tmp = new java.io.File(rootF, s".compact-${d.getName}")
        val n = compact(s, d.getAbsolutePath, tmp.getAbsolutePath, targetBytes)
        swapInto(rootF, d, tmp)
        done += 1; after += n
      } else after += nSrc
    }
    (done, before, after)
  }

  /** Rewrite the NAMED partitions of a store in place: the partitions
    * whose `partCol=value` directories exist are read in ONE pruned
    * scan (`values` becomes a static partition filter — unnamed
    * directories are never opened), passed through `transform`
    * together, written partition-laid-out into a dot-prefixed staging
    * sibling in ONE job, and each directory is swapped back under its
    * SAME name ([[compactStore]]'s discipline — readers keep the root
    * path, the partition column, and the pruning layout). This is the
    * write-side mirror of a pruned probe, and it is what makes
    * targeted store maintenance (purging opted-out documents, applying
    * a correction) O(affected partitions) instead of O(store) — as one
    * job, not one job per directory: a takedown touching 200
    * partitions pays one scan and one write, not 200 sequential
    * fixed-overhead jobs (the 20× purge storm measured the per-dir
    * form at parity with a full rebuild for exactly that reason).
    * Values absent on disk are skipped: a purge batch's key set may
    * hash to a partition the store never wrote (no rows there to
    * change — the same containment law that makes pruned reads exact
    * makes the skip exact). Returns the number of directories
    * rewritten.
    *
    * `transform` must be a row-level shrink/rewrite (filter, column
    * fix): it sees the named partitions' rows WITH `partCol` attached
    * and must preserve that column and its values — each row lands
    * back under its own partition's name. A partition whose rows all
    * vanish swaps to an empty directory (still listed, zero rows —
    * the layout stays intact). Single-writer contract as everywhere
    * here; at cluster scale the swap becomes a table-format
    * transactional commit. */
  def rewritePartitionsInPlace(s: SparkSession, root: String,
                               partCol: String, values: Seq[Any])
                              (transform: DataFrame => DataFrame): Int = {
    val rootF = new java.io.File(root)
    val existing = values.distinct
      .filter(v => new java.io.File(rootF, s"$partCol=$v").isDirectory)
    if (existing.isEmpty) return 0
    val tmpRoot = new java.io.File(rootF, s".rewrite-batch-$partCol")
    transform(s.read.parquet(root)
        .filter(col(partCol).isin(existing.map(_.asInstanceOf[AnyRef]): _*)))
      .repartition(col(partCol)) // one writer task per partition dir
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(tmpRoot.getAbsolutePath)
    existing.foreach { v =>
      val name = s"$partCol=$v"
      val tmp = new java.io.File(tmpRoot, name)
      if (!tmp.isDirectory) tmp.mkdirs() // partition emptied by transform
      swapInto(rootF, new java.io.File(rootF, name), tmp)
    }
    Engine.rmTree(tmpRoot)
    existing.size
  }

  /** Install `tmp` under `d`'s name: move `d` aside, rename `tmp`
    * into place, delete the old tree. The non-atomic window is two
    * renames — the single-writer contract all stores here share. */
  private def swapInto(rootF: java.io.File, d: java.io.File,
                       tmp: java.io.File): Unit = {
    val old = new java.io.File(rootF, s".old-${d.getName}")
    require(d.renameTo(old), s"could not move aside $d")
    require(tmp.renameTo(d), s"could not install rewritten ${d.getName}")
    Engine.rmTree(old)
  }

  private def listParquetBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) listParquetBytes(f)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    }.sum

  /** [[writeZOrdered]] with bounds from one min/max aggregate over the
    * input (a second scan — fine when the write itself dominates, as it
    * does for a re-layout; avoid at 100 TB if footer stats are at
    * hand). */
  def writeZOrderedAuto(df: DataFrame, path: String, zcols: Seq[String],
                        numFiles: Int, bits: Int = 16): Unit = {
    val aggs = zcols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__lo_$c"),
        max(col(c).cast("double")).as(s"__hi_$c")))
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    val bounds = zcols.indices.map { i =>
      val lo = if (row.isNullAt(2 * i)) 0d else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0d else row.getDouble(2 * i + 1)
      (lo, hi)
    }
    writeZOrdered(df, path, zcols, bounds, numFiles, bits)
  }
}
