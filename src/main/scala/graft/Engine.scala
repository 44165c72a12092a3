package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table-store entry points for the graft engine.
  *
  * The engine re-expresses the reference pipeline
  * (Meisam984/Web-API_Postgres_ETL — see SURVEY.md) as idiomatic Spark:
  * declarative DataFrame plans, Catalyst-optimized, designed so every
  * operator scales from `local[*]` to a 1000-executor cluster purely via
  * partitioning (no driver-side loops over data).
  */
object Engine {

  /** Shuffle/spill scratch: prefer RAM-backed `/dev/shm` when it exists
    * with ample headroom (≥32 GiB free) — the local-mode equivalent of
    * pointing `spark.local.dir` at fast NVMe scratch instead of a
    * possibly network-backed / writeback-throttled root volume (this
    * box's buffered disk writes measure ~16 MB/s vs 162 MB/s direct;
    * every Exchange write would serialize on that). Local-mode shuffle
    * volume here is ≪1 GiB, far under the floor. An explicit
    * `SPARK_LOCAL_DIRS` env (a real cluster's ops-managed setting)
    * always wins over this heuristic. */
  private lazy val fastScratch: Option[String] = {
    if (sys.env.contains("SPARK_LOCAL_DIRS")) None
    else {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace > 32L * (1L << 30)) {
        val d = new java.io.File(shm, "graft-scratch")
        d.mkdirs()
        Some(d.getAbsolutePath)
      } else None
    }
  }

  /** Streaming-checkpoint root for local-mode harness queries: prefer
    * the RAM-backed fast scratch (same heuristic and escape hatch as
    * `spark.local.dir` above — the q141 bisection traced a 2× bimodal
    * slow mode to HDFS-state/commit-log fsyncs against the
    * writeback-throttled /tmp disk; a real cluster deployment passes a
    * durable checkpoint URI explicitly and never hits this). */
  def streamCheckpointDir(name: String): String = {
    val base = fastScratch.getOrElse(System.getProperty("java.io.tmpdir"))
    // namespace by JVM pid (round-17 advice): the recursive delete below
    // is keyed by queryName only, so two concurrent sessions picking the
    // same name (two bench runs both using devq141_1) would delete each
    // other's LIVE streaming checkpoints mid-query. The pid is free
    // before any SparkSession exists (unlike applicationId) and scopes
    // the fresh-checkpoint contract to this process's own runs.
    val pid = ProcessHandle.current().pid()
    sweepCheckpoints(new java.io.File(s"$base/graft-ckpt"), pid)
    val dir = new java.io.File(s"$base/graft-ckpt/p$pid/$name")
    // fresh-checkpoint contract: callers pass a per-run name; a stale
    // dir from a crashed earlier RUN of this pid must not silently
    // RESUME the query (a resumed AvailableNow run would re-emit
    // nothing)
    if (dir.exists()) rmTree(dir)
    dir.getAbsolutePath
  }

  /** Reap dead processes' namespaces under the checkpoint `root` so the
    * (RAM-backed) scratch never accumulates across a session of many
    * short-lived JVMs — a dir is only swept when its pid provably no
    * longer runs. */
  private[graft] def sweepCheckpoints(root: java.io.File, pid: Long): Unit =
    Option(root.listFiles()).foreach(_.foreach { d =>
      val digits = d.getName.drop(1)
      val pidShaped = d.getName.startsWith("p") && digits.nonEmpty &&
        digits.forall(_.isDigit)
      if (pidShaped) {
        // toLongOption: a p-prefixed all-digit name longer than Long
        // range would throw out of an unguarded parse and fail EVERY
        // streaming query. Such a name is pid-SHAPED but unparseable —
        // skip it entirely: it must not fall through to the legacy
        // sweep, which would delete a dir we could not attribute
        digits.toLongOption.foreach { p =>
          if (p != pid && ProcessHandle.of(p).isEmpty) rmTree(d)
        }
      } else {
        // legacy pre-namespacing dir (graft-ckpt/<queryName> from
        // before the p<pid> scheme) — can only belong to the old
        // single-namespace contract, never to a live pid namespace,
        // so it is safe to sweep (unswept, these accumulate forever on
        // the RAM-backed scratch)
        rmTree(d)
      }
    })

  /** Delete `f` and, when it is a real directory, everything under it. A
    * symlink is removed itself: `listFiles` on a link to a directory
    * lists the target, so recursing there would empty a directory that
    * lives outside the tree. */
  private def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Configs every graft session needs, set by [[localSession]] — the
    * one place a graft session is configured.
    *
    *  - `nanosAsLong`: the driver's `events.parquet` carries
    *    TIMESTAMP(NANOS) which Spark's TimestampType (micros) rejects;
    *    reading them as raw Long nanos is lossless and keeps event-time
    *    arithmetic exact (DuckDB-side equivalent: `epoch_ns(ts)`).
    *  - AQE on: runtime re-planning (skew joins, coalesced shuffle
    *    partitions) is the 100 TB story for free.
    *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: without
    *    native libhadoop on the library path, Hadoop's `RawLocalFileSystem`
    *    starts a `chmod` process for every file and directory it creates and a
    *    `readlink` process for every `FileContext` rename. JFR counted
    *    3,390 process starts in one `llm_curation` benchmark run on a
    *    4-vCPU VM (2,352 `readlink`s, mostly q141's per-batch checkpoint
    *    commits) and 650 in a `mabna_ingest` run (342 `chmod 0755`, 300
    *    `chmod 0644`); with these confs 127 and 8 remain, all Spark's own
    *    `rm -rf`. [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]
    *    do the same work in-process, with the same permission bits,
    *    `.crc` sidecars and rename semantics. `FileSystem` caches one
    *    instance per scheme for the whole JVM, so these only hold if no
    *    stock `file:` filesystem was built before the first session.
    */
  private def withGraftConfs(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Reference parity: pandas never raises on bad arithmetic — division
    // by zero flows as ±Inf (X2), out-of-range element_at as null (X3),
    // casts overflow silently. At 100 TB one malformed row must not kill
    // a 1000-executor job; non-ANSI is the pandas-equivalent posture.
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // dynamic partition overwrite: incremental dedup rewrites ONLY the
    // partitions a batch touches (TableStore.incrementalUpsertPartitioned)
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // Streaming state in RocksDB, not the default HDFSBackedStateStore:
    // the HDFS-backed provider fsyncs its per-batch delta files through
    // the checkpoint filesystem, which on a writeback-throttled local
    // disk made every stateful-stream query bimodal (q141 bisection:
    // ~5.5 s fast mode vs 10-12 s when /tmp fsync stalled — NOTES r15).
    // RocksDB keeps working state in a native local store and, with
    // changelog checkpointing, ships only the per-batch changelog to
    // the checkpoint location — also the right posture at cluster
    // scale, where huge state (span gram logs, dedup signatures) must
    // not live on the JVM heap.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // catalog tables (bucketing metadata) land in tmp, never the repo
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
    // local files without a process per chmod/readlink (see above)
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[ForkFreeLocalFs].getName)
    // fast shuffle/spill scratch where available (see fastScratch)
    .config(fastScratch.map("spark.local.dir" -> _).toMap)

  /** Fan a NARROW scan out across the cluster before a heavy row-local
    * kernel, when — and only when — the input cannot parallelize by
    * itself. Spark assigns one task per file split, and a parquet file
    * is splittable only at row-group boundaries: a corpus that arrives
    * as a few single-row-group files (the local test shape; also the
    * "one fat export file" antipattern in the wild) runs every
    * downstream per-row kernel in ONE task no matter how many cores
    * exist. The condition is computed from file METADATA only (no job):
    * estimated splits = Σ ceil(bytes / maxPartitionBytes) per file; if
    * that already reaches half the session's default parallelism — any
    * real multi-split input, let alone 100 TB — this is an exact no-op
    * and the plan keeps its scan-parallel shape with no extra exchange.
    * Only a provably narrow input pays one small hash repartition on
    * `key` (deterministic under retries, unlike round-robin) to unlock
    * every core.
    *
    * Call it where a compute-heavy kernel feeds a shuffle anyway (pair
    * engines, banding, explodes) — NOT on pure per-row selects, whose
    * shuffle-free contract (PlanContractSpec) is the thing worth more
    * at scale. */
  def fanOutIfNarrow(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val files = df.inputFiles
    if (files.isEmpty) return df // derived plan, no scan to rescue
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes.toDouble
    val hconf = spark.sparkContext.hadoopConfiguration
    val est = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len = p.getFileSystem(hconf).getFileStatus(p).getLen
      math.max(1L, math.ceil(len / maxSplit).toLong)
    }.sum
    val target = spark.sparkContext.defaultParallelism
    if (est * 2 < target) df.repartition(target, key) else df
  }

  /** The graft session every main, spec and benchmark runs on: the
    * graft confs plus [[graft.plans.GraftExtensions]]. Shuffle partitions
    * sized to cores, not the 200 default (SURVEY.md §4 — local[n] has n
    * executor threads); a caller that wants another width sets the
    * runtime conf on the returned session. */
  def localSession(cores: Int = 8): SparkSession = {
    val s = withGraftConfs(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver test tables (TESTDATA.md). One parquet per
  * table; at cluster scale these would be partitioned directories — the
  * API stays the same, which is the point of going through one loader.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation memo (round-20, verdict item 7): `read.parquet`
    * re-lists the file and re-reads its footer for schema inference on
    * EVERY call — measured at ~45 s of driver-side construction across
    * the 202-query board (DevTail: ~0.17 s median per query, none of
    * it execution). A catalog/metastore amortizes exactly this at
    * cluster scale (one resolved relation per table, shared by every
    * query); keying the analyzed DataFrame by (session, dir, table)
    * is the same contract in-process. This memoizes METADATA ONLY —
    * the lazy logical plan with its resolved schema and file index;
    * every action against it still scans the parquet bytes, so no
    * result or intermediate is ever reused across runs. Keyed by the
    * session OBJECT (not appId): a new session never sees another
    * session's relations, and a stopped session's entries are inert
    * (a few KB of plan each). */
  private val relCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relCache.getOrElseUpdate((spark, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")

  /** `events.ts` is ALWAYS Long epoch-nanoseconds out of this loader —
    * that's the contract every downstream operator (and every spec
    * fixture) is written against. The driver has shipped the column in
    * two physical layouts so far: TIMESTAMP(NANOS), which
    * `nanosAsLong` (Engine.withGraftConfs) surfaces as Long ns
    * directly, and TIMESTAMP(MICROS), which Spark reads as a timestamp
    * type and is normalized here (`unix_micros * 1000` — exact; the
    * NTZ→LTZ cast is identity under the session's pinned UTC zone).
    * DuckDB reads both layouts as a timestamp, so the oracles'
    * `epoch_us(ts)` is layout-independent on that side. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")
              .cast(TimestampType)) * 1000L)
      case other =>
        // fail loudly: a numeric→timestamp cast here would interpret
        // e.g. INT32 micros as SECONDS under non-ANSI mode and silently
        // corrupt every event time by 10^6
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected Long " +
            "epoch-nanos or a parquet timestamp")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
