package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The commit-and-fold protocol every batch-maintained store shares
  * (the span, phash, simhash, segment-df, curation, sem and posting-
  * index stores), written once. One on-disk format:
  *
  *  - every artifact of batch `k` lives under a `b=<k>` partition
  *    (optionally with `tp=` or other partition levels around it),
  *    written with DYNAMIC partition overwrite — a redelivered batch,
  *    including one whose earlier attempt failed partway, replaces its
  *    own partitions with identical content;
  *  - an empty marker file `_committed/<k>` is written LAST, turning
  *    redelivery of a completed batch into a metadata-only no-op;
  *  - a retention fold relabels every batch `b ≤ upTo` into one
  *    snapshot `b = upTo`, behind a fence that refuses to fold over a
  *    batch whose rows landed without a marker (a crashed producer) or
  *    past the last committed batch. Folded batches keep their
  *    markers: they fence a replaying producer from re-applying a
  *    batch the snapshot already absorbed.
  *
  * Each store keeps only what is its own: the serve call, what it
  * absorbs, its fold keys and its bloom re-sweep. */
private[graft] object BatchStore {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  private def markerDir(path: String): String = s"$path/_committed"

  /** Has `batchId` been fully applied (artifacts + marker)? */
  def committed(s: SparkSession, path: String, batchId: Long): Boolean = {
    val p = new Path(s"${markerDir(path)}/$batchId")
    fsOf(s, p).exists(p)
  }

  /** Place batch `batchId`'s commit marker — after its artifacts. */
  def commit(s: SparkSession, path: String, batchId: Long): Unit =
    touch(s, s"${markerDir(path)}/$batchId")

  /** The highest committed batch id, -1 when none is. */
  def lastCommitted(s: SparkSession, path: String): Long =
    markerIds(s, markerDir(path)).lastOption.getOrElse(-1L)

  /** The numeric names of the marker files in `dir`, ascending; empty
    * when `dir` does not exist. */
  def markerIds(s: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Create the empty marker file `file`, parents included — one
    * atomic create. An existing marker is left as it is, unless
    * `exclusive`, which throws an IOException instead (how a racing
    * writer learns it lost). */
  def touch(s: SparkSession, file: String, exclusive: Boolean = false): Unit = {
    val p = new Path(file)
    val fs = fsOf(s, p)
    fs.mkdirs(p.getParent)
    if (exclusive) fs.create(p, false).close()
    else if (!fs.exists(p)) fs.create(p, true).close()
  }

  /** Every `b=<id>` directory of the artifact at `dir`, with its id: at
    * the artifact root and one `tp=` level down (the posting index's
    * term partitions). Empty when `dir` does not exist. */
  private def batchDirs(s: SparkSession, dir: String): Seq[(Path, Long)] = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    def under(p: Path, prefix: String): Seq[Path] = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
    if (!fs.exists(root)) Seq.empty
    else (root +: under(root, "tp=")).flatMap(under(_, "b="))
      .map(p => p -> p.getName.stripPrefix("b=").toLong)
  }

  /** The batch ids holding rows of the artifact at `dir`. */
  private def batches(s: SparkSession, dir: String): Seq[Long] =
    batchDirs(s, dir).map(_._2).distinct

  /** Delete every batch directory of the artifact at `dir` below
    * `upTo` — the last step of a fold. */
  def dropBelow(s: SparkSession, dir: String, upTo: Long): Unit =
    batchDirs(s, dir).filter(_._2 < upTo)
      .foreach { case (p, _) => fsOf(s, p).delete(p, true) }

  /** Crash injection for the crash storms ([[graft.Stress]]'s CrashRig):
    * halts the JVM when the sysprop `prop` names `id`. `halt`, not
    * exit, so no shutdown hook can tidy the simulated kill; one
    * sys.props read per call. */
  def crashPoint(prop: String, id: Long): Unit =
    if (sys.props.get(prop).exists(_.toLong == id))
      Runtime.getRuntime.halt(137)

  /** Dynamic-overwrite `df` into the artifact at `dir`, partitioned by
    * `parts`: only the partitions `df` holds are replaced. The option is
    * explicit although the engine's sessions default to it, so a
    * session built elsewhere cannot turn this into a static overwrite
    * that deletes every other batch. */
  def overwrite(df: DataFrame, dir: String, parts: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(dir)

  /** Write `df` as batch `batchId` of the artifact at `dir` — under
    * `b=<batchId>`, then the `more` partition columns. */
  def writeBatch(df: DataFrame, batchId: Long, dir: String,
                 more: String*): Unit =
    overwrite(df.withColumn("b", lit(batchId)), dir, "b" +: more)

  /** Apply batch `batchId` of the store at `path` once: a committed
    * batch is skipped; otherwise a non-empty `batch` runs `write` (its
    * output) and `absorb` (what later batches see), then the marker is
    * placed. The crash points `crashAfterWrite` / `crashAfterAbsorb`
    * sit after each step, both before the marker — the two
    * worst-ordered windows redelivery must survive. An empty batch
    * commits its marker only: an empty epoch is progress, not a gap. */
  def applyOnce[A](batch: DataFrame, path: String, batchId: Long,
                   crashAfterWrite: Option[String] = None,
                   crashAfterAbsorb: Option[String] = None)
                  (write: => A)(absorb: A => Unit): Unit = {
    val s = batch.sparkSession
    if (committed(s, path, batchId)) return
    if (!batch.isEmpty) {
      val out = write
      crashAfterWrite.foreach(crashPoint(_, batchId))
      absorb(out)
    }
    crashAfterAbsorb.foreach(crashPoint(_, batchId))
    commit(s, path, batchId)
  }

  /** Run `apply` on every micro-batch of `rows` (foreachBatch's 0-based
    * id), the stream checkpointed at `checkpoint`. `localCheckpoint`
    * materializes each micro-batch first, for stores that read it more
    * than once. */
  def foreachBatch(rows: DataFrame, checkpoint: String,
                   localCheckpoint: Boolean)
                  (apply: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF()
        apply(if (localCheckpoint) b.localCheckpoint(true) else b, batchId)
      }
      .start()

  /** The fold-safety fence, run by `entry` before it folds the store at
    * `path` up to `upTo`: every batch with rows at or below the fold
    * point in any of the `artifacts` must carry its commit marker —
    * folding a crashed batch's partial rows would strand them under
    * `b=upTo` while the redelivery writes them again under `b=k` — and
    * the fold point must not sit above the last committed batch. */
  def fence(s: SparkSession, path: String, upTo: Long, entry: String,
            artifacts: Seq[String]): Unit = {
    val uncommitted = artifacts.flatMap(a => batches(s, s"$path/$a"))
      .distinct.filter(_ <= upTo).filterNot(committed(s, path, _)).sorted
    require(uncommitted.isEmpty,
      s"$entry(upTo=$upTo): batch(es) ${uncommitted.mkString(", ")} " +
        s"have rows under $path but no commit marker — a producer " +
        "crashed mid-batch; let redelivery complete them before folding")
    val last = lastCommitted(s, path)
    require(upTo <= last,
      s"$entry(upTo=$upTo): fold point is above the last committed " +
        s"batch ($last) — folding ahead of the stream relabels history " +
        "to a partition later batches' fences exclude")
  }

  /** One artifact of a relabel-union fold: `sub` under the store,
    * partitioned by `outer`, then `b`, then `more`, its rows cut to
    * `project` (all columns when empty), deduplicated on `keys` and,
    * when `shuffle` is set, hash-partitioned on it before the write. */
  final case class Folded(sub: String, keys: Seq[String],
                          more: Seq[String] = Nil,
                          shuffle: Option[String] = None,
                          project: Seq[String] = Nil,
                          outer: Seq[String] = Nil)

  /** The fenced retention fold: [[fence]], then [[relabel]]. */
  def fold(s: SparkSession, path: String, upTo: Long, entry: String,
           artifacts: Folded*): Unit = {
    fence(s, path, upTo, entry, artifacts.map(_.sub))
    relabel(s, path, upTo, artifacts: _*)
  }

  /** The fold itself, with no fence — for stores that carry no commit
    * markers: for each artifact with more than one batch at or below
    * `upTo`, its rows `b ≤ upTo` merge into one snapshot labeled
    * `b = upTo` and the older batch directories go; later batches are
    * untouched. A pure relabel-union deduplicated on each artifact's
    * unique key, so a crash between the overwrite and the delete — the
    * folded rows present twice — re-runs to the clean fold bit for bit.
    * Every read fenced above `upTo` sees the same rows before and
    * after. */
  def relabel(s: SparkSession, path: String, upTo: Long,
              artifacts: Folded*): Unit =
    artifacts.foreach { a =>
      val dir = s"$path/${a.sub}"
      if (batches(s, dir).count(_ <= upTo) > 1) {
        val below = s.read.parquet(dir)
          .filter(col("b").cast("long") <= upTo).drop("b")
        val read = (if (a.project.isEmpty) below
                    else below.select(a.project.map(col): _*))
          .dropDuplicates(a.keys) // exact: a crash re-run reads rows twice
          .withColumn("b", lit(upTo))
        val merged = a.shuffle.fold(read)(k => read.repartition(col(k)))
          .localCheckpoint() // materialize BEFORE touching source dirs
        overwrite(merged, dir, a.outer ++ ("b" +: a.more))
        dropBelow(s, dir, upTo)
      }
    }
}
