package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.operators.TableStore
import graft.streaming.EventTimeStreams

/** The fork-free `file:` filesystem behaves like Hadoop's stock local
  * filesystem, compared side by side in the same directory, and a graft
  * session really uses it: its store and streaming paths start no
  * `chmod` or `readlink` process. */
class ForkFreeLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val FileRoot = new URI("file:///")
  private def hconf: Configuration = spark.sessionState.newHadoopConf()
  private def octal(s: String) = FsPermission.createImmutable(Integer.parseInt(s, 8).toShort)
  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def hpath(p: JPath) = new Path(p.toString)

  /** Relative path → what `f` says of it, for every entry under `root`. */
  private def tree(root: JPath)(f: JPath => String): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> f(p)).toMap
    finally s.close()
  }
  private def perms(p: JPath) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
  private def contents(p: JPath) =
    if (Files.isDirectory(p)) "dir" else new String(Files.readAllBytes(p), "UTF-8")

  private def stockLocal(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(FileRoot, conf); fs
  }
  private def forkFreeLocal(conf: Configuration): LocalFileSystem = {
    val fs = new ForkFreeLocalFileSystem(); fs.initialize(FileRoot, conf); fs
  }

  test("create, mkdirs and setPermission leave the permission bits Hadoop's " +
       "LocalFileSystem leaves, under the session umask and others") {
    val sessionUmask = hconf.get(FsPermission.UMASK_LABEL, "022")
    for (umask <- Seq(sessionUmask, "077", "002", "027")) {
      val conf = new Configuration(hconf)
      conf.set(FsPermission.UMASK_LABEL, umask)
      def build(fs: FileSystem): Map[String, String] = {
        val root = tmp("graft-perm")
        val r = hpath(root)
        fs.create(new Path(r, "f")).close()
        fs.create(new Path(r, "g"), octal("640"), true, 4096, 1.toShort,
          64L << 20, null).close()
        fs.create(new Path(r, "deep/er/h")).close()
        fs.mkdirs(new Path(r, "a/b/c"))
        fs.mkdirs(new Path(r, "x/y"), octal("750"))
        fs.create(new Path(r, "s")).close()
        fs.setPermission(new Path(r, "s"), octal("604"))
        tree(root)(perms)
      }
      val stock = build(stockLocal(conf))
      val forkFree = build(forkFreeLocal(conf))
      // .crc sidecars included: `deep/er/.h.crc` and friends
      assert(stock.keySet.exists(_.endsWith(".crc")))
      assert(forkFree == stock, s"umask $umask")
    }
  }

  test("getFileLinkStatus equals Hadoop's for a file, a directory and live " +
       "and dangling symlinks; a missing path throws FileNotFoundException " +
       "on both") {
    val root = tmp("graft-link")
    Files.write(root.resolve("file"), "x".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("to-file"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("to-dir"), root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def raw(fs: RawLocalFileSystem) = { fs.initialize(FileRoot, hconf); fs }
    val stock = raw(new RawLocalFileSystem)
    val forkFree = raw(new ForkFreeRawLocalFileSystem)
    def describe(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    def outcome(fs: RawLocalFileSystem, p: Path) =
      Try(describe(fs.getFileLinkStatus(p))).fold(_.getClass.getName, _.toString)
    // a `file:` URI form is never a link to Hadoop (its readlink gets the
    // URI string), so a dangling link in that form throws on both
    for (name <- Seq("file", "dir", "to-file", "to-dir", "dangling");
         p <- Seq(hpath(root.resolve(name)), new Path(root.resolve(name).toUri))) {
      assert(outcome(forkFree, p) == outcome(stock, p), p)
    }
    assert(stock.getFileLinkStatus(hpath(root.resolve("dangling"))).isSymlink)
    for (fs <- Seq(stock, forkFree))
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(root.resolve("missing"))))
  }

  test("FileContext.rename with and without OVERWRITE succeeds, fails and " +
       "leaves the tree as Hadoop's LocalFs does") {
    import Options.Rename.{NONE, OVERWRITE}
    val cases = Seq(("f1", "new", NONE), ("f1", "f2", NONE), ("f1", "f2", OVERWRITE),
      ("d2", "d3", NONE), ("d2", "d3", OVERWRITE), ("d2", "d1", OVERWRITE),
      ("f1", "d2", OVERWRITE), ("d2", "f1", OVERWRITE), ("missing", "new", NONE),
      ("f1", "nope/new", NONE), ("d1", "moved", NONE), ("f1", "f1", OVERWRITE),
      ("f1", "d1/inner", OVERWRITE))
    def run(fc: FileContext): Seq[(String, Map[String, String])] = cases.map {
      case (src, dst, opt) =>
        val root = tmp("graft-rename")
        val r = hpath(root)
        def write(name: String, body: String): Unit = {
          val out = fc.create(new Path(r, name),
            java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
          try out.write(body.getBytes("UTF-8")) finally out.close()
        }
        write("f1", "one"); write("f2", "two"); write("d1/inner", "in")
        Seq("d2", "d3").foreach(d => fc.mkdir(new Path(r, d), FsPermission.getDirDefault, true))
        val outcome = Try(fc.rename(new Path(r, src), new Path(r, dst), opt))
          .fold(_.getClass.getName, _ => "ok")
        outcome -> tree(root)(contents)
    }
    val stockConf = new Configuration(hconf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stock = run(FileContext.getFileContext(FileRoot, stockConf))
    val forkFree = run(FileContext.getFileContext(FileRoot, hconf))
    cases.zip(stock.zip(forkFree)).foreach { case (c, (s, f)) => assert(f == s, c) }
    val outcomes = stock.map(_._1).toSet
    assert(outcomes.contains("ok") && outcomes.size > 2, outcomes)
  }

  test("a flipped byte in a written parquet file still fails its .crc check") {
    val dir = tmp("graft-crc").resolve("t")
    spark.range(2000).selectExpr("id", "cast(id * 7 as string) s").coalesce(1)
      .write.parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(dir.resolve(s".${part.getFileName}.crc")))
    val raf = new java.io.RandomAccessFile(part.toFile, "rw")
    try {
      raf.seek(raf.length / 2); val b = raf.read()
      raf.seek(raf.length / 2); raf.write(b ^ 0xff)
    } finally raf.close()
    for (fs <- Seq(stockLocal(hconf), FileSystem.get(FileRoot, hconf))) {
      intercept[ChecksumException] {
        val in = fs.open(hpath(part))
        try { val buf = new Array[Byte](4096); while (in.read(buf) >= 0) {} }
        finally in.close()
      }
    }
    val e = intercept[Exception](spark.read.parquet(dir.toString).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("a permission with the sticky bit takes Hadoop's own chmod path") {
    val root = tmp("graft-sticky")
    def mode(p: JPath) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    val modes = Seq(stockLocal(hconf), forkFreeLocal(hconf)).zipWithIndex.map {
      case (fs, i) =>
        val d = root.resolve(s"d$i")
        fs.mkdirs(hpath(d))
        fs.setPermission(hpath(d), octal("1777"))
        mode(d)
    }
    // java.nio cannot set the sticky bit: only chmod leaves 01777
    assert(modes == Seq(Integer.parseInt("1777", 8), Integer.parseInt("1777", 8)))
  }

  test("a graft session's file: filesystems are the fork-free ones, and a " +
       "store round trip plus a RocksDB AvailableNow backlog start no chmod " +
       "or readlink process") {
    // FileSystem caches one instance per scheme for the whole JVM: a
    // stock one cached before the session would undo the session confs
    assert(FileSystem.get(FileRoot, hconf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(FileRoot, spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(FileRoot, hconf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])

    import jdk.jfr.{FlightRecorder, Recording}
    import jdk.jfr.consumer.RecordingFile
    assert(FlightRecorder.isAvailable &&
      FlightRecorder.getFlightRecorder.getEventTypes.asScala.exists(_.getName == "jdk.ProcessStart"),
      "this JDK records no jdk.ProcessStart events: the law cannot be checked")
    val root = tmp("graft-forks")
    val backlog = root.resolve("backlog").toString
    spark.range(0, 400)
      .selectExpr("timestamp_micros(id * 30000000) AS event_time",
        "IF(id % 3 = 0, 'click', 'view') AS event_type", "CAST(id AS DOUBLE) AS value")
      .repartition(2).write.parquet(backlog)
    val sentinel = "graft-fork-law-sentinel"

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val (probed, windows) = try {
      val store = TableStore(spark, root.resolve("store").toUri.toString.stripSuffix("/"))
      store.replace("source", "t", Seq((1L, "a"), (2L, "b")).toDF("v", "k"))
      store.append("source", "t", Seq((5L, "c")).toDF("v", "k"))
      assert(store.read("source", "t").count() == 3)
      val probed = store.probeWatermarks("source", "v")
      val windows = EventTimeStreams.runTumblingBacklog(spark, backlog, "event_time",
        lateness = "10 minutes", windowLen = "15 minutes", filesPerBatch = 1,
        queryName = "zero_fork_backlog").count()
      // a process the recording must see, so an empty one fails the law
      new ProcessBuilder("echo", sentinel).start().waitFor()
      (probed, windows)
    } finally rec.stop()
    val jfr = root.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
    assert(probed == Map("t" -> 5L))
    assert(windows > 0)
    assert(commands.exists(_.contains(sentinel)), s"JFR saw no sentinel process: $commands")
    val forks = commands.filter { c =>
      Set("chmod", "readlink")(Paths.get(c.trim.split("\\s+").head).getFileName.toString)
    }
    assert(forks.size == 0, s"chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  test("the checkpoint sweep deletes a symlink in a dead or legacy namespace, " +
       "not the directory it points to") {
    val root = tmp("graft-ckpt-sweep")
    val ckpt = Files.createDirectory(root.resolve("graft-ckpt"))
    def outside(name: String) = {
      val d = Files.createDirectories(root.resolve(name))
      Files.write(d.resolve("keep"), "k".getBytes("UTF-8"))
      d
    }
    val deadPid = Iterator.from(4999999).find(p => ProcessHandle.of(p.toLong).isEmpty).get
    val livePid = ProcessHandle.current().pid()
    val dead = Files.createDirectories(ckpt.resolve(s"p$deadPid/q1"))
    Files.createSymbolicLink(dead.resolve("state"), outside("o1"))
    val legacy = Files.createDirectories(ckpt.resolve("old_query"))
    Files.createSymbolicLink(legacy.resolve("offsets"), outside("o2"))
    Files.createSymbolicLink(ckpt.resolve("linked_query"), outside("o3"))
    val live = Files.createDirectories(ckpt.resolve(s"p$livePid/q2"))
    Engine.sweepCheckpoints(ckpt.toFile, livePid)
    for (o <- Seq("o1", "o2", "o3"))
      assert(Files.exists(root.resolve(o).resolve("keep")), s"$o was emptied")
    assert(Files.list(ckpt).iterator().asScala.toSeq == Seq(ckpt.resolve(s"p$livePid")))
    assert(Files.isDirectory(live))
  }
}
