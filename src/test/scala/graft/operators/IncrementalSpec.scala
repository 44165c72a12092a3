package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkSpec

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("maxWatermark returns None on empty input, Some(max) otherwise") {
    val empty = Seq.empty[(Long, String)].toDF("v", "p")
    assert(Incremental.maxWatermark(empty, "v").isEmpty)
    val df = Seq((1L, "a"), (7L, "b")).toDF("v", "p")
    assert(Incremental.maxWatermark(df, "v").contains(7L))
  }

  test("newerThan with no watermark passes everything through") {
    val df = Seq((1L, "a"), (7L, "b")).toDF("v", "p")
    assert(Incremental.newerThan(df, "v", None).count() == 2)
    assert(Incremental.newerThan(df, "v", Some(1L)).count() == 1)
  }

  /** The reference's core correctness claim, stated as a law
    * (SURVEY.md §5.3): replaying increments through the watermark+append+
    * dedup loop converges to the same table as one full refresh. */
  test("aggState merge ≡ full recompute for ANY slicing (associativity law)") {
    val rows = (1 to 300).map(i => (s"k${i % 3}", (i % 17).toDouble - 5.0))
    val df = rows.toDF("k", "v")
    val full = Incremental.aggState(df, Seq("k"), "v")
      .orderBy("k").collect().map(_.toSeq).toSeq
    // three different slicings, including an empty slice
    val slicings = Seq(
      Seq(df.filter($"v" < 0), df.filter($"v" >= 0)),
      Seq(df.limit(0), df),
      Seq(df.filter($"v" < -1), df.filter($"v".between(-1, 5)), df.filter($"v" > 5)))
    slicings.foreach { slices =>
      val merged = Incremental.mergeAggState(
          slices.map(Incremental.aggState(_, Seq("k"), "v")), Seq("k"))
        .orderBy("k").collect().map(_.toSeq).toSeq
      assert(merged == full, "merge of partial states diverged from recompute")
    }
  }

  test("aggState merge is associative: merge(merge(a,b),c) == merge(a,b,c)") {
    val df = (1 to 90).map(i => (s"k${i % 2}", i.toDouble / 7.0)).toDF("k", "v")
    val Seq(a, b, c) = Seq(
      df.filter($"v" <= 4), df.filter($"v" > 4 && $"v" <= 9), df.filter($"v" > 9))
      .map(Incremental.aggState(_, Seq("k"), "v"))
    val stepwise = Incremental.mergeAggState(
      Seq(Incremental.mergeAggState(Seq(a, b), Seq("k")), c), Seq("k"))
    val flat = Incremental.mergeAggState(Seq(a, b, c), Seq("k"))
    assert(stepwise.orderBy("k").collect().toSeq ==
      flat.orderBy("k").collect().toSeq)
    assert(stepwise.schema == flat.schema,
      "merge must keep the state schema stable (no decimal precision creep)")
  }

  test("distinctState merge yields the IDENTICAL sketch estimate as one pass") {
    val rows = (1 to 5000).map(i => (s"k${i % 3}", s"u${i % 700}"))
    val df = rows.toDF("k", "u")
    val est = (st: org.apache.spark.sql.DataFrame) => st
      .select(col("k"), hll_sketch_estimate(col("hll")).as("e"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val single = est(Incremental.distinctState(df, Seq("k"), "u"))
    // any slicing, including overlapping distincts across slices and an
    // empty slice — register-max union must reproduce the one-pass sketch
    val slicings = Seq(
      Seq(df.filter($"u".substr(2, 1) < "4"), df.filter($"u".substr(2, 1) >= "4")),
      Seq(df.limit(0), df),
      Seq(df, df)) // full overlap: merging a state with itself is a no-op
    slicings.foreach { slices =>
      val merged = est(Incremental.mergeDistinctState(
        slices.map(Incremental.distinctState(_, Seq("k"), "u")), Seq("k")))
      assert(merged == single, "sketch merge diverged from the one-pass sketch")
    }
    // and the estimate is actually accurate on this cardinality
    val exact = df.groupBy("k").agg(countDistinct($"u").as("d"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    single.zip(exact).foreach { case ((_, e), (_, x)) =>
      assert(math.abs(e - x) <= x * 0.05, s"estimate $e vs exact $x")
    }
  }

  test("incremental replay ≡ full refresh (the create-DAG/update-DAG law)") {
    val root = Files.createTempDirectory("graft-inc").toString
    val store = TableStore(spark, root)
    // version-stamped stream with duplicate keys across batches
    val all = (1 to 200).map { v =>
      (v.toLong, s"k${v % 17}", s"t${v % 5}", s"payload$v")
    }
    val keys = Seq("k", "t")
    val ordering = Seq(col("v"))

    // full refresh: one-shot keep-last
    val full = Dedup.keepLast(
      all.toDF("v", "k", "t", "p"), keys, ordering)

    // replay in 7 uneven batches, some overlapping (late duplicates)
    val batches = Seq(1 to 40, 30 to 90, 80 to 120, 121 to 121,
      122 to 170, 150 to 199, 200 to 200)
    var last = full.limit(0)
    batches.foreach { range =>
      val b = range.map { v =>
        (v.toLong, s"k${v % 17}", s"t${v % 5}", s"payload$v")
      }.toDF("v", "k", "t", "p")
      last = store.incrementalUpsert("prod", "events", b, "v", keys, ordering)
    }
    assert(last.collect().toSet == full.collect().toSet)
  }

  test("schema-evolving read unions appended columns, old rows null-filled") {
    val root = Files.createTempDirectory("graft-evolve").toString
    val store = TableStore(spark, root)
    store.replace("source", "t", Seq((1L, "a")).toDF("id", "name"))
    store.append("source", "t",
      Seq((2L, "b", 9.5)).toDF("id", "name", "score"))
    val merged = store.readMerged("source", "t")
    assert(merged.columns.toSet == Set("id", "name", "score"))
    val byId = merged.collect()
      .map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("score"))) None
         else Some(r.getAs[Double]("score")))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5))
  }

  test("a file: URI root sees the same tables, existence and watermarks " +
    "as the plain-path root") {
    val dir = Files.createTempDirectory("graft-uri")
    val plain = TableStore(spark, dir.toString)
    val uri = TableStore(spark, dir.toUri.toString.stripSuffix("/"))
    assert(uri.root.startsWith("file:"))
    plain.replace("source", "a", Seq((1L, "x"), (3L, "y")).toDF("v", "k"))
    uri.replace("source", "b", Seq((5L, "z"), (2L, "w"), (4L, "u")).toDF("v", "k"))
    plain.replace("source", "empty", Seq.empty[(Long, String)].toDF("v", "k"))
    assert(uri.tables("source") == Seq("a", "b", "empty"))
    assert(uri.tables("source") == plain.tables("source"))
    assert(uri.tables("staging").isEmpty)
    Seq("a", "b", "empty", "absent").foreach { t =>
      assert(uri.exists("source", t) == plain.exists("source", t), t)
    }
    assert(uri.exists("source", "b") && !uri.exists("source", "absent"))
    val wm = uri.probeWatermarks("source", "v")
    assert(wm == Map("a" -> 3L, "b" -> 5L))
    assert(wm == plain.probeWatermarks("source", "v"))
  }

  test("a partitioned upsert under a file: URI root keeps the stored rows " +
    "the batch does not replace") {
    val dir = Files.createTempDirectory("graft-uri-part")
    val store = TableStore(spark, dir.toUri.toString.stripSuffix("/"))
    val keys = Seq("k")
    val ord = Seq(col("v"))
    store.incrementalUpsertPartitioned("prod", "t",
      Seq((1L, "a", "m1"), (6L, "e", "m1"), (2L, "b", "m2"), (3L, "c", "m3"))
        .toDF("v", "k", "m"),
      "v", keys, ord, "m")
    // the batch touches partition m1 only: e in m1 and all of m2 and m3
    // must survive the overwrite
    store.incrementalUpsertPartitioned("prod", "t",
      Seq((4L, "a", "m1"), (5L, "d", "m1")).toDF("v", "k", "m"),
      "v", keys, ord, "m")
    val out = TableStore(spark, dir.toString).read("prod", "t")
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 4L, "b" -> 2L, "c" -> 3L, "d" -> 5L, "e" -> 6L))
  }

  /** TableStore.read opens a table with exactly the schema parquet
    * inference gives it: names, types, nullability and field metadata. */
  private def assertInferredSchema(store: TableStore, layer: String, t: String): Unit = {
    val inferred = spark.read.parquet(s"${store.root}/$layer/$t").schema
    val read = store.read(layer, t).schema
    assert(read == inferred,
      s"$layer/$t\nread: ${read.treeString}\ninferred: ${inferred.treeString}")
  }

  test("TableStore.read takes inference's schema from one footer, with no " +
    "Spark job: evolving appends, zero rows, nested, temporal and decimal " +
    "columns, a file: URI root, stray files") {
    val dir = Files.createTempDirectory("graft-footer-schema")
    val store = TableStore(spark, dir.toString)
    val uri = TableStore(spark, dir.toUri.toString.stripSuffix("/"))
    // appends whose schemas evolve: both take the first file in path order
    store.replace("s", "evolve", Seq((1L, "a")).toDF("id", "name"))
    store.append("s", "evolve", Seq((2L, "b", 9.5)).toDF("id", "name", "score"))
    store.append("s", "evolve", Seq(("c", 3L, true)).toDF("name", "id", "flag"))
    store.replace("s", "empty", Seq.empty[(Long, String)].toDF("v", "k"))
    val meta = new MetadataBuilder().putString("comment", "version").putLong("n", 7L).build()
    store.replace("s", "nested", Seq((1L, "x"), (2L, "y")).toDF("id", "k").select(
      col("id").as("id", meta),
      struct(col("k"), struct(col("id").as("inner")).as("deep")).as("st"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      array(struct(col("k").as("kk", meta))).as("arr_st"),
      map(col("k"), array(col("id"))).as("m"),
      lit(1).as("one")))
    store.replace("s", "temporal", spark.range(3).select(
      col("id"),
      (col("id") * 86400).cast("timestamp").as("ts"),
      lit(java.time.LocalDateTime.of(2024, 3, 20, 12, 30)).as("ntz"),
      date_add(lit("2024-03-20").cast("date"), col("id").cast("int")).as("d"),
      col("id").cast("decimal(9,2)").as("d9"),
      col("id").cast("decimal(18,4)").as("d18"),
      col("id").cast("decimal(38,10)").as("d38")))
    // stray entries the file index never lists: a `_temporary` directory,
    // the local file system's `.crc` sidecars, `_SUCCESS`, a hidden file
    store.replace("s", "stray", Seq((1L, "a"), (2L, "b")).toDF("v", "k").repartition(2))
    val stray = dir.resolve("s/stray")
    Files.createDirectories(stray.resolve("_temporary/0/task"))
    Files.write(stray.resolve("_temporary/0/task/part-00000.parquet"), "junk".getBytes)
    Files.write(stray.resolve(".aaa.parquet"), "junk".getBytes)
    assert(Files.list(stray).anyMatch(_.getFileName.toString.endsWith(".crc")))
    assert(Files.exists(stray.resolve("_SUCCESS")))

    Seq("evolve", "empty", "nested", "temporal", "stray").foreach { t =>
      Seq(store, uri).foreach { st =>
        assertInferredSchema(st, "s", t)
        assert(jobsIn(st.read("s", t))._2 == 0, s"${st.root}: $t")
      }
      assert(store.read("s", t).collect().toSet ==
        spark.read.parquet(s"$dir/s/$t").collect().toSet, t)
    }
  }

  test("TableStore.read infers as before for a partitioned table, summary " +
    "files and session mergeSchema") {
    val dir = Files.createTempDirectory("graft-footer-fallback")
    val store = TableStore(spark, dir.toString)
    store.replacePartitioned("s", "part",
      Seq((1L, "a", "m1"), (2L, "b", "m2")).toDF("v", "k", "m"), "m")
    assertInferredSchema(store, "s", "part")
    assert(store.read("s", "part").columns.toSeq == Seq("v", "k", "m"))
    assert(jobsIn(store.read("s", "part"))._2 > 0, "a partitioned table is inferred")

    store.replace("s", "summary", Seq((1L, "a")).toDF("v", "k"))
    val summary = dir.resolve("s/summary")
    val data = Files.list(summary).filter(_.getFileName.toString.startsWith("part-"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(data, summary.resolve("_common_metadata"))
    assertInferredSchema(store, "s", "summary")
    assert(jobsIn(store.read("s", "summary"))._2 > 0, "a summary file is inferred")

    store.replace("s", "evolve", Seq((1L, "a")).toDF("id", "name"))
    store.append("s", "evolve", Seq((2L, "b", 9.5)).toDF("id", "name", "score"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertInferredSchema(store, "s", "evolve")
      assert(store.read("s", "evolve").columns.toSet == Set("id", "name", "score"))
      assert(jobsIn(store.read("s", "evolve"))._2 > 0, "mergeSchema is inferred")
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  /** The A1 probe as the reference runs it: an ungrouped MAX scan. */
  private def scanMax(df: DataFrame, c: String): Option[Long] = {
    val r = df.agg(max(col(c)).cast("long")).first()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("maxWatermark from parquet footers ≡ the MAX scan, with no Spark job") {
    val dir = Files.createTempDirectory("graft-footer-wm")
    val store = TableStore(spark, dir.toString)
    store.replace("s", "multi", (1L to 50L).toDF("v").repartition(3))
    store.append("s", "multi", (40L to 90L).toDF("v").repartition(4))
    store.append("s", "multi", Seq(7L).toDF("v"))
    store.replace("s", "nulls", Seq(Some(3L), None, Some(11L)).toDF("v").coalesce(1))
    store.append("s", "nulls", Seq(Option.empty[Long], None).toDF("v").coalesce(1))
    store.replace("s", "allnull", Seq(Option.empty[Long]).toDF("v"))
    store.replace("s", "empty", Seq.empty[Long].toDF("v"))
    store.replace("s", "extremes",
      Seq(Long.MinValue, 0L, Long.MaxValue).toDF("v").repartition(2))
    store.replace("s", "minonly", Seq(Long.MinValue).toDF("v"))
    store.replace("s", "int", Seq(-5, 17, 3).toDF("v").repartition(2))
    val want = Map("multi" -> Some(90L), "nulls" -> Some(11L), "allnull" -> None,
      "empty" -> None, "extremes" -> Some(Long.MaxValue),
      "minonly" -> Some(Long.MinValue), "int" -> Some(17L))
    want.foreach { case (t, w) =>
      val df = store.read("s", t)
      assert(scanMax(df, "v") == w, t)
      val (got, jobs) = jobsIn(Incremental.maxWatermark(df, "v"))
      assert(got == w && jobs == 0, s"$t: $got in $jobs jobs")
    }
    assert(store.probeWatermarks("s", "v") == want.collect { case (t, Some(v)) => t -> v })

    // a filtered DataFrame is no bare scan, and a file written without
    // column statistics cannot answer: both take the aggregate
    val filtered = store.read("s", "multi").filter(col("v") < 45)
    Seq(3L, 44L).toDF("v").write.option("parquet.column.statistics.enabled", "false")
      .parquet(s"$dir/s/nostats")
    store.append("s", "nostats", Seq(5L).toDF("v"))
    Seq(filtered -> Some(44L), store.read("s", "nostats") -> Some(44L)).foreach {
      case (df, w) =>
        val (got, jobs) = jobsIn(Incremental.maxWatermark(df, "v"))
        assert(got == w && got == scanMax(df, "v") && jobs > 0, s"$got in $jobs jobs")
    }
  }
}
