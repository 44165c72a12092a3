package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for doc-count drift (a recurring class: rounds 4-9
  * each shipped a README/COVERAGE count that lagged the last commits of
  * the round). The docs' numbers are asserted against the code itself,
  * so a new query or spec that lands without a doc sync fails `sbt
  * test` instead of reaching a verdict. */
class DocCountsSpec extends AnyFunSuite {

  private def read(p: String): String = Files.readString(Paths.get(p))

  private def firstInt(text: String, pattern: scala.util.matching.Regex,
                       where: String): Int =
    pattern.findFirstMatchIn(text)
      .getOrElse(fail(s"count sentence not found in $where — " +
        s"update the doc AND this regex together"))
      .group(1).toInt

  test("README query count equals SparkEntry.queries.size") {
    val claimed = firstInt(read("README.md"),
      raw"(\d+) named queries".r, "README.md")
    assert(claimed == SparkEntry.queries.size,
      s"README says $claimed queries; SparkEntry has ${SparkEntry.queries.size}")
  }

  test("COVERAGE query count equals SparkEntry.queries.size") {
    val claimed = firstInt(read("COVERAGE.md"),
      raw"(\d+) oracle-verified queries".r, "COVERAGE.md")
    assert(claimed == SparkEntry.queries.size,
      s"COVERAGE says $claimed queries; SparkEntry has ${SparkEntry.queries.size}")
  }

  test("README spec count equals the test call sites in src/test/scala") {
    // static `test(` call sites == runtime test count in this tree (no
    // dynamically-registered tests; this spec's own sites included)
    val testRx = raw"(?m)^\s*test\(".r
    val actual = {
      val s = Files.walk(Paths.get("src/test/scala"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .map(p => testRx.findAllIn(read(p.toString)).size).sum
      } finally s.close()
    }
    val claimed = firstInt(read("README.md"),
      raw"(\d+) unit/property/law specs".r, "README.md")
    assert(claimed == actual,
      s"README says $claimed specs; src/test/scala defines $actual")
  }

  test("NOTES suite counts match the suite classes in src/test/scala") {
    // round-11 drift class: NOTES/commit text claimed 46 suites when
    // scalatest reports 45 (one helper class is not a suite). The
    // newest "N suites" claim — the first in NOTES, which runs newest
    // round first — must equal the static suite count: classes
    // extending a scalatest base, helper classes excluded. Older claims
    // are history and may be larger (a later round deleted a suite).
    val suiteRx = raw"(?m)^class\s+\w+\s+extends\s+(SparkSpec|AnyFunSuite|AnyPropSpec)".r
    val actual = {
      val s = Files.walk(Paths.get("src/test/scala"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .map(p => suiteRx.findAllIn(read(p.toString)).size).sum
      } finally s.close()
    }
    val newest = firstInt(read("NOTES.md"), raw"(\d+) suites".r, "NOTES.md")
    assert(newest == actual,
      s"NOTES.md's newest suite claim $newest != actual $actual suites")
  }

  test("every `Stress <N> <storm>` cited in docs/SCALE.md is a registered storm") {
    val cited = raw"`Stress (?:\d+|<N>) ([\w-]+)`".r
      .findAllMatchIn(read("docs/SCALE.md")).map(_.group(1)).toSeq.distinct
    assert(cited.nonEmpty, "docs/SCALE.md cites no `Stress <N> <storm>` run")
    val unknown = cited.filterNot(Stress.stormNames.contains)
    assert(unknown.isEmpty,
      s"docs/SCALE.md cites unregistered storms: ${unknown.mkString(", ")}")
  }

  test("every `runMain graft.<Name>` cited in README.md or docs/*.md is a " +
       "main in src/main") {
    val docs = "README.md" +: {
      val s = Files.list(Paths.get("docs"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString).filter(_.endsWith(".md")).toList
      } finally s.close()
    }
    val cited = docs.flatMap(d => raw"runMain graft\.(\w+)".r
      .findAllMatchIn(read(d)).map(m => d -> m.group(1))).distinct
    assert(cited.exists(_._2 == "Verify"), s"no cited main found in $docs")
    // top-level objects of package graft in src/main, each of which
    // must also compile to a class with a static `main` forwarder
    val objects = {
      val s = Files.list(Paths.get("src/main/scala/graft"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
          .flatMap(p => raw"(?m)^object\s+(\w+)".r.findAllMatchIn(read(p)).map(_.group(1)))
          .toSet
      } finally s.close()
    }
    val missing = cited.filterNot { case (_, name) =>
      objects(name) && scala.util.Try(java.lang.reflect.Modifier.isStatic(
        Class.forName(s"graft.$name")
          .getMethod("main", classOf[Array[String]]).getModifiers)).getOrElse(false)
    }
    assert(missing.isEmpty,
      s"docs cite mains that src/main does not define: ${missing.mkString(", ")}")
  }

  test("SparkEntry.matching: prefixes select sorted names; an unknown " +
    "prefix fails with the candidates") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(SparkEntry.matching(Seq("")) == all)
    assert(SparkEntry.matching(Seq("q02_", "q01")) ==
      all.filter(n => n.startsWith("q01") || n.startsWith("q02_")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.matching(Seq("q02_", "nosuchquery")))
    assert(e.getMessage.contains("'nosuchquery' matches no query") &&
      e.getMessage.contains("q02_prd_trades_star"))
  }

  test("every registered query has a COVERAGE row") {
    val coverage = read("COVERAGE.md")
    val missing = SparkEntry.queries.keys.filterNot(coverage.contains).toSeq.sorted
    assert(missing.isEmpty,
      s"queries with no COVERAGE.md row: ${missing.mkString(", ")}")
  }

  test("every registered query has an oracle") {
    val missing = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      .toSeq.sorted
    assert(missing.isEmpty,
      s"queries with no oracleSql entry (driver degrades to rows-only): " +
        missing.mkString(", "))
  }

  test("the registry rejects two queries with one short id; the real " +
       "registry has 202 distinct ones") {
    val build: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (_, _) => fail("never built")
    val e = intercept[IllegalArgumentException](queries.QuerySpec.registry(Seq(
      queries.QuerySpec("q01_a", build, "SELECT 1"),
      queries.QuerySpec("q01_b", build, "SELECT 2"))))
    assert(e.getMessage.contains("q01_a") && e.getMessage.contains("q01_b"))
    assert(SparkEntry.registry.map(_.shortId).distinct.size == 202)
    assert(SparkEntry.registry.size == 202)
  }

  test("the batch-store protocol has one copy: `_committed` and halt(137) " +
       "appear in src/main only in BatchStore") {
    val home = "src/main/scala/graft/streaming/BatchStore.scala"
    val needles = Seq("_committed", "halt(137)")
    val offenders = {
      val s = Files.walk(Paths.get("src/main"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString)
          .filter(p => p.endsWith(".scala") && p != home)
          .flatMap(p => needles.filter(read(p).contains).map(n => s"$p: $n"))
          .toList
      } finally s.close()
    }
    assert(offenders.isEmpty,
      s"the commit-marker protocol grew a copy outside $home: $offenders")
    assert(needles.forall(read(home).contains), s"$home lost the protocol")
  }
}
