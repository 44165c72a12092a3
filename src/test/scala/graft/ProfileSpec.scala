package graft

import scala.collection.mutable.ArrayBuffer

/** The profiler's modes, its job meter and its stream lines, on cheap
  * queries at sf0.001. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def profile(args: String*): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    Profile.run(spark, Profile.parse(args), lines += _)
    lines.toList
  }

  test("each mode runs one cheap query and prints its lines") {
    val q = "q01_stg_trades"
    val tail = profile("tail", "q01", sf, "2")
    assert(tail.count(_.startsWith(s"[profile] $q rep ")) == 2, tail)
    assert(tail.exists(l => l.startsWith(s"[profile] $q ") &&
      l.contains("construct=") && l.contains("inJobs=") && l.contains("jobs=")), tail)
    assert(tail.exists(_.startsWith("[profile] TOTAL construct=")), tail)
    val jobs = profile("jobs", "q01", sf, "1")
    assert(jobs.exists(_.startsWith(s"[profile] $q rep 1 wall ")), jobs)
    assert(jobs.exists(l => l.startsWith("[profile]   job ") && l.contains("action")), jobs)
    assert(jobs.contains(s"[profile] $q rep 1 by call site:"), jobs)
    val out = java.nio.file.Files.createTempDirectory("graft-profile-plans")
    val plans = profile("plans", "q01", sf, out.toString)
    assert(plans.exists(_.startsWith(s"[profile] wrote $q (")), plans)
    assert(java.nio.file.Files.readString(out.resolve(s"$q.txt"))
      .contains("== Physical Plan =="))
  }

  test("the meter counts the jobs SparkSpec.jobsIn counts for the same query") {
    val q = "q02_prd_trades_star"
    val lines = profile("jobs", "q02_", sf, "2")
    val counted = raw"\[profile\] $q rep 2 wall .* jobs=(\d+)".r
    val metered = lines.collectFirst { case counted(n) => n.toInt }
      .getOrElse(fail(s"no rep 2 line in $lines"))
    val (_, budget) = jobsIn {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    assert(metered == budget && metered > 0, lines)
  }

  test("q141 prints one stream line per micro-batch of the registry's stream") {
    val lines = profile("jobs", "q141", sf, "1").filter(_.startsWith("[profile] stream "))
    // the backlog's (at most) 8 files at 8 files per trigger, with no
    // trailing no-data batch: one micro-batch, both sources reading
    // every event
    assert(lines.size == 1, lines)
    val line = lines.head
    assert(line.contains(" q141_sink_") && line.contains(" batch 0 "), line)
    val events = Tables.events(spark, sf).count()
    assert(line.contains(s"inputRows=${2 * events} "), line)
  }

  test("an unknown mode, or a prefix that selects no query, fails listing " +
       "the candidates") {
    val mode = intercept[IllegalArgumentException](Profile.parse(Seq("top", "q01", sf)))
    assert(mode.getMessage.contains("unknown mode 'top'") &&
      mode.getMessage.contains("tail, jobs, plans"), mode.getMessage)
    val none = intercept[IllegalArgumentException](
      Profile.parse(Seq("tail", "q01,nosuchquery", sf)))
    assert(none.getMessage.contains("'nosuchquery' matches no query") &&
      none.getMessage.contains("q02_prd_trades_star"), none.getMessage)
    val many = intercept[IllegalArgumentException](
      Profile.parse(Seq("plans", "q1", sf, "out")))
    assert(many.getMessage.contains("plans takes one query per prefix") &&
      many.getMessage.contains("q141_stream_join"), many.getMessage)
  }
}
