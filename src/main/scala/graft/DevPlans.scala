package graft
import java.nio.file.{Files, Paths}

/** Scratch: dump `.explain("formatted")` for a list of queries into
  * files (dev only) — the plans/r19 evidence capture. Usage:
  * runMain graft.DevPlans <outDir> <q1,q2,...> [sfDir] */
object DevPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // exactly one match per prefix: an ambiguous prefix (q15 →
    // q151/q154/…) would dump whichever query came first
    val fulls = names.map { prefix =>
      val matches = SparkEntry.matching(Seq(prefix))
      require(matches.size == 1,
        s"prefix '$prefix' matches ${matches.size} queries: " +
          matches.mkString(", "))
      matches.head
    }
    val spark = Engine.localSession(32)
    Files.createDirectories(Paths.get(outDir))
    fulls.foreach { full =>
      val df = SparkEntry.queries(full)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/$full.txt"), plan)
      println(s"[devplans] wrote $full (${plan.length} chars)")
    }
    spark.stop()
  }
}
