package graft

/** Scratch: time one named query N times in a warm session (dev only).
  *
  * Optional 4th arg `key=v1|v2` runs a SAME-RUN conf contrast: for each
  * query, n reps under each value of the session conf, interleaved in
  * one JVM — the only comparison that means anything on this host,
  * where cross-run wall-clock varies up to 5× with co-tenant load
  * (docs/SCALE.md measurement notes). */
object DevLoop {
  def main(args: Array[String]): Unit = {
    val (names, sfDir, n, contrast) = args match {
      case Array(a, b, c)    => (a, b, c.toInt, None)
      case Array(a, b, c, d) =>
        val Array(k, vs) = d.split("=", 2)
        (a, b, c.toInt, Some(k -> vs.split('|').toSeq))
    }
    val spark = Engine.localSession(32)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val settings: Seq[Option[(String, String)]] = contrast match {
      case None          => Seq(None)
      case Some((k, vs)) => vs.map(v => Some(k -> v))
    }
    names.split(",").foreach { name =>
      settings.foreach { setting =>
        setting.foreach { case (k, v) => spark.conf.set(k, v) }
        val tag = setting.map { case (k, v) => s" [$k=$v]" }.getOrElse("")
        val times = (1 to n).map { i =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          println(f"$name$tag rep $i: $t%.3f s")
          t
        }
        val med = times.sorted.apply(times.size / 2)
        println(f"$name$tag MEDIAN: $med%.3f s")
      }
    }
    spark.stop()
  }
}
