package graft

import org.apache.spark.sql.functions._

/** Dev-only adjudication probe for q141's rep distribution (r15
  * verdict #3 / r16 verdict #3): per-rep wall times on the engine's
  * current streaming path (RocksDB state store + scratch-backed
  * explicit checkpoints — the round-17 root fix for the /tmp-fsync
  * bimodality this probe originally bisected; the disk-vs-tmpfs
  * contrast that established it is in git history). First rep pays the
  * one-per-JVM backlog build; the steady-state reps are the band. */
object DevQ141 {
  def main(args: Array[String]): Unit = {
    val spark = Engine.localSession(32)
    val dir = "/root/testdata/sf0.1"
    val backlog = s"${System.getProperty("java.io.tmpdir")}/dev-q141-backlog"
    if (!new java.io.File(backlog).exists()) {
      Tables.events(spark, dir)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
        .select("event_id", "event_time", "user_id", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(backlog)
    }
    var n = 0L
    def rep(): Double = {
      n += 1
      val name = s"devq141_$n"
      val t0 = System.nanoTime()
      // inlined runAttributionBacklog so the query handle survives for
      // the engine-side duration breakdown (round-20, verdict item 5):
      // where the ~8 s goes — addBatch (join + state commits) vs the
      // offset/commit-log fences vs state-store open
      val schema = spark.read.parquet(backlog).schema
      def side(eventType: String) =
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 8)
          .parquet(backlog)
          .filter(col("event_type") === eventType)
      val q = streaming.EventTimeStreams
        .attributionJoin(side("view"), side("purchase"),
          "event_time", horizon = "4 hours", lateness = "600 days")
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", Engine.streamCheckpointDir(name))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      q.recentProgress.foreach { p =>
        val dur = p.durationMs
        val st = p.stateOperators.headOption
        println(f"[devq141]   batch ${p.batchId}: " +
          f"triggerMs=${p.batchDuration} durations=$dur " +
          st.map(s => s"stateCommitMs=${s.commitTimeMs} " +
            s"rowsUpdated=${s.numRowsUpdated}").getOrElse(""))
      }
      dt
    }
    val ts = (1 to 8).map(_ => rep())
    println(f"[devq141] reps=${ts.map(t => f"$t%.2f").mkString(",")} " +
      f"steady-median=${ts.drop(1).sorted.apply(3)}%.2f " +
      f"steady-spread=${ts.drop(1).max - ts.drop(1).min}%.2f")
    spark.stop()
  }
}
