package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Scratch profiler for the streaming-query fixed cost (not part of
  * the driver contract; `runMain graft.tools.StreamProfile <sfDir>`).
  * Prints each micro-batch's durationMs breakdown (queryPlanning,
  * getBatch, addBatch, walCommit, commitOffsets, triggerExecution) so
  * the floor is attributed, not guessed.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[sprof] TOTAL $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    def runAndReport(name: String)(build: => org.apache.spark.sql.DataFrame,
                                   mode: OutputMode): Unit = {
      val qn = "sprof_" + name
      val ckpt = graft.streaming.EventStream
        .scratchCheckpointDir(spark, "sprof_ckpt_")
      timed(name) {
        val q = build.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ckpt.toString)
          .outputMode(mode).start()
        try q.processAllAvailable() finally {
          val progs = q.recentProgress
          q.stop()
          progs.foreach { p =>
            val dm = p.durationMs
            println(s"[sprof] $name batch=${p.batchId} rows=${p.numInputRows} " +
              s"trigger=${dm.get("triggerExecution")} " +
              s"plan=${dm.get("queryPlanning")} getBatch=${dm.get("getBatch")} " +
              s"addBatch=${dm.get("addBatch")} wal=${dm.get("walCommit")} " +
              s"commit=${dm.get("commitOffsets")} " +
              s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
              s"stateCommitMs=${p.stateOperators.map(_.allUpdatesTimeMs).mkString(",")}")
          }
          graft.streaming.EventStream.deleteScratch(ckpt)
        }
      }
      spark.sql(s"DROP TABLE IF EXISTS $qn")
    }

    // each shape streams its own staged copy of the events table
    def events(f: org.apache.spark.sql.DataFrame => Unit): Unit =
      graft.streaming.EventStream.withEvents(spark, d)(f)

    // 1. floor: stateless passthrough, one batch
    events { ev =>
      runAndReport("passthrough")(ev.select(col("user_id"),
        col("event_id")), OutputMode.Append())
    }

    // 2/3. state-heavy shapes across partition counts: at sf0.1 the
    // events stream is 100k rows / ~95k session-window state rows, so
    // the state update+commit parallelism scales with partitions
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    for (parts <- Seq("4", "8", "16", "32")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      events { ev =>
        runAndReport(s"session_window_p$parts")({
          ev.withWatermark("ts", "0 seconds")
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n"))
        }, OutputMode.Append())
      }
      events { clicks => events { views =>
        runAndReport(s"interval_join_p$parts")({
          val a = clicks
            .where(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
          val b = views
            .where(col("event_type") === "view")
            .select(col("user_id").as("view_user"),
              col("event_id").as("view_id"), col("ts").as("view_ts"))
          graft.streaming.EventStream.intervalJoin(
            a, "click_ts", b, "view_ts",
            col("user_id") === col("view_user"), within = "30 MINUTES")
        }, OutputMode.Append())
      } }
    }
    spark.conf.set("spark.sql.shuffle.partitions", prev)

    spark.stop()
  }
}
