package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (§2.10).
  *
  * The reference's closest stream is the append-only conversation log
  * (ingest-time timestamps, no watermarks — SURVEY.md §1.4); these
  * operators add the standard event-time surface a scale deployment
  * needs: windowed aggregation with a watermark, and gap-based
  * sessionization via `flatMapGroupsWithState` (the engine's custom
  * per-key state extension point).
  */
object EventStream {

  final case class Ev(user_id: Long, event_id: Long, tsUs: Long)
  final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)
  final case class SessState(lastTsUs: Long, sessions: Long, events: Long)

  /** Run `body` over the events table read as a stream (handles the
    * NANOS timestamp via nanosAsLong, mirroring the batch reader).
    * The stream reads a private copy of `events.parquet` (a file
    * stream source watches a directory), and the copy lives exactly
    * as long as `body`: it is deleted when `body` returns or throws,
    * the [[StagedIngest]] cleanup rule. So `body` must run the stream
    * to completion (e.g. [[runToMemory]]) before it returns; a stream
    * that needs two independent event sources nests two calls.
    */
  def withEvents[T](spark: SparkSession, dir: String)
                   (body: DataFrame => T): T = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stageDir = java.nio.file.Files.createTempDirectory("graft_stream")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        stageDir.resolve("events.parquet"))
      val raw = spark.readStream.schema(rawSchema).parquet(stageDir.toString)
      body(
        if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else if (rawSchema("ts").dataType ==
            org.apache.spark.sql.types.TimestampNTZType) {
          // naive micros → session-UTC instants, mirroring Queries.tbl;
          // only instant-preserving under a UTC session — assert it
          graft.core.Schemas.requireUtcSession(spark)
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        }
        else raw)
    } finally deleteRecursively(stageDir)
  }

  /** Watermarked tumbling-window aggregation (append mode shape). */
  def hourlyWindowed(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Watermarked stream-stream INNER interval join — the standard
    * event-correlation shape (click→view attribution, request→error
    * matching): rows of `b` join rows of `a` sharing `keys` with
    * `bTime` inside `[aTime, aTime + within]`. Both sides carry a
    * watermark and the join condition bounds event-time distance, so
    * Spark evicts join state as the watermark passes — state is
    * O(delay × rate), never the whole stream, which is what makes the
    * operator runnable forever at production rates. Run to completion
    * over a static source the inner join emits exactly the batch
    * join's rows (the stream_interval_join oracle replays it in SQL).
    */
  def intervalJoin(a: DataFrame, aTime: String, b: DataFrame, bTime: String,
                   keys: org.apache.spark.sql.Column, within: String,
                   delay: String = "1 hour"): DataFrame =
    a.withWatermark(aTime, delay)
      .join(b.withWatermark(bTime, delay),
        keys && col(bTime) >= col(aTime) &&
          col(bTime) <= col(aTime) + expr(s"INTERVAL $within"))

  /** Gap-based sessionization with explicit per-user state: sessions
    * split on >gapSec silence. Within one micro-batch the group's
    * events are sorted by (ts, event_id) — the same deterministic
    * order the batch twin uses, so complete runs over a static source
    * match the SQL oracle exactly.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapSec: Long = 1800L): Dataset[SessionSummary] = {
    import spark.implicits._
    val evs = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tsUs")).as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = it.toVector.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val newSession = st.lastTsUs == Long.MinValue ||
              e.tsUs - st.lastTsUs > gapSec * 1000000L
            st = SessState(e.tsUs,
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator.single(SessionSummary(uid, st.sessions, st.events))
      }
  }

  /** Fast local scratch for ephemeral streaming checkpoints. A
    * run-to-completion query writes dozens of small fsync+rename files
    * (offset log, commit log, one state-store delta per partition per
    * micro-batch); on a disk-backed temp dir that I/O is the dominant
    * fixed cost of a small stream. Deployments point
    * `spark.graft.streaming.scratchDir` at executor-local fast storage;
    * the default prefers tmpfs (/dev/shm) when writable, else the JVM
    * temp dir. Durable checkpoints for restartable production streams
    * belong on shared storage — this scratch is only for ephemeral
    * run-to-completion queries whose state dies with the run.
    */
  def scratchCheckpointDir(spark: SparkSession, prefix: String): java.nio.file.Path = {
    val base = spark.conf.getOption("spark.graft.streaming.scratchDir")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      }
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix)
  }

  /** Remove a scratch checkpoint created by [[scratchCheckpointDir]]. */
  def deleteScratch(p: java.nio.file.Path): Unit = deleteRecursively(p)

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Run a streaming Dataset to completion against a static source via
    * the memory sink; returns the materialized table.
    */
  def runToMemory(spark: SparkSession, ds: DataFrame, mode: OutputMode): DataFrame = {
    val qn = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir(spark, "graft_ckpt_")
    val q = ds.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(mode).start()
    try q.processAllAvailable() finally {
      q.stop()
      deleteRecursively(ckpt)
    }
    spark.table(qn)
  }
}
