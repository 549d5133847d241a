package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Curation ON INGEST with an event-time LATE-DATA POLICY — the
  * watermark machinery composed onto [[StreamingCuration]]: plain
  * stream_curation processes every arriving document unconditionally,
  * but a production ingest sees stragglers (re-crawls, delayed
  * uploads, backfills) whose event time is far behind the stream, and
  * silently curating them alongside fresh data skews every
  * time-anchored downstream (snapshots, data cards, mix schedules).
  * Here a late document is handled BY POLICY: quarantined to its own
  * output with the watermark that rejected it, never silently mixed
  * in or silently dropped.
  *
  * Watermark semantics (deterministic, oracle-replayable): the
  * late-filter watermark for batch b is
  *
  *   lateWm(b) = max(event time over completed batches < b) − delay
  *
  * and a document is LATE iff its event time ≤ lateWm(b). This is the
  * per-batch form of Spark's own previous-batch watermark rule
  * (SPARK-40925 — stream_hourly_watermark documents the engine's
  * variant); ours uses all batches < b because the gate is evaluated
  * BEFORE the current batch contributes its maximum, which keeps the
  * rule exact under replay. Batch maxima persist as marker files
  * beside the quarantine output
  * (`<latePath>__wm/<runId>/<batchId>_<millis>`), so the watermark
  * survives crashes and same-batchId replays — the same durability
  * Spark's checkpointed watermark has, without needing the
  * stateful-operator machinery for a foreachBatch sink. Markers are
  * NAMESPACED BY RUN exactly like [[BatchLedger]]'s (batchIds
  * restart at 0 per checkpoint while the store persists): watermark
  * scope is therefore per run, which is Spark's own semantics — a
  * stream started on a fresh checkpoint begins with no watermark.
  *
  * On-time documents flow through the unchanged curation composition
  * (URL blocklist → quality gate → exact-fp dedup on the persisted
  * [[graft.pipeline.DedupIndex]]) — only on-time docs reach the dedup
  * index, so the kept set equals the batch composition over the
  * on-time corpus (the oracle replays both the policy and the
  * composition in SQL).
  *
  * 100 TB: the gate is one map-side filter per batch plus one tiny
  * agg for the batch maximum; watermark state is one marker file per
  * batch (compact with the index).
  */
object StreamingWatermarkedCuration {

  private def wmDir(latePath: String) = s"${latePath}__wm"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record batch b's event-time maximum (idempotent: fixed content
    * per (runId, batchId, max) — a replayed batch rewrites the same
    * marker).
    */
  private def recordBatchMax(spark: SparkSession, latePath: String,
                             runId: String, batchId: Long,
                             maxMillis: Long): Unit = {
    val f = fs(spark, latePath)
    val m = new org.apache.hadoop.fs.Path(
      s"${wmDir(latePath)}/$runId/${batchId}_$maxMillis")
    f.mkdirs(m.getParent)
    val out = f.create(m, true)
    out.close()
  }

  /** lateWm(b) in epoch millis: max recorded batch maximum over
    * batches < b, minus delay; None before any earlier batch (first
    * batch: nothing can be late — there is no watermark yet).
    */
  private[streaming] def lateWatermark(spark: SparkSession, latePath: String,
                                       runId: String, batchId: Long,
                                       delayMillis: Long): Option[Long] = {
    val f = fs(spark, latePath)
    val dir = new org.apache.hadoop.fs.Path(s"${wmDir(latePath)}/$runId")
    if (!f.exists(dir)) return None
    val maxes = f.listStatus(dir).toSeq
      .map(_.getPath.getName.split('_'))
      .collect { case Array(b, m) if b.toLong < batchId => m.toLong }
    if (maxes.isEmpty) None else Some(maxes.max - delayMillis)
  }

  /** One microbatch: split on the watermark, quarantine the late rows
    * (doc, event-time, the watermark that rejected them), curate the
    * on-time rows, record the batch maximum. Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, urlCol: String, tsCol: String,
                   blocklist: Seq[String], minQuality: Double,
                   delayMillis: Long, runId: String, batchId: Long,
                   indexPath: String, outPath: String,
                   latePath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    // one pin: the split reads the batch twice (late + on-time) and
    // the max-agg a third time
    val pinned = batch.localCheckpoint(true)
    val wm = lateWatermark(spark, latePath, runId, batchId, delayMillis)
    val ms = unix_millis(col(tsCol))
    val late = wm match {
      case Some(w) => pinned.where(ms <= w)
        .select(col(idCol).as("doc"), ms.as("event_ms"),
          lit(w).as("late_wm_ms"))
      case None => pinned.limit(0)
        .select(col(idCol).as("doc"), ms.as("event_ms"),
          lit(0L).as("late_wm_ms"))
    }
    late.write.mode(SaveMode.Append).parquet(latePath)
    val onTime = wm match {
      case Some(w) => pinned.where(ms > w)
      case None => pinned
    }
    StreamingCuration.processBatch(spark, onTime, textCol, idCol, urlCol,
      blocklist, minQuality, indexPath, outPath)
    val mx = pinned.agg(max(ms)).head()
    if (!mx.isNullAt(0))
      recordBatchMax(spark, latePath, runId, batchId, mx.getLong(0))
    graft.core.Pinned.release(pinned)
  }

  /** Stream the documents table (replayed as `nBatches` id-ordered
    * microbatches, `decorate`d first — e.g. to attach url and
    * event-time columns) through the watermarked curation: kept doc
    * ids land in `outPath`, quarantined late rows in `latePath`.
    */
  def ingest(spark: SparkSession, dir: String,
             decorate: DataFrame => DataFrame, blocklist: Seq[String],
             minQuality: Double, delayMillis: Long, indexPath: String,
             outPath: String, latePath: String, urlCol: String = "url",
             tsCol: String = "ts", nBatches: Int = 3): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Split("doc_id", nBatches), "wcur") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, indexPath, runKey)
      // the batch-max watermark store is a sibling per-run marker dir:
      // GC its dead runs too (same single-writer argument)
      BatchLedger.pruneRunDir(spark, s"${latePath}__wm", runId)
      (batch, batchId) =>
        // the guard covers the late write, the curation, and the
        // watermark marker together
        BatchLedger.once(batch.sparkSession, indexPath, runId, batchId) {
          processBatch(batch.sparkSession, decorate(batch), "text",
            "doc_id", urlCol, tsCol, blocklist, minQuality, delayMillis,
            runId, batchId, indexPath, outPath, latePath,
            knownNonEmpty = true)
        }
    }
}
