package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** QUARANTINE-ON-DRIFT: the [[StreamingDrift]] monitor made
  * ACTIONABLE — each microbatch's categorical profile is checked
  * against the stream so far, and an alerting batch is DIVERTED raw
  * to a quarantine area instead of entering the curation
  * composition (blocklist → quality gate → dedup-on-ingest) and the
  * persisted dedup index. The index, the kept output, and the
  * quality gates only ever see batches whose distribution matched
  * the stream.
  *
  * Baseline policy — ALL OBSERVED, quarantined included: an alert
  * means "this batch differs from the stream SO FAR", so a
  * sustained new mix eventually stops alerting and flows again.
  * That is deliberate: quarantine flags TRANSITIONS for a human to
  * adjudicate; an accepted-only baseline would quarantine a
  * legitimate mix change forever with no way back. It also makes
  * this operator's drift decisions IDENTICAL to the standalone
  * monitor's on the same stream (spec-pinned), and the whole
  * composition exactly replayable: the oracle recomputes the
  * engine-exact TV fold per batch, splits the corpus into
  * accepted/quarantined, and replays the curation stages over the
  * accepted side only.
  */
object StreamingQuarantine {

  /** Stream the table at `srcParquet` through drift-gated curation:
    * kept doc ids land in `outPath`, diverted batches' raw ids in
    * `quarantinePath` (missing dir = nothing was ever diverted).
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             textCol: String, dimCol: String,
             decorate: DataFrame => DataFrame, blocklist: Seq[String],
             minQuality: Double, indexPath: String, outPath: String,
             quarantinePath: String, alertTv: Double = 0.3,
             urlCol: String = "url", nBatches: Int = 4): Unit = {
    // counts of everything OBSERVED before the current batch (see
    // the baseline-policy note above), seeded from the persisted
    // cross-run baseline and re-persisted at run close (DriftState)
    val acc = scala.collection.mutable.Map.empty[String, Long]
    StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "quar") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, indexPath, runKey)
      acc ++= DriftState.load(spark, outPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // replay-guarded: divert/curate/baseline all live in one body
        BatchLedger.once(s, indexPath, runId, batchId) {
          val counts = DriftState.batchCounts(batch, dimCol)
          // the ONE engine-exact TV fold (shared with StreamingDrift)
          val tv = DriftState.tv(counts, acc)
          if (tv > alertTv)
            batch.select(col(idCol)).coalesce(1)
              .write.mode(SaveMode.Append).parquet(quarantinePath)
          else
            StreamingCuration.processBatch(s, decorate(batch), textCol,
              idCol, urlCol, blocklist, minQuality, indexPath, outPath,
              knownNonEmpty = true)
          counts.foreach { case (v, c) =>
            acc.update(v, acc.getOrElse(v, 0L) + c)
          }
        }
      }
    }
    DriftState.save(spark, outPath, acc)
  }
}
