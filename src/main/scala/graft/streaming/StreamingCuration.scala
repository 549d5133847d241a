package graft.streaming

import graft.pipeline.{TextAnalysis, UrlFilter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation ON INGEST — the flagship composition run per microbatch
  * instead of per corpus snapshot: URL blocklist (codegen suffix-set
  * probe) → quality-score gate (codegen signals) → exact-fingerprint
  * dedup riding the persisted [[graft.pipeline.DedupIndex]]. The
  * first two stages are stateless map passes, so only the dedup
  * carries state — and it carries it in the persisted index, not in
  * memory; the kept set therefore equals the batch composition run
  * over the full corpus (each stage relational, id-ordered arrival),
  * which is what the SQL oracle replays stage by stage.
  *
  * 100 TB: per batch two map-side filters and one bucket-pruned
  * index probe/append — no stage ever rescans history.
  */
object StreamingCuration {

  /** One microbatch: filter, gate, then exact-dedup-on-ingest.
    * Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, urlCol: String, blocklist: Seq[String],
                   minQuality: Double, indexPath: String,
                   outPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    val kept = UrlFilter.dropBlockedUrls(batch, urlCol, blocklist)
      .where(TextAnalysis.qualityScore(col(textCol)) >= minQuality)
    StreamingExactDedup.processBatch(spark, kept, textCol, idCol,
      indexPath, outPath)
  }

  /** Stream the documents table (replayed as `nBatches` id-ordered
    * microbatches, `decorate`d first — e.g. to attach the url
    * column) through the curation composition; kept doc ids land in
    * `outPath`.
    */
  def ingest(spark: SparkSession, dir: String,
             decorate: DataFrame => DataFrame, blocklist: Seq[String],
             minQuality: Double, indexPath: String, outPath: String,
             urlCol: String = "url", nBatches: Int = 3): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Split("doc_id", nBatches), "cur") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, indexPath, runKey)
      (batch, batchId) =>
        BatchLedger.once(batch.sparkSession, indexPath, runId, batchId) {
          processBatch(batch.sparkSession, decorate(batch), "text",
            "doc_id", urlCol, blocklist, minQuality, indexPath, outPath,
            knownNonEmpty = true)
        }
    }
}
