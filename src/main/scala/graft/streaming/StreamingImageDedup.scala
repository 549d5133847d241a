package graft.streaming

import graft.pipeline.PHashIndex
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERCEPTUAL image deduplication ON INGEST — the multimodal entry in
  * the streaming dedup matrix (exact-fp, simhash, minhash text dedup
  * and cosine embedding dedup already ingest incrementally; this does
  * the same for images), riding the persisted [[PHashIndex]]: each
  * microbatch probes the accumulated band index, drops every image
  * with an EARLIER perceptual near-dup (earlier id in the same batch,
  * or anything already indexed), and indexes the whole batch.
  *
  * Drop policy is RELATIONAL over the pair set: with id-ordered
  * disjoint batches, probe pairs are (d1 < d2, dist ≤ maxDist) with
  * d2 in the batch, so dropped(d) ⇔ d appears as some pair's d2 —
  * the kept set is batch-boundary-independent and equals "images
  * that are nobody's later near-dup" over the one-shot banded pass,
  * which the oracle replays from the multimodal_neardup golden
  * directly.
  */
object StreamingImageDedup {

  /** One microbatch: probe (or build on first contact), append kept
    * image ids to `outPath`, index the batch. Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, bytesCol: String,
                   idCol: String, indexPath: String, outPath: String,
                   maxDist: Int,
                   hasher: org.apache.spark.sql.Column =>
                     org.apache.spark.sql.Column =
                       PHashIndex.ImageHasher,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    val pairs = PHashIndex.probeAndAppend(spark, indexPath, batch,
      bytesCol, idCol, maxDist, hasher)
    batch.select(col(idCol).as("doc"))
      .join(pairs.select(col("d2").as("doc")).distinct(),
        Seq("doc"), "left_anti")
      .write.mode(SaveMode.Append).parquet(outPath)
    // the kept-id write was pairs' only consumer — release its pin
    graft.core.Pinned.release(pairs)
  }

  /** Stream a staged media table (id-ordered microbatches from
    * `srcParquet`, one file per trigger) through the incremental
    * perceptual dedup; kept image ids land in `outPath`, the band
    * index in `indexPath`.
    */
  def ingest(spark: SparkSession, srcParquet: String, indexPath: String,
             outPath: String, maxDist: Int = 6, nBatches: Int = 3,
             idCol: String = "id", bytesCol: String = "bytes",
             compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0,
             hasher: org.apache.spark.sql.Column =>
               org.apache.spark.sql.Column = PHashIndex.ImageHasher): Unit =
    StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "pdup") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // guards the band append and the kept-id write together
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, bytesCol, idCol, indexPath, outPath,
            maxDist, hasher, knownNonEmpty = true)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          PHashIndex.compactIndex(s, indexPath)
        }
      }
    }
}
