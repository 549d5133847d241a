package graft.streaming

import graft.pipeline.DedupIndex
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Exact deduplication ON INGEST — the exact-fingerprint sibling of
  * [[StreamingDedup]], riding the persisted [[DedupIndex]] layout:
  * each microbatch probes the accumulated (fp, min-id) index, keeps
  * the documents whose fingerprint is genuinely new (or who are the
  * batch's own min-id holder for a new fingerprint), and appends the
  * novel fingerprints — the corpus is never re-fingerprinted.
  *
  * Drop policy is RELATIONAL, so the kept set is independent of
  * batch boundaries with id-ordered arrival: kept(d) ⇔ d = min id of
  * its fingerprint group over everything seen — exactly the one-shot
  * exact-dedup rule, which is what the oracle replays in SQL.
  *
  * 100 TB shape inherited from DedupIndex: per batch one fingerprint
  * scan, one bucket-pruned (page-pruned for small batches) index
  * read, slim (fp, doc) frames only — probe bytes follow the batch,
  * not the index.
  */
object StreamingExactDedup {

  /** One microbatch: classify against the index (and the batch
    * itself), append kept doc ids to `outPath`, append novel
    * fingerprints to the index. Exposed for testing; [[ingest]]
    * wires it into foreachBatch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, indexPath: String,
                   outPath: String): Unit = {
    if (batch.isEmpty) return
    // one fused probe+append per batch (ONE fingerprint scan, ONE
    // index read — the separate probe-then-appendNovel pair paid both
    // twice per microbatch), which also covers first contact: a
    // missing layout probes all-novel, every doc's keeper is the
    // batch's own min-id holder, and the append creates the index —
    // exactly the old writeIndex + window first-batch branch
    val decisions = DedupIndex.probeAndAppend(spark, indexPath, batch,
      textCol, idCol)
    decisions.where(!col("dup")).select(col("doc"))
      .write.mode(SaveMode.Append).parquet(outPath)
    graft.core.Pinned.release(decisions)
  }

  /** Stream the documents table through the incremental exact dedup;
    * kept doc ids land in `outPath`, fingerprints in `indexPath`.
    * `compactEvery` > 0 runs [[DedupIndex.compactIndex]] after every
    * that-many batches (contents-invariant).
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             outPath: String, compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Whole("doc_id"), "xdup") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // guards the fp append and the kept-id write together
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "text", "doc_id", indexPath, outPath)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          DedupIndex.compactIndex(s, indexPath)
        }
      }
    }
}
