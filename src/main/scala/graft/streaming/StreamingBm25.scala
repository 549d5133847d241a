package graft.streaming

import graft.pipeline.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BM25 index maintenance ON INGEST — the text-retrieval entry in
  * the streaming × persisted-index matrix (exact-fp, simhash, and
  * minhash dedup already ingest incrementally; this does the same
  * for the searchable [[Bm25]] layout): each microbatch appends its
  * postings/df/stats increment against the persisted bucket layout,
  * with periodic contents-invariant compaction.
  *
  * BM25's layout is ADDITIVE (readers SUM stats rows and per-term df
  * rows — Bm25.searchIndex), so the grown index is search-identical
  * to a one-shot build over the union regardless of batch boundaries
  * or arrival order — the oracle is the one-shot bm25_topk golden.
  *
  * 100 TB shape inherited from Bm25: per batch one corpus-increment
  * scan (localCheckpoint'd once for the two writes), bucket-hashed
  * dynamic-partition appends (one file per touched bucket per
  * batch), compaction restoring the term-sorted page-prunable shape.
  */
object StreamingBm25 {

  /** One microbatch: append the batch's increment (append mode
    * creates the layout on first contact, and its pinned-postings df
    * derivation skips overwrite mode's written-index read-back — the
    * right trade for batch-sized increments). Exposed for testing;
    * [[ingest]] wires it into foreachBatch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, indexPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Bm25.appendToIndex(spark, batch, textCol, idCol, indexPath)
  }

  /** Stream the documents table (replayed as `nBatches` id-ordered
    * microbatches) into a persisted BM25 index at `indexPath`.
    * `compactEvery` > 0 compacts after every that-many batches;
    * `compactFilesPerDir` > 0 compacts when the
    * [[graft.core.ParquetCompact.meanFilesPerDir]] file-count alarm
    * says the append debris warrants it (a directory listing, not a
    * cadence guess).
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             nBatches: Int = 4, compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Split("doc_id", nBatches), "bm25") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "text", "doc_id", indexPath,
            knownNonEmpty = true)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          Bm25.compactIndex(s, indexPath)
        }
      }
    }
}
