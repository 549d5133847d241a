package graft.streaming

import graft.pipeline.Sparse
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sparse-vector index maintenance ON INGEST — the learned-sparse
  * entry in the streaming × persisted-index matrix: each microbatch
  * sparsifies its vectors under the FROZEN (tau, scale) contract and
  * appends the postings to the persisted [[Sparse]] dim-bucket
  * layout. Postings are per-doc rows and scoring sums are additive
  * over them, so the grown index serves identically to a one-shot
  * build over the union regardless of batch boundaries or arrival
  * order — the oracle is the same direct-SQL brute force every batch
  * sparse row replays.
  *
  * Exactly-once per batch via the shared ledger (same-batchId
  * replays no-op); compaction on the measured file-count alarm, not
  * a cadence guess.
  */
object StreamingSparse {

  /** One microbatch: sparsify and append. Exposed for testing. */
  def processBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
                   idCol: String, indexPath: String, tau: Double,
                   scale: Double,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Sparse.appendToIndex(spark,
      Sparse.sparsify(batch, vecCol, idCol, tau, scale), indexPath)
  }

  /** Stream the embeddings table (replayed as `nBatches` id-ordered
    * microbatches) into a persisted sparse index at `indexPath`.
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             nBatches: Int = 4, tau: Double = 0.05,
             scale: Double = Sparse.DefaultScale,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/embeddings.parquet",
        StagedIngest.Split("vec_id", nBatches), "sparse") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "embedding", "vec_id", indexPath, tau,
            scale, knownNonEmpty = true)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, 0,
            compactFilesPerDir, indexPath) {
          Sparse.compactIndex(s, indexPath)
        }
      }
    }
}
