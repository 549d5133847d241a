package graft.streaming

import graft.pipeline.EmbedDedupIndex
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SEMANTIC deduplication ON INGEST — the embedding entry in the
  * streaming dedup matrix (exact-fp, simhash, and minhash text dedup
  * already ingest incrementally; this does the same for cosine
  * near-dup over vectors), riding the persisted [[EmbedDedupIndex]]:
  * each microbatch probes the accumulated signature-blocked index,
  * drops every vector with an EARLIER cosine near-dup (earlier id in
  * the same batch, or anything already indexed), and indexes the
  * whole batch.
  *
  * Drop policy is RELATIONAL over the pair set: with id-ordered
  * disjoint batches, probe pairs are (d1 < d2, sim ≥ t) with d2 in
  * the batch, so dropped(d) ⇔ d appears as some pair's d2 — the kept
  * set is batch-boundary-independent and equals "vectors that are
  * nobody's later near-dup" over the one-shot blocked pass, which
  * the oracle replays from the embed_neardup_lsh golden directly.
  */
object StreamingEmbedDedup {

  /** One microbatch: probe (or build on first contact), append kept
    * vec ids to `outPath`, index the batch. Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
                   idCol: String, indexPath: String, outPath: String,
                   dim: Int, bits: Int, threshold: Double,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    val pairs = EmbedDedupIndex.probeAndAppend(spark, indexPath, batch,
      vecCol, idCol, dim, bits, threshold = threshold)
    batch.select(col(idCol).as("doc"))
      .join(pairs.select(col("d2").as("doc")).distinct(),
        Seq("doc"), "left_anti")
      .write.mode(SaveMode.Append).parquet(outPath)
    // the kept-id write was pairs' only consumer — release its pinned
    // blocks or a long-running ingest accumulates one dead block set
    // per microbatch
    graft.core.Pinned.release(pairs)
  }

  /** Stream the embeddings table (replayed as `nBatches` id-ordered
    * microbatches) through the incremental semantic dedup; kept vec
    * ids land in `outPath`, the signature index in `indexPath`.
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             outPath: String, dim: Int = 64, bits: Int = 8,
             threshold: Double = 0.3, nBatches: Int = 3,
             compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/embeddings.parquet",
        StagedIngest.Split("vec_id", nBatches), "edup") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // guards the index append and the kept-id write together
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "embedding", "vec_id", indexPath, outPath,
            dim, bits, threshold, knownNonEmpty = true)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          EmbedDedupIndex.compactIndex(s, indexPath)
        }
      }
    }
}
