package graft.streaming

import graft.pipeline.NearDupIndex
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash near-dup deduplication ON INGEST, riding the persisted
  * [[NearDupIndex]] — the exact-Jaccard-verified sibling of the
  * simhash [[StreamingDedup]]: each microbatch probes the
  * accumulated band index (cell- and page-pruned), drops every
  * document with an EARLIER near-dup (earlier id in the same batch,
  * or anything already indexed — kept and dropped alike, the
  * training-data contract), and indexes the whole batch.
  *
  * Drop policy is RELATIONAL over the pair set: with id-ordered
  * disjoint batches, probe pairs are (d1 < d2, jac ≥ t) with d2 in
  * the batch, so dropped(d) ⇔ d appears as some pair's d2 — the kept
  * set is batch-boundary-independent and equals "documents that are
  * nobody's later near-dup" over the one-shot LSH pass, which the
  * oracle replays from the minhash_pairs golden directly.
  */
object StreamingMinhashDedup {

  /** One microbatch: probe (or build on the first batch), append kept
    * doc ids to `outPath`, index the batch. Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, indexPath: String, outPath: String,
                   threshold: Double): Unit = {
    if (batch.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pairs =
      if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
        NearDupIndex.buildWithPairs(spark, batch, textCol, idCol,
          indexPath, threshold = threshold)
      else
        NearDupIndex.probeAndAppend(spark, indexPath, batch, textCol,
          idCol, threshold = threshold)
    // dropped ⇔ the batch doc is some pair's LATER side (d2); pairs
    // are already materialized snapshots, so this is a slim anti-join
    batch.select(col(idCol).as("doc"))
      .join(pairs.select(col("d2").as("doc")).distinct(),
        Seq("doc"), "left_anti")
      .write.mode(SaveMode.Append).parquet(outPath)
  }

  /** Stream the documents table through the incremental near-dup;
    * kept doc ids land in `outPath`, the band/sets index in
    * `indexPath`. `compactEvery` > 0 compacts periodically
    * (contents-invariant).
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             outPath: String, threshold: Double = 0.2,
             compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Whole("doc_id"), "mdup") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // guards the band append and the kept-id write together
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "text", "doc_id", indexPath, outPath,
            threshold)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          NearDupIndex.compactIndex(s, indexPath)
        }
      }
    }
}
