package graft.streaming

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** DECONTAMINATION ON INGEST — eval-set protection at the ingest
  * boundary instead of a post-hoc corpus sweep: the eval corpus's
  * shingle postings and Bloom filter are built ONCE at run open
  * ([[Dedup.decontamEval]] — the eval set is frozen for the run),
  * and every training microbatch is probed against them
  * ([[Dedup.crossJaccardPairsAgainst]]), appending its contaminated
  * (train, eval, jaccard) pairs to the output.
  *
  * Batch-decomposable by construction: each training doc's shingle
  * set is local to it, so the union of per-batch pair sets over ANY
  * batching equals the one-shot [[Dedup.crossJaccardPairs]] — the
  * decontam_pairs oracle pins the streamed path verbatim.
  *
  * 100 TB shape inherited from the Bloom path: the training side is
  * pruned MAP-SIDE at the scan (codegen'd bloom probe, no shuffle of
  * non-colliding postings), and the per-run eval artifact amortizes
  * the eval build across every batch instead of paying it per batch.
  */
object StreamingDecontam {

  /** One microbatch: probe the increment against the prebuilt eval
    * artifact and append its contaminated pairs. A batch with no
    * pairs appends nothing (parquet append of zero rows writes only
    * _SUCCESS, which would poison later schema inference on an
    * otherwise-empty output). Exposed for testing.
    */
  def processBatch(batch: DataFrame, ev: Dedup.DecontamEval,
                   threshold: Double, outPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    val pairs = Dedup.crossJaccardPairsAgainst(batch, ev, threshold)
      .localCheckpoint(true)
    try {
      if (!pairs.isEmpty)
        pairs.write.mode(SaveMode.Append).parquet(outPath)
    } finally graft.core.Pinned.release(pairs)
  }

  /** Stream the training table at `srcParquet` (replayed as
    * `nBatches` id-ordered microbatches) against the static `eval`
    * corpus, appending contaminated pairs to `outPath`. The output
    * exists iff any pair was found — a missing dir IS a clean
    * corpus, the family's missing-layout convention.
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             textCol: String, eval: DataFrame, outPath: String,
             w: Int = 3, threshold: Double = 0.2,
             nBatches: Int = 4, fpp: Double = 0.01): Unit = {
    // the per-run eval artifact: built once, probed by every batch
    val ev = Dedup.decontamEval(eval, textCol, idCol, w, fpp)
    try StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "decon") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, outPath, runKey)
      (batch, batchId) =>
        BatchLedger.once(batch.sparkSession, outPath, runId, batchId) {
          processBatch(batch, ev, threshold, outPath, knownNonEmpty = true)
        }
    } finally Dedup.releaseDecontamEval(ev)
  }
}
