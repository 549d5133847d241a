package graft.streaming

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** SPAN SURGERY ON INGEST — the minimal-removal sibling of
  * [[StreamingDecontam]]: instead of flagging (or dropping) whole
  * contaminated training documents, every maximal training-side span
  * whose w-token windows appear anywhere in the eval corpus is
  * excised AT THE INGEST BOUNDARY, and the scrubbed documents flow
  * on — templated boilerplate around a quoted benchmark item costs a
  * span, not the document.
  *
  * The eval corpus's window-hash postings and Bloom filter are built
  * ONCE at run open ([[Dedup.decontamEval]] at the span width — the
  * eval set is frozen for the run), and every training microbatch is
  * scrubbed against them ([[Dedup.decontamSpanScrubAgainst]]).
  * Batch-decomposable by construction: a document's windows, spans,
  * and rebuild are local to it, so the union of per-batch outputs
  * over ANY batching equals the one-shot [[Dedup.decontamSpanScrub]]
  * — the decontam_span_scrub golden pins the streamed path verbatim.
  *
  * 100 TB shape inherited from the decontam ingest: the training
  * side is pruned MAP-SIDE at the scan (codegen'd Bloom probe — no
  * shuffle of non-colliding windows), the eval artifact amortizes
  * across batches, and the rebuild's three shuffles stay
  * per-batch-sized.
  */
object StreamingSpanScrub {

  /** One microbatch: scrub the increment against the prebuilt eval
    * artifact and append the (doc, cleaned) rows. Exposed for
    * testing.
    */
  def processBatch(batch: DataFrame, ev: Dedup.DecontamEval,
                   outPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Dedup.decontamSpanScrubAgainst(batch, ev)
      .write.mode(SaveMode.Append).parquet(outPath)
  }

  /** Stream the training table at `srcParquet` (replayed as
    * `nBatches` id-ordered microbatches) against the static `eval`
    * corpus, appending scrubbed (doc, cleaned) rows to `outPath`.
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             textCol: String, eval: DataFrame, outPath: String,
             w: Int = 50, nBatches: Int = 4, fpp: Double = 0.01): Unit = {
    // the per-run eval artifact AT THE SPAN WIDTH: window-hash
    // postings + Bloom, built once, probed by every batch
    val ev = Dedup.decontamEval(eval, textCol, idCol, w, fpp)
    try StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "scrub") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, outPath, runKey)
      (batch, batchId) =>
        BatchLedger.once(batch.sparkSession, outPath, runId, batchId) {
          processBatch(batch, ev, outPath, knownNonEmpty = true)
        }
    } finally Dedup.releaseDecontamEval(ev)
  }
}
