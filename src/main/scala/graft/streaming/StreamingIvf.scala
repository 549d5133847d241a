package graft.streaming

import graft.pipeline.{Ivf, IvfModel}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF vector-index maintenance ON INGEST — the vector-retrieval
  * entry in the streaming × persisted-index matrix: embeddings
  * arriving in microbatches are assigned against a FROZEN coarse
  * quantizer (the standard IVF deployment: train offline on a
  * sample, add online — Jégou et al., PAMI 2011) and appended into
  * the cluster-partitioned on-disk layout, with periodic
  * contents-invariant compaction.
  *
  * Cluster assignment is per-row against the frozen model, so the
  * grown index holds exactly the postings a one-shot build over the
  * union would — search results are batch-boundary- and
  * arrival-order-independent, and the oracle is the one-shot
  * ivf_topk golden.
  *
  * 100 TB shape inherited from Ivf: assignment is a codegen
  * map-side expression (no shuffle), appends are dynamic-partition
  * writes touching only the batch's clusters, probes partition-prune
  * to nprobe cluster directories.
  */
object StreamingIvf {

  /** One microbatch: assign against the frozen quantizer and append.
    * Append-mode creates the layout on first contact, so there is no
    * separate first-batch branch. Exposed for testing.
    */
  def processBatch(batch: DataFrame, vecCol: String, model: IvfModel,
                   indexPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Ivf.appendToIndex(batch, vecCol, model, indexPath)
  }

  /** Stream the embeddings table (replayed as `nBatches` id-ordered
    * microbatches) into a persisted IVF index at `indexPath` against
    * the pre-trained `model`. `compactEvery` > 0 compacts after
    * every that-many batches; `compactFilesPerDir` > 0 compacts
    * instead when the measured append debris warrants it (the
    * [[graft.core.ParquetCompact.meanFilesPerDir]] file-count alarm —
    * a directory listing, not a cadence guess).
    *
    * `reclusterImbalance` > 0 makes the ingest SELF-MAINTAINING: after
    * each batch the [[Ivf.imbalance]] drift alarm (a parquet-footer
    * pass, no data pages) is checked, and past the threshold the
    * index is [[Ivf.recluster]]ed — retrained on its own contents and
    * rewritten — with subsequent batches assigned under the new
    * quantizer. This is the operational loop ReclusterMeasure
    * motivates (PLANS.md): under drift, hot lists silently multiply
    * probe cost while recall still looks healthy, so the ingest
    * watches balance and heals itself instead of waiting for an
    * offline retrain. Replay-safe: recluster is a pure function of
    * the index contents, so a re-delivered batch that re-triggers it
    * rewrites to the identical layout. Returns the model the index is
    * CURRENTLY assigned under — the frozen input if the alarm never
    * fired; callers must serve with the returned model.
    *
    * In self-maintaining mode the current quantizer is also persisted
    * inside the layout at [[Ivf.modelPath]] — at start here, and
    * atomically WITH each recluster's layout swap (recluster writes
    * `_model` into the compacted copy before promoting, so a crash
    * can never leave a new layout paired with a stale quantizer).
    * The layout alone is ambiguous once the model can change
    * mid-stream, so a RESTARTED ingest must [[Ivf.loadModel]] the
    * persisted pair rather than re-pass the original frozen model.
    */
  def ingest(spark: SparkSession, dir: String, model: IvfModel,
             indexPath: String, nBatches: Int = 4,
             compactEvery: Int = 0,
             reclusterImbalance: Double = 0.0,
             compactFilesPerDir: Double = 0.0): IvfModel = {
    // the quantizer the index is currently assigned under; replaced
    // when the drift alarm fires (foreachBatch runs batches
    // sequentially in one thread — plain var is safe)
    var current = model
    StagedIngest.run(spark, s"$dir/embeddings.parquet",
        StagedIngest.Split("vec_id", nBatches), "ivf") {
      (runKey, stageNonEmpty) =>
        val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
          dataPath = indexPath)
        if (reclusterImbalance > 0 && stageNonEmpty)
          // persist-or-verify (a restarted run must pass the persisted
          // model, which recluster may have replaced — see ensurePair)
          Ivf.ensurePair(spark, current, None, indexPath)
        (batch, batchId) => {
          val s = batch.sparkSession
          BatchLedger.once(s, indexPath, runId, batchId) {
            processBatch(batch, "embedding", current, indexPath,
              knownNonEmpty = true)
          }
          graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
              compactFilesPerDir, indexPath) {
            Ivf.compactIndex(s, indexPath)
          }
          if (reclusterImbalance > 0 &&
              Ivf.imbalance(s, indexPath) > reclusterImbalance)
            // recluster persists the retrained quantizer inside the
            // swap; keep the index's cost class (flat vs hierarchical)
            current = Ivf.recluster(s, indexPath, "embedding", "vec_id",
              nlist = current.nlist, hierarchical = current.hierarchical)
        }
    }
    current
  }

  /** Stream the embeddings table into the QUANTIZED (residual codes)
    * serving layout — the layout that actually serves at 100 TB:
    * each microbatch assigns under the frozen coarse quantizer,
    * encodes its residual under the frozen codebooks, and appends
    * m-byte codes ([[Ivf.appendToIndexPqResidual]]). Pure per-row
    * encoding makes the grown layout row-identical to a one-shot
    * build, so the ivf_topk_pqr golden oracles the streamed path.
    * The (coarse, codebook) pair persists with the layout at first
    * contact (append mode never writes it), so a restarted server
    * recovers everything from the root.
    */
  def ingestCodes(spark: SparkSession, dir: String, model: IvfModel,
                  pq: graft.pipeline.Pq.PqModel, indexPath: String,
                  nBatches: Int = 4, compactEvery: Int = 0,
                  compactFilesPerDir: Double = 0.0): Unit =
    ingestEncoded(spark, dir, model, Some(pq), indexPath, nBatches,
      compactEvery, compactFilesPerDir, kind = "icodes") {
      (batch, m) => Ivf.appendToIndexPqResidual(batch, "embedding",
        pq, m, indexPath)
    }

  /** [[ingestCodes]] for the SIGN-BIT layout — the coarsest tier
    * streamed on ingest. Training-free encoding means only the
    * coarse quantizer persists with the layout (no codebook pair),
    * and grown ≡ one-shot holds unconditionally, so the ivf_topk_bq
    * golden oracles the streamed path.
    */
  def ingestBq(spark: SparkSession, dir: String, model: IvfModel,
               indexPath: String, nBatches: Int = 4,
               compactEvery: Int = 0,
               compactFilesPerDir: Double = 0.0): Unit =
    ingestEncoded(spark, dir, model, None, indexPath, nBatches,
      compactEvery, compactFilesPerDir, kind = "ibq") {
      (batch, m) => Ivf.appendToIndexBq(batch, "embedding", m, indexPath)
    }

  private def ingestEncoded(spark: SparkSession, dir: String,
                            model: IvfModel,
                            pq: Option[graft.pipeline.Pq.PqModel],
                            indexPath: String, nBatches: Int,
                            compactEvery: Int,
                            compactFilesPerDir: Double, kind: String)
                           (append: (DataFrame, IvfModel) => Unit): Unit =
    StagedIngest.run(spark, s"$dir/embeddings.parquet",
        StagedIngest.Split("vec_id", nBatches), kind) {
      (runKey, stageNonEmpty) =>
        val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
          dataPath = indexPath)
        // persist-or-verify, and only when there is data to ingest — a
        // save on an empty source would conjure a sidecar-only layout
        // dir that poisons the missing-dir-is-empty convention, and an
        // unconditional save would silently invalidate codes a prior
        // run already encoded under a different pair (ensurePair
        // errors loudly instead)
        if (stageNonEmpty) Ivf.ensurePair(spark, model, pq, indexPath)
        (batch, batchId) => {
          val s = batch.sparkSession
          BatchLedger.once(s, indexPath, runId, batchId) {
            append(batch, model)
          }
          graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
              compactFilesPerDir, indexPath) {
            Ivf.compactIndex(s, indexPath)
          }
        }
    }
}
