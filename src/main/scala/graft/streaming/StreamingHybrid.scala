package graft.streaming

import graft.pipeline.{Hybrid, IvfModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** PAIRED hybrid-index maintenance ON INGEST — the last entry in the
  * streaming × persisted-index matrix (BM25 and IVF already ingest
  * incrementally; this drives BOTH through [[Hybrid.appendDocs]]'s
  * one entry point so the fusion pair can never serve skewed): each
  * microbatch of documents appends its text to the BM25 side and its
  * id-matched vectors to the IVF side, exactly-once PER SIDE via the
  * per-side ledger markers appendDocs already carries — a crash
  * between the sides inside a batch is healed by foreachBatch's
  * replay of the same (runId, batchId), which no-ops the completed
  * side and catches the other up.
  *
  * The vector increment is derived by an id JOIN against the static
  * embeddings table (the fusion's shared id space: lexical doc ids
  * and dense vec ids are one domain), so a batch's text and vectors
  * always travel together — the invariant the paired lifecycle
  * exists to keep.
  *
  * Both sides' grown layouts are search-identical to a one-shot
  * build over the union (BM25's layout is additive, IVF assignment
  * is a pure function of (vector, frozen model)), so the fused serve
  * after ingest equals the scan-based hybrid — the oracle is the
  * hybrid_topk golden.
  *
  * 100 TB shape: inherited per side (bucket-hashed dynamic-partition
  * appends / cluster-partitioned assign-and-append), the two sides'
  * jobs submitted concurrently by appendDocs, plus periodic
  * contents-invariant compaction of both layouts.
  */
object StreamingHybrid {

  /** One microbatch: the batch's documents to the BM25 side, their
    * id-matched vectors to the IVF side, through the paired
    * exactly-once-per-side append. Exposed for testing; [[ingest]]
    * wires it into foreachBatch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, emb: DataFrame, vecIdCol: String,
                   vecCol: String, model: IvfModel, root: String,
                   runId: String, batchId: Long,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    val vecs = emb.join(
      batch.select(col(idCol).as(vecIdCol)), Seq(vecIdCol))
    Hybrid.appendDocs(spark, root, batch, textCol, idCol, vecs,
      vecIdCol, vecCol, model, runId, batchId)
  }

  /** Stream the documents table (replayed as `nBatches` id-ordered
    * microbatches) into a paired hybrid index at `root` against the
    * pre-trained frozen `model` (the standard deployment: quantizer
    * trained offline on a sample, docs added online), with
    * `dir/embeddings.parquet` supplying each batch's vectors by id.
    * `compactEvery` > 0 compacts both sides after every that-many
    * batches; `compactFilesPerDir` > 0 compacts both when EITHER
    * side's [[graft.core.ParquetCompact.meanFilesPerDir]] file-count
    * alarm fires (compaction is contents-invariant, so compacting
    * the quieter side alongside is harmless).
    */
  def ingest(spark: SparkSession, dir: String, model: IvfModel,
             root: String, nBatches: Int = 4,
             compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Split("doc_id", nBatches), "hybrid") {
      (runKey, stageNonEmpty) =>
        // the hybrid ledger lives at root/oplog (appendDocs' contract).
        // The staleness witnesses are the PAIRED SUB-LAYOUTS, not
        // $root — the ledger lives inside $root, so witnessing the
        // root itself could never fire (stale markers imply the root
        // exists) and a re-ingest after a delete-everything pass
        // would skip every batch
        val runId = BatchLedger.openRunForIndex(spark, s"$root/oplog",
          runKey, dataPaths = Seq(s"$root/bm25", s"$root/ivf"))
        // first contact creates the layouts via append mode, which
        // never persists the quantizer — persist-or-VERIFY it here so
        // the (layout, model) pair is recoverable from the root alone
        // (Hybrid.loadModel) and a re-ingest under a DIFFERENT model
        // fails loudly instead of silently skewing every old vector's
        // probes (Ivf.ensurePair); gated on a non-empty stage so an
        // empty ingest can't conjure a sidecar-only layout dir
        if (stageNonEmpty)
          graft.pipeline.Ivf.ensurePair(spark, model, None, s"$root/ivf")
        (batch, batchId) => {
          val s = batch.sparkSession
          // no outer BatchLedger.once: appendDocs' OWN per-side markers
          // make a one-sided crash replay into a heal instead of a skip
          processBatch(s, batch, "text", "doc_id", emb, "vec_id",
            "embedding", model, root, runId, batchId, knownNonEmpty = true)
          graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
              compactFilesPerDir, s"$root/bm25", s"$root/ivf") {
            Hybrid.compactIndex(s, root)
          }
        }
    }
  }
}
