package graft.streaming

import graft.pipeline.Ivf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** RIGHT-TO-BE-FORGOTTEN ON INGEST — deletion REQUESTS as a stream:
  * erasure demands (GDPR Art. 17 tickets, takedown queues) arrive
  * continuously in production, not as batch maintenance windows, and
  * each must take effect at SERVING latency without paying an
  * O(index) rewrite per request. Every microbatch of ids is
  * tombstoned ([[Ivf.tombstoneVectors]] — an O(|batch|) sidecar
  * append that every [[Ivf.readIndexServing]] read anti-joins
  * immediately), and the physical rewrite is amortized: after every
  * `foldEvery` batches the accumulated set folds into one
  * [[Ivf.foldTombstones]] pass — the LSM delete model, completing
  * the streaming × lifecycle matrix's last cell (ingest, search,
  * compaction, recluster, and now erasure all run against the live
  * index).
  *
  * Exactly-once per batch via the family's ledger markers; a
  * re-delivered batch re-appending its ids would be harmless anyway
  * (the serving anti-join and the fold both distinct the set — a
  * tombstone is idempotent), which is the property that makes
  * mid-fold crashes safe too.
  */
object StreamingForget {

  /** One microbatch of erasure requests: tombstone the ids. Exposed
    * for testing.
    */
  def processBatch(batch: DataFrame, idCol: String,
                   indexPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Ivf.tombstoneVectors(batch.sparkSession, indexPath,
      batch.select(idCol), idCol)
  }

  /** Stream the erasure requests at `srcParquet` (one id per row,
    * replayed as `nBatches` id-ordered microbatches) against the
    * persisted index at `indexPath`. `foldEvery` > 0 folds the
    * tombstone set into a physical rewrite after every that-many
    * batches; the run always folds at close, so a completed ingest
    * leaves no mask — the layout IS the survivors.
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             indexPath: String, nBatches: Int = 4,
             foldEvery: Int = 0): Unit = {
    StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "forget") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      var sinceFold = 0
      (batch, batchId) => {
        BatchLedger.once(batch.sparkSession, indexPath, runId, batchId) {
          processBatch(batch, idCol, indexPath, knownNonEmpty = true)
        }
        sinceFold += 1
        if (foldEvery > 0 && sinceFold >= foldEvery) {
          // fold is idempotent and a pure function of the sidecar —
          // safe to re-run on a replayed batch, so no marker needed
          Ivf.foldTombstones(batch.sparkSession, indexPath, idCol)
          sinceFold = 0
        }
      }
    }
    // close the run with an empty mask: erasure is complete physical
    // removal once the ingest returns, not a promise deferred to an
    // unrelated maintenance pass
    Ivf.foldTombstones(spark, indexPath, idCol)
  }
}
