package graft.streaming

import graft.pipeline.{IvfModel, MultiVector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Late-interaction index maintenance ON INGEST — the multi-vector
  * entry in the streaming × persisted-index matrix: each microbatch
  * of (doc, vec) rows is assigned ONCE under the frozen coarse
  * quantizer and appended to both sub-layouts
  * ([[MultiVector.appendDocs]]). Rows are per-vector and the scorer
  * is max/sum over whatever rows a doc has, so the grown pair serves
  * identically to a one-shot build over the union — batch boundaries
  * may even split one document's vectors across increments without
  * affecting a single score (the gather reads every row of a
  * candidate doc regardless of which increment landed it).
  *
  * Exactly-once per batch via the shared ledger; compaction of the
  * two sub-layouts on the measured file-count alarm.
  */
object StreamingMultiVector {

  /** One microbatch: derive (doc, vec) rows and append to the pair.
    * Exposed for testing.
    */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   model: IvfModel, root: String,
                   vecsPerDoc: Int,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    MultiVector.appendDocs(spark,
      batch.select((col("vec_id") / vecsPerDoc).cast("long").as("doc"),
        col("embedding").as("vec")), model, root)
  }

  /** Stream the embeddings table (replayed as `nBatches` id-ordered
    * microbatches, docs = `vecsPerDoc`-vector groups) into the
    * persisted late-interaction pair at `root`.
    */
  def ingest(spark: SparkSession, dir: String, root: String,
             model: IvfModel, nBatches: Int = 4, vecsPerDoc: Int = 4,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/embeddings.parquet",
        StagedIngest.Split("vec_id", nBatches), "multivec") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, root, runKey,
        dataPath = s"$root/ivf")
      (batch, batchId) => {
        val s = batch.sparkSession
        BatchLedger.once(s, root, runId, batchId) {
          processBatch(s, batch, model, root, vecsPerDoc,
            knownNonEmpty = true)
        }
        // each side's alarm compacts only that side
        Seq(s"$root/ivf" -> "cluster", s"$root/docs" -> "db").foreach {
          case (sub, part) =>
            graft.core.ParquetCompact.afterBatch(s, batchId, 0,
                compactFilesPerDir, sub) {
              graft.core.ParquetCompact.compact(s, sub, Seq(part), Nil)
            }
        }
      }
    }
}
