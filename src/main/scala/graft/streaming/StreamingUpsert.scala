package graft.streaming

import graft.pipeline.{Ivf, IvfModel}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MODIFIED-DOCUMENT ingest — upserts as a stream: re-embedded
  * vectors arrive in microbatches and must serve their NEW version
  * immediately, without paying [[Ivf.upsertVectors]]' O(index)
  * rewrite per batch. Each batch appends under the frozen quantizer
  * with `seq = batchId + 1` and merges the `_latest` sidecar
  * ([[Ivf.upsertVersioned]] — O(|batch| + |sidecar|)); every
  * [[Ivf.readIndexLatest]] serve masks superseded versions globally
  * (the Lucene live-docs model — a re-embedded vector usually lands
  * in a DIFFERENT cluster, so candidate-local latest-wins would
  * serve stale copies from unprobed-winner cells). The version
  * history folds away at run close ([[Ivf.foldVersions]]), leaving
  * the layout physically latest-only.
  *
  * Exactly-once per batch via the family's ledger markers; a
  * replayed batch would be harmless anyway (same seq appends dedup
  * in the fold's per-id window and in the serve's candidate dedup).
  */
object StreamingUpsert {

  /** One microbatch of re-embedded vectors. Exposed for testing. */
  def processBatch(batch: DataFrame, vecCol: String, idCol: String,
                   model: IvfModel, indexPath: String, seq: Long,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Ivf.upsertVersioned(batch, vecCol, idCol, model, indexPath, seq)
  }

  /** Stream the corrected vectors at `srcParquet` (replayed as
    * `nBatches` id-ordered microbatches) into the persisted index at
    * `indexPath` against the frozen `model`, then fold the version
    * history — the post-ingest layout is physically latest-only, so
    * the one-shot golden over the corrected corpus oracles the whole
    * path.
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             vecCol: String, model: IvfModel, indexPath: String,
             nBatches: Int = 4): Unit = {
    StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "upsert") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      // persist-or-verify the quantizer against the layout's own
      // `_model` (the family's silent-probe-skew guard): corrections
      // assigned under a different model than the layout's would land
      // in the wrong cells silently
      Ivf.ensurePair(spark, model, None, indexPath)
      // fold-at-open: a PREVIOUS run that crashed before its
      // close-of-run fold (and was never re-run) left winners at high
      // seqs — this run's seqs restart at 1 and would LOSE to that
      // dead history (mergeLatest keeps the max), permanently masking
      // and then fold-discarding the newer corrections. Folding any
      // leftover history first re-baselines it to seq 0; when the
      // previous run closed cleanly this costs one fs.exists plus a
      // max(seq) column scan (foldVersions' no-history short-circuit),
      // never a rewrite.
      Ivf.foldVersions(spark, indexPath, idCol)
      (batch, batchId) =>
        BatchLedger.once(batch.sparkSession, indexPath, runId, batchId) {
          processBatch(batch, vecCol, idCol, model, indexPath, batchId + 1,
            knownNonEmpty = true)
        }
    }
    Ivf.foldVersions(spark, indexPath, idCol)
  }
}
