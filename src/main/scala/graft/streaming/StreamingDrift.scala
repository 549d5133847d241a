package graft.streaming

import org.apache.spark.sql.{SaveMode, SparkSession}

/** DISTRIBUTION-SHIFT MONITOR for training-data ingest: every
  * microbatch's categorical profile (language, source, …) is
  * compared against the ACCUMULATED corpus so far, and a
  * total-variation distance past the threshold raises an alert row —
  * the "new data source changed the mix" alarm a 100 TB pipeline
  * wants at the ingest boundary, not in a post-hoc audit. This is
  * the distribution-level sibling of the structural alarms
  * ([[graft.pipeline.Ivf.imbalance]] for the vector index,
  * [[graft.core.ParquetCompact.meanFilesPerDir]] for append debris).
  *
  * TV(batch, prefix) = ½ Σ_v |c_b(v)/n_b − c_p(v)/n_p| over the
  * categorical's values — chosen over KL exactly because it is
  * ENGINE-EXACT: only +, −, ×, ÷ and |·| of IEEE doubles in a fixed
  * (value-sorted) sequential fold, so the DuckDB oracle replays the
  * number bit-for-bit (ln is not correctly-rounded across libms; KL
  * would un-oracle the monitor). The first batch has no baseline:
  * tv = 0, no alert. Empty batches likewise.
  *
  * 100 TB shape: one map-side-combinable groupBy(dim).count() per
  * batch; the per-batch fold runs on the driver over the
  * categorical's value set (LOW-CARDINALITY BY CONTRACT — languages,
  * sources, licenses; not tokens). State is one count map, seeded
  * from the baseline persisted at the sibling `<outPath>__baseline`
  * (cross-run continuity — see [[DriftState]]) and re-persisted at
  * run close.
  */
object StreamingDrift {

  /** Monitor the table at `srcParquet` (replayed as `nBatches`
    * id-ordered microbatches) for shift in `dimCol`'s distribution,
    * appending one row per batch to `outPath`:
    * (run_id, batch_id, n_batch, n_prev, tv, alert) — run_id
    * disambiguates rows across runs into the same output (batch ids
    * restart at 0 per run; the baseline carries across).
    */
  def ingest(spark: SparkSession, srcParquet: String, idCol: String,
             dimCol: String, outPath: String, nBatches: Int = 4,
             alertTv: Double = 0.3): Unit = {
    // accumulated counts of everything BEFORE the current batch —
    // low-cardinality by contract, driver-held for the run, seeded
    // from the persisted cross-run baseline (a second run compares
    // against everything earlier runs observed) and re-persisted at
    // successful run close (a crashed run leaves the previous
    // baseline intact)
    val acc = scala.collection.mutable.Map.empty[String, Long]
    StagedIngest.run(spark, srcParquet,
        StagedIngest.Split(idCol, nBatches), "drift") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, outPath, runKey)
      acc ++= DriftState.load(spark, outPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // replay-guarded: a re-delivered batch neither re-alerts nor
        // double-counts into the baseline (both live in this body)
        BatchLedger.once(s, outPath, runId, batchId) {
          val counts = DriftState.batchCounts(batch, dimCol)
          val nb = counts.values.sum
          val np = acc.values.sum
          // the ONE engine-exact TV fold (shared with
          // StreamingQuarantine and replayed by the oracle)
          val tv = DriftState.tv(counts, acc)
          import s.implicits._
          Seq((runId, batchId, nb, np, tv, tv > alertTv))
            .toDF("run_id", "batch_id", "n_batch", "n_prev", "tv", "alert")
            .coalesce(1).write.mode(SaveMode.Append).parquet(outPath)
          counts.foreach { case (v, c) =>
            acc.update(v, acc.getOrElse(v, 0L) + c)
          }
        }
      }
    }
    DriftState.save(spark, outPath, acc)
  }
}
