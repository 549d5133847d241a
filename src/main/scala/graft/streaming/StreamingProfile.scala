package graft.streaming

import graft.pipeline.Validate
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus profiling ON INGEST — the data-card maintained
  * incrementally: each microbatch appends its fused
  * [[Validate.profileAdditive]] partial (a handful of rows) to a
  * persisted stats table, and readers MERGE partials by each
  * metric's combiner (n_nulls / len_sum by SUM, *_min by MIN, *_max
  * by MAX) — the Bm25 additive-stats pattern applied to profiling,
  * so the merged card over any number of batches equals the one-shot
  * batch profile. n_distinct is deliberately absent: it is the one
  * profile metric that is NOT mergeable without per-value state.
  *
  * 100 TB: per batch one fused single-row aggregation over one scan
  * of the BATCH; the stats table grows by ~20 rows per batch and the
  * merge reads only those rows — nothing rescans history.
  */
object StreamingProfile {

  /** One microbatch: append its additive partial. Exposed for
    * testing.
    */
  def processBatch(batch: DataFrame, cols: Seq[String],
                   statsPath: String,
                   knownNonEmpty: Boolean = false): Unit = {
    if (!knownNonEmpty && batch.isEmpty) return
    Validate.profileAdditive(batch, cols)
      .write.mode(SaveMode.Append).parquet(statsPath)
  }

  /** The merged data-card over everything appended so far. */
  def summary(spark: SparkSession, statsPath: String): DataFrame =
    spark.read.parquet(statsPath)
      .groupBy(col("col_name"), col("metric"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
        sum(col("value")).as("sm"))
      .select(col("col_name"), col("metric"),
        when(col("metric").endsWith("min"), col("mn"))
          .when(col("metric").endsWith("max"), col("mx"))
          .otherwise(col("sm")).cast("long").as("value"))

  /** Stream the documents table (replayed as `nBatches` id-ordered
    * microbatches) through the incremental profiler; returns the
    * merged card.
    */
  def ingest(spark: SparkSession, dir: String, cols: Seq[String],
             statsPath: String, nBatches: Int = 3): DataFrame = {
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Split("doc_id", nBatches), "prof") { (runKey, _) =>
      val runId = BatchLedger.openRun(spark, statsPath, runKey)
      (batch, batchId) =>
        BatchLedger.once(batch.sparkSession, statsPath, runId, batchId) {
          processBatch(batch, cols, statsPath, knownNonEmpty = true)
        }
    }
    summary(spark, statsPath)
  }
}
