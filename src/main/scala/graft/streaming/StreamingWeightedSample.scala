package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming weighted sampling without replacement — the
  * [[graft.pipeline.Sample]] exponential race maintained
  * incrementally: the race key is a pure per-row function of
  * (id, weight, seed), so the k-smallest-keys cut over everything
  * seen so far is just the bounded-heap
  * [[graft.functions.TopKByScore]] aggregate running UNCHANGED inside
  * a streaming Complete-mode aggregation (the state store checkpoints
  * the serialized O(k) heap between micro-batches — the same
  * TypedImperativeAggregate contract [[StreamingTopTerms]] rides).
  * Heap merge is associative and order-free, so after any number of
  * batches the sample is IDENTICAL to the one-shot batch sample over
  * the accumulated corpus — reservoir semantics with none of the
  * sequential-reservoir ordering contract.
  */
object StreamingWeightedSample {

  /** Run the race over a staged static copy of
    * `dir/documents.parquet` to completion: (doc, key_fp, rk) — the
    * k winners, rk 1-based by (key asc, doc asc).
    */
  def sample(spark: SparkSession, dir: String, k: Int,
             seed: Long): DataFrame = {
    val src = s"$dir/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val stage = Staging.copy(src)
    val table = try {
      // one file per trigger: a multi-file stage genuinely exercises
      // the between-batch state checkpoint, not one big batch
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage.toString)
      val keyed = stream.select(col("doc_id").as("doc"),
          graft.pipeline.Sample.raceKey(col("doc_id"),
            graft.pipeline.TextAnalysis.tokenCount(col("text")), seed)
            .as("key_fp"))
      val agg = keyed.agg(graft.functions.TopKByScore.topKBy(
        -col("key_fp").cast(DoubleType), col("doc"), k).as("top"))
      EventStream.runToMemory(spark, agg,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    } finally EventStream.deleteScratch(stage)
    table.select(posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("hit.id").as("doc"),
        (-col("hit.score")).cast(LongType).as("key_fp"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
  }
}
