package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming frequent-terms maintenance — the
  * [[graft.functions.MisraGries]] aggregate running UNCHANGED inside
  * a streaming Complete-mode aggregation: the state store checkpoints
  * exactly the serialized partial buffer between micro-batches
  * (serialize/deserialize is the TypedImperativeAggregate contract),
  * so the corpus-wide summary is maintained incrementally as
  * documents arrive — the "trending terms" shape, with the same
  * bounded O(capacity) state and N/(m+1) containment guarantee as the
  * batch pass, regardless of how many batches the stream has seen.
  *
  * Exactness contract mirrors [[graft.pipeline.HeavyHitters]]: the
  * emitted weights are MG lower bounds in general and EXACT counts
  * whenever the distinct-term count stays ≤ capacity; for an exact
  * top-k over an unbounded vocabulary, follow with the batch
  * re-count pass against the accumulated corpus.
  */
object StreamingTopTerms {

  /** Run the summary over a staged static copy of
    * `dir/documents.parquet` to completion: (term, weight) rows.
    */
  def summarize(spark: SparkSession, dir: String,
                capacity: Int): DataFrame = {
    val src = s"$dir/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val stage = Staging.copy(src)
    val table = try {
      val stream = spark.readStream.schema(schema).parquet(stage.toString)
      val agg = stream
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("term"))
        .agg(graft.functions.MisraGries.misraGries(col("term"), capacity)
          .as("s"))
      EventStream.runToMemory(spark, agg,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    } finally EventStream.deleteScratch(stage)
    table.select(explode(col("s")).as("e"))
      .select(col("e.term").as("term"), col("e.weight").as("cnt"))
  }
}
