package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one skeleton every streamed ingest runs: read the source
  * schema, stage the source, open a scratch checkpoint, hand the run
  * key to the ingest's open-time work, replay the stage through
  * `foreachBatch` to completion, and clean up.
  *
  * Replay contract. Structured Streaming re-invokes a `foreachBatch`
  * sink with the SAME batchId when a batch completed but its commit
  * was not acknowledged, and the sink must dedupe by batchId
  * (Armbrust et al., "Structured Streaming", SIGMOD 2018). Every
  * ingest on this skeleton meets that contract through four
  * properties:
  *  - NON-EMPTY BATCHES BY CONSTRUCTION: a split stage holds one file
  *    per non-empty id range and the stream takes one file per
  *    trigger, and a whole-source copy is one batch, so per-batch
  *    bodies pass `knownNonEmpty = true` and skip the emptiness job
  *    (~55 ms of fixed cost per batch) — the public processBatch*
  *    entry points keep the empty-batch check for direct callers;
  *  - LEDGER-ONCE PER BATCH: the open block opens its
  *    [[BatchLedger]] run under the run key it is handed, and the
  *    per-batch function wraps its writes in [[BatchLedger.once]]
  *    (the hybrid's paired append keeps one marker per side instead,
  *    and the segment ingests promote an immutable `seg=<batchId>`
  *    root, which a replay overwrites whole);
  *  - A STABLE RUN KEY: [[Staging.runKey]]'s source identity,
  *    batching and content fingerprint, so a rerun after a crash
  *    reuses the crashed run's ledger namespace and only its missing
  *    batches run;
  *  - CLEANUP ON EVERY EXIT: the stage and checkpoint dirs are
  *    deleted whether the run completes, a batch throws, or the open
  *    block refuses (a mismatched model pair) — the open block runs
  *    inside the cleanup's scope.
  *
  * Close-time work (a baseline save, a closing fold) belongs after
  * [[run]] returns: it then runs only for a completed stream.
  */
private[streaming] object StagedIngest {

  /** How the source is staged. */
  sealed trait Plan

  /** `n` id-ordered microbatches, equal-width ranges of the long
    * `idCol` ([[Staging.stageWithKey]]).
    */
  final case class Split(idCol: String, n: Int) extends Plan

  /** The whole source as ONE batch ([[Staging.copy]]), keyed as one
    * batch of `idCol`: the relational dedup rules of the copy-staged
    * ingests need id-ordered arrival, which a Spark-written
    * directory's part files do not give.
    */
  final case class Whole(idCol: String) extends Plan

  /** Stage `src` per `plan` and stream it to completion. `open`
    * receives the stable run key (`kind` prefixes it and names the
    * checkpoint) and whether the stage holds any batch, and returns
    * the per-batch function.
    */
  def run(spark: SparkSession, src: String, plan: Plan, kind: String)
         (open: (String, Boolean) => (DataFrame, Long) => Unit): Unit = {
    val schema = spark.read.parquet(src).schema
    val (stage, runKey, filesPerTrigger) = plan match {
      case Split(idCol, n) =>
        val (stage, key) = Staging.stageWithKey(spark, src, idCol, n, kind)
        (stage, key, 1)
      case Whole(idCol) =>
        val key = Staging.runKey(spark, src, idCol, 1, kind)
        (Staging.copy(src), key, Int.MaxValue)
    }
    try {
      val ckpt = EventStream.scratchCheckpointDir(spark, s"graft_s${kind}_ckpt_")
      try {
        val perBatch = open(runKey, Staging.nonEmpty(stage))
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger.toString)
          .parquet(stage.toString)
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch(perBatch)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally EventStream.deleteScratch(ckpt)
    } finally EventStream.deleteScratch(stage)
  }
}
