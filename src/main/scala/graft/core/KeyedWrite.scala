package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Hash-distribute rows by their partition-dir keys, with an EXPLICIT
  * partition count, before a dynamic `partitionBy` write — the one
  * place a write's partition count is decided.
  *
  * Why: a dynamic-partition write pays a per-FILE fixed cost (writer
  * init, footer flush, commit rename) for every (task × touched dir)
  * pair. Without a keyed shuffle the write inherits the upstream
  * partitioning, so EVERY input task opens a file in EVERY dir it has
  * rows for — tasks × dirs files (a small-files explosion at scale,
  * and dirs × ~30-45 ms of sequential opens per task at bench scale).
  * A bare `repartition(cols)` is not enough: AQE sizes the shuffle by
  * BYTES and coalesces a small layout to ONE task, which then opens
  * every dir's file sequentially — the per-file fixed cost is
  * byte-blind. An explicit count pins the spread at the session's
  * configured shuffle parallelism (scale-adaptive via conf, not a
  * local constant): every dir's rows hash to exactly one writer task,
  * so each pass writes one file per dir.
  *
  * `buckets` is a bucketed writer's dir count (`Bm25.IndexBuckets` et
  * al.): a count above it only adds empty tasks, so the spread is
  * `min(buckets, shuffle partitions)`. One task per bucket whatever
  * the session's parallelism would pay a task launch and a writer
  * open per small file — 64 tasks for a 250-doc append on a 4-core
  * host; at shuffle partitions ≥ buckets it is exactly that plan.
  *
  * Contents-invariant: every row of a dir hashes to the same shuffle
  * partition either way, so the one-file-per-dir shape and the row
  * SET per dir are unchanged; only which task writes a dir moves.
  */
object KeyedWrite {
  def spread(df: DataFrame, keys: Seq[String],
             buckets: Int = Int.MaxValue): DataFrame = {
    val n = math.max(1, math.min(buckets,
      df.sparkSession.sessionState.conf.numShufflePartitions))
    df.repartition(n, keys.map(col): _*)
  }
}
