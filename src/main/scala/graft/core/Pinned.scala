package graft.core

import org.apache.spark.sql.DataFrame

/** Storage hygiene for `localCheckpoint(true)`-pinned frames.
  *
  * `Dataset.unpersist` only clears CacheManager entries; the block
  * storage behind a local checkpoint lives until session end unless the
  * underlying RDD is unpersisted explicitly. Iterative operators that
  * re-pin every round (label propagation, append-log compaction) must
  * release superseded rounds or they accumulate dozens of dead block
  * sets — measured as a multi-second tax on unrelated queries sharing
  * the JVM (BENCH_r02: dedup_exact at 21 s purely from the preceding
  * query's leaked blocks).
  */
object Pinned {

  /** Unpersist every checkpointed RDD leaf in `df`'s plan. Safe once a
    * successor frame has been eagerly checkpointed (the successor's
    * blocks are independent of its parents').
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Eagerly pin `df` with its partitions sized by bytes: the size of
    * `df`'s leaves divided by the session's
    * `spark.sql.files.maxPartitionBytes`, at least 1. A frame built by
    * appending small frames has one partition per append; pinning it
    * as-is keeps every one of them and each later scan pays a task
    * per append. `coalesce` merges partitions without a shuffle and
    * never splits one, so an unknown (maximal) size keeps today's
    * partitions.
    *
    * A pinned leaf counts its stored bytes, every other leaf the
    * optimizer's estimate; filters above them are ignored, so the
    * size is an upper bound. The optimizer's estimate of the whole
    * plan is not used: a pinned join result carries the join's
    * estimate, which multiplies its sides, so a cache built from
    * memoized frames would estimate ~1.7× larger per call.
    */
  def compact(df: DataFrame): DataFrame = {
    val stored = df.sparkSession.sparkContext.getRDDStorageInfo
      .map(i => i.id -> BigInt(i.memSize + i.diskSize)).toMap
    val bytes = df.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        stored.getOrElse(l.rdd.id, l.stats.sizeInBytes)
      case l => l.stats.sizeInBytes
    }.sum
    val per = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val n = ((bytes + per - 1) / per).max(1).min(Int.MaxValue).toInt
    df.coalesce(n).localCheckpoint(true)
  }
}
