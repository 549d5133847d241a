package graft.core

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Crash-safe LSM-style compaction of a partitioned parquet layout,
  * shared by the incremental indexes
  * ([[graft.streaming.StreamingDedup.compactIndex]] — (band, kb)
  * dirs, key-sorted pages — and [[graft.pipeline.Ivf.compactIndex]]
  * — cluster dirs): per-batch/per-increment appends leave one small
  * file set per write in each partition dir, and small files are
  * single parquet pages, so scan/probe cost grows with FILE COUNT
  * rather than data size. Compaction rewrites each partition dir into
  * one file (repartition on the partition columns sends every row of
  * a dir to one task), restoring the big-sorted-file shape. Contents
  * are invariant — same rows, one layout — so query results never
  * change.
  *
  * Crash safety is a two-rename swap, never a delete-then-rename
  * window: write the compacted copy to `__compacting`, park the live
  * layout at `__old`, promote, then delete the parked copy. A crash
  * at ANY point leaves a complete layout — either still live, or at
  * `__old`, which the next run restores before doing anything else.
  */
object ParquetCompact {
  /** Compact `path` in place. `partitionCols` must be the layout's
    * `partitionBy` columns; `sortCols` (appended after the partition
    * columns in the within-partition sort) preserve any key order the
    * readers' page pruning depends on — the explicit sort must lead
    * with the partition columns or the dynamic-partition writer
    * replaces it with its own partition-only sort (measured in r7:
    * zero page pruning after a silent re-sort). `options` are passed
    * to the writer (e.g. a parquet page row limit).
    */
  def compact(spark: SparkSession, path: String,
              partitionCols: Seq[String], sortCols: Seq[String] = Nil,
              options: Map[String, String] = Map.empty): Unit =
    rewrite(spark, path, partitionCols, sortCols, options, identity)

  /** [[compact]] with a row-level rewrite applied inside the same
    * crash-safe two-rename swap — the deletion path for the
    * persisted indexes (filter out the removed docs' rows while
    * restoring the compacted one-file-per-dir sorted-page shape).
    * `transform` sees the full live layout and returns what survives;
    * the swap semantics are identical to compact's, so a crash at any
    * point leaves a complete (pre-delete or post-delete) layout.
    *
    * A transform that filters out EVERY row deletes the layout
    * instead of promoting a zero-row dynamic-partition dataset (only
    * `_SUCCESS`, which poisons later schema inference) — a missing
    * dir IS an empty layout, the index family's existing convention.
    *
    * `pinResult = true` eagerly `localCheckpoint`s the transformed
    * frame BEFORE the write and returns it, so a caller that derives
    * follow-up tables from the survivors (Bm25.deleteDocs' df/stats
    * recompute) rides the already-materialized frame instead of a
    * read-back scan of the promoted layout. The caller owns the pin:
    * `Pinned.release` it when done. Returns None when the layout
    * didn't exist or the result was empty-and-deleted (pinResult
    * pins are released internally on the empty path), or when
    * pinResult is false.
    *
    * `beforeSwap` runs on the compacted copy AFTER the parquet write
    * and BEFORE the promote — the hook for metadata that must swap
    * ATOMICALLY with the layout it describes (Ivf.recluster writes
    * the retrained quantizer to `_model` inside the copy, so layout
    * and model can never be observed mismatched). Underscore-prefixed
    * top-level subdirectories of the live layout (hidden from Spark's
    * file index, e.g. `_model`) are carried over into the copy when
    * the hook didn't already write them, so plain compaction and
    * deletion preserve the metadata.
    */
  def rewrite(spark: SparkSession, path: String,
              partitionCols: Seq[String], sortCols: Seq[String] = Nil,
              options: Map[String, String] = Map.empty,
              transform: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.DataFrame,
              pinResult: Boolean = false,
              beforeSwap: org.apache.hadoop.fs.Path => Unit = _ => (),
              dropHidden: Set[String] = Set.empty):
      Option[org.apache.spark.sql.DataFrame] = {
    require(partitionCols.nonEmpty, "compact needs the partition columns")
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hc)
    // a crashed earlier compaction may have left the live layout
    // parked at __old (crash between the two renames below): restore
    // it first so the data is never lost and this run starts clean
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    DirSwap.recover(fs, p)
    if (!fs.exists(p)) return None
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val keyCols = (partitionCols ++ sortCols).map(col)
    val survived0 = transform(spark.read.parquet(path))
    val survived =
      if (pinResult) survived0.localCheckpoint(true) else survived0
    // EXPLICIT partition count: a bare repartition(cols) lets AQE
    // coalesce the (usually small-byte) shuffle down to ONE task,
    // which then opens/closes every partition dir's file
    // SEQUENTIALLY — the write cost is per-FILE fixed cost that
    // AQE's byte-based sizing cannot see. Pinning the count at the
    // session's shuffle parallelism spreads the dirs over the
    // cluster; the one-file-per-dir shape is unchanged (all rows of
    // a dir hash to one partition either way).
    val n = math.max(1, spark.sessionState.conf.numShufflePartitions)
    survived
      .repartition(n, partitionCols.map(col): _*)
      .sortWithinPartitions(keyCols: _*)
      .write.mode(SaveMode.Overwrite)
      .options(options)
      .partitionBy(partitionCols: _*).parquet(tmp.toString)
    // empty-transform guard, read off the WRITTEN output (an FS
    // listing — no second computation of the transform): a zero-row
    // dynamic-partition write produces no partition dirs, only
    // _SUCCESS, and promoting that poisons later schema inference
    if (!hasDataFile(fs, tmp)) {
      if (pinResult) Pinned.release(survived)
      fs.delete(tmp, true)
      // __old FIRST, live SECOND: if a stale parked copy survives a
      // crash between these deletes, the next contact's recover would
      // resurrect it as the live layout — undoing a delete-everything
      // pass (resurrecting rows a right-to-be-forgotten delete
      // removed). Deleting the parked copy first leaves no state
      // recovery could restore pre-delete data from.
      if (fs.exists(old)) fs.delete(old, true)
      fs.delete(p, true)
      return None
    }
    beforeSwap(tmp)
    // carry hidden metadata dirs (e.g. _model) into the copy unless
    // the hook already wrote a fresh version — the swap must never
    // silently shed the layout's metadata. COPY, not rename: a crash
    // after a rename but before the park would leave the live layout
    // stripped of its metadata with no recovery path
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      // _temporary is committer debris from a crashed write, not
      // metadata — carrying it would preserve garbage forever.
      // `dropHidden` names metadata the TRANSFORM retires (a version
      // fold's `_latest`): carrying it would re-apply a mask whose
      // semantics the rewrite just invalidated — excluding it here
      // makes sidecar retirement atomic with the promote, with no
      // crash window between the two
      if (st.isDirectory && n.startsWith("_") && n != "_temporary" &&
          !dropHidden.contains(n) &&
          !fs.exists(new org.apache.hadoop.fs.Path(tmp, n)))
        require(org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath,
          fs, new org.apache.hadoop.fs.Path(tmp, n), false, hc),
          s"metadata carry-over failed: $n")
    }
    DirSwap.promote(fs, p, tmp)
    if (pinResult) Some(survived) else None
  }

  /** Mean parquet data files per partition directory — the FILE-COUNT
    * alarm that triggers [[compact]], symmetric to the list-balance
    * alarm that triggers a recluster: every per-batch append leaves
    * one file set per touched dir, and probe cost grows with file
    * count (each small file is its own footer + page set), so a
    * streaming ingest watches this number instead of compacting on a
    * blind cadence. Pure filesystem listing — no footer or data reads
    * — so it costs what a directory listing costs, even at 100 TB.
    * Returns 0 for a missing/empty layout.
    */
  def meanFilesPerDir(spark: SparkSession, path: String): Double = {
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hc)
    if (!fs.exists(p)) return 0.0
    // leaf dirs = dirs holding parquet files directly (handles both
    // single-level cluster=/bucket= and nested band=/kb= layouts);
    // underscore/dot-prefixed dirs are hidden metadata (_model,
    // _temporary) invisible to readers — don't count their files as
    // probe debris
    var dirs = 0L
    var files = 0L
    def walk(dir: org.apache.hadoop.fs.Path): Unit = {
      val st = fs.listStatus(dir)
      val here = st.count(f => !f.isDirectory &&
        f.getPath.getName.endsWith(".parquet"))
      if (here > 0) { dirs += 1; files += here }
      st.foreach { f =>
        val n = f.getPath.getName
        if (f.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          walk(f.getPath)
      }
    }
    walk(p)
    if (dirs == 0) 0.0 else files.toDouble / dirs
  }

  /** The per-batch compaction rule shared by the streamed ingests:
    * run `compact` after every `every`-th batch (0 = off; never after
    * batch 0), and again when any of `paths` trips the file-count
    * alarm — measured append debris above `filesPerDir` files per
    * leaf dir (0 = off). A multi-path alarm compacts ONCE however
    * many paths fire (a paired layout compacts both sides together;
    * compaction is contents-invariant, so the quieter side's pass is
    * harmless). One helper so the ingests can't drift apart on the
    * rule.
    */
  def afterBatch(spark: SparkSession, batchId: Long, every: Int,
                 filesPerDir: Double, paths: String*)
                (compact: => Unit): Unit = {
    if (every > 0 && batchId > 0 && batchId % every == 0) compact
    if (filesPerDir > 0 &&
        paths.exists(p => meanFilesPerDir(spark, p) > filesPerDir))
      compact
  }

  /** Any actual parquet data file under `dir` (recursive)? A zero-row
    * dynamic-partition write leaves only `_SUCCESS`.
    */
  private def hasDataFile(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(dir, true)
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    false
  }
}
