package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** THE two-rename directory-swap protocol, in one place: write the
  * replacement to a temp dir, park the live copy at `<live>__old`,
  * promote, drop the parked copy — and on any later contact, restore
  * a parked copy whose live dir is missing (the crash-between-renames
  * state) BEFORE doing anything else. Three sites used to hand-roll
  * this ([[ParquetCompact.rewrite]], Bm25's stats swap, the drift
  * baseline); a protocol whose safety lives in subtle ordering must
  * not exist in divergent copies — the consolidation argument of
  * openRun and afterBatch, applied to crash safety itself.
  */
object DirSwap {

  def old(live: Path) = new Path(live.toString + "__old")

  /** Restore a parked copy if the live dir is missing — the
    * recovery preamble EVERY reader/writer of a swapped layout must
    * run before trusting `fs.exists(live)`.
    */
  def recover(fs: FileSystem, live: Path): Unit = {
    val o = old(live)
    if (!fs.exists(live) && fs.exists(o))
      require(fs.rename(o, live), s"swap recovery failed: $o -> $live")
  }

  /** [[recover]] by path string — the one-liner the serving reads and
    * append entry points run before touching a swapped layout. A
    * crash between a swap's park and promote leaves the layout parked
    * at `__old` with no live dir; a reader that skips this preamble
    * fails loudly (or, worse, treats the index as empty / appends a
    * fresh increment-only dir that recovery can then never heal)
    * until an unrelated compaction happens to run. Cost: one or two
    * fs.exists calls.
    */
  def recoverAt(spark: org.apache.spark.sql.SparkSession,
                path: String): Unit = {
    val p = new Path(path)
    recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Park-promote `tmp` over `live` (which need not exist — a first
    * write has nothing to park). A crash at any point leaves a
    * complete copy either live or parked, which [[recover]] heals.
    */
  def promote(fs: FileSystem, live: Path, tmp: Path): Unit = {
    val o = old(live)
    if (fs.exists(o)) fs.delete(o, true) // stale leftover post-promote
    if (fs.exists(live))
      require(fs.rename(live, o), s"swap park failed: $live")
    require(fs.rename(tmp, live), s"swap promote failed: $live")
    fs.delete(o, true)
  }
}
