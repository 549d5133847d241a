package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** THE tombstone-sidecar protocol of the LSM delete tiers (Ivf, Bm25,
  * Sparse, MultiVector; Hybrid through its two sides) — the Lucene
  * live-docs model: an O(|ids|) sidecar append masks ids from every
  * serve immediately, and the physical bytes leave at the next fold.
  * Five parts, one site each: where the sidecar lives ([[path]]), how
  * ids are added ([[add]]), how a serve masks them ([[mask]]), how a
  * fold retires them ([[fold]]) and how an upsert revives them
  * ([[revive]]) — plus the tombstone-masked doc listings ([[page]],
  * [[count]]) the doc-keyed tiers' scroll and count APIs share.
  *
  * A tier supplies only what is its own: its layout recovery
  * preamble (run BEFORE any call here), its data witness
  * ([[hasData]] over its partition-dir prefix), its id column and
  * its physical delete. Every entry point here heals a parked
  * sidecar first ([[DirSwap.recover]]): a revive swap can park it
  * between its two renames, and an exists check that skipped the
  * heal would serve UNMASKED.
  */
object Tombstones {

  /** The sidecar's directory name. Hidden (underscore): Spark's file
    * index never lists it, and the compaction swaps carry it over like
    * `_model` — tombstones must survive a PLAIN compaction; only a
    * fold sheds it (`ParquetCompact.rewrite`'s `dropHidden`).
    */
  val Name = "_tombstones"

  /** Canonical location of a layout's tombstone set: [[Name]] under
    * the layout root. For the multi-directory layouts (Bm25's
    * postings/df/stats, MultiVector's ivf/docs) that is the root the
    * sub-layouts share — the mask governs all of them and stays out of
    * their per-directory swaps.
    */
  def path(root: String): String = s"$root/$Name"

  private def sidecar(spark: SparkSession, root: String): (FileSystem, Path) = {
    val tp = new Path(path(root))
    (tp.getFileSystem(spark.sparkContext.hadoopConfiguration), tp)
  }

  /** The data witness: does `dir` hold a child directory named
    * `prefix…` (a tier's `cluster=`/`dbk=`/`db=` partition dirs, or
    * Bm25's `stats`), as opposed to being absent or sidecars-only
    * after a delete-everything pass? A data-less layout holds nothing
    * to mask or fold, and schema inference over it would die
    * (UNABLE_TO_INFER_SCHEMA, the empty-layout landmine). Run after
    * the tier's recovery preamble.
    */
  def hasData(spark: SparkSession, dir: String, prefix: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(f =>
      f.isDirectory && f.getPath.getName.startsWith(prefix))
  }

  /** Does the layout at `root` carry a live sidecar (healing a parked
    * one first)? The multi-segment serves' fast-path eligibility: a
    * tombstone-free segment's mask is a no-op.
    */
  def present(spark: SparkSession, root: String): Boolean = {
    val (fs, tp) = sidecar(spark, root)
    DirSwap.recover(fs, tp)
    fs.exists(tp)
  }

  /** The live tombstoned ids, DISTINCT, as one `idCol` column; None
    * when the layout carries no sidecar.
    */
  def masked(spark: SparkSession, root: String,
             idCol: String): Option[DataFrame] =
    if (!present(spark, root)) None else Some(read(spark, root, idCol))

  /** The one read of a sidecar (its schema inference is a Spark job,
    * so callers read only after every cheaper FS check).
    */
  private def read(spark: SparkSession, root: String,
                   idCol: String): DataFrame =
    spark.read.parquet(path(root)).select(col(idCol)).distinct()

  /** TOMBSTONE — append `ids` (first column, whatever its name) to the
    * sidecar as `idCol`. On a data-less layout (`hasData` false) it
    * appends nothing — that would conjure a sidecar-only directory
    * every later read dies on — and heals any stale sidecar instead,
    * so the directory reads as the empty index.
    */
  def add(spark: SparkSession, root: String, ids: DataFrame, idCol: String,
          hasData: Boolean): Unit = {
    val (fs, tp) = sidecar(spark, root)
    DirSwap.recover(fs, tp)
    if (!hasData) fs.delete(tp, true)
    else ids.select(col(ids.columns.head).as(idCol))
      .write.mode(SaveMode.Append).parquet(tp.toString)
  }

  /** The serving mask: `frame` minus the layout's tombstoned ids.
    * Plan shape: a left-anti join above the (pruned, pushed-down)
    * scan — deliberately NOT broadcast-hinted: under the fold cadence
    * the set is tiny and AQE broadcasts it anyway, while a neglected
    * fold that let the mask grow degrades to a shuffle join instead
    * of an executor OOM (the Validate SubsetOf un-hinting argument).
    */
  def mask(spark: SparkSession, frame: DataFrame, root: String,
           idCol: String): DataFrame =
    masked(spark, root, idCol)
      .fold(frame)(t => frame.join(t, Seq(idCol), "left_anti"))

  /** FOLD — retire the tombstone set: hand the distinct ids (unpinned;
    * the tier's delete pins what it reads more than once) to the
    * tier's physical `delete`, then drop the sidecar. No sidecar is a
    * no-op; on a data-less layout (`hasData`, evaluated only when a
    * sidecar exists) the masked ids are already physically gone, so
    * the sidecar drops without a rewrite. Idempotent at every crash
    * point: a crash after the delete but before the sidecar drop
    * leaves already-deleted ids whose anti-join masks nothing.
    */
  def fold(spark: SparkSession, root: String, idCol: String,
           hasData: => Boolean)(delete: DataFrame => Unit): Unit =
    if (present(spark, root)) {
      if (hasData) delete(read(spark, root, idCol))
      val (fs, tp) = sidecar(spark, root)
      fs.delete(tp, true)
    }

  /** REVIVE — the missing half of upsert semantics: `tombstone(X)`
    * then `upsert(X)` must serve X's fresh copy (an explicit re-add
    * supersedes a pending delete), but the mask is id-keyed — it would
    * hide the new copy too, and the next fold would physically ERASE
    * it. Every upsert entry point therefore rewrites the sidecar minus
    * its batch's `ids` (first column, compared against `idCol`).
    *
    * Crash-safe via [[DirSwap]]: the surviving mask is materialized
    * BEFORE the swap (the rewrite reads the files the swap moves),
    * then park-promoted — a crash anywhere leaves a complete mask
    * either live or parked, which every entry point here heals. An
    * emptied mask deletes the sidecar outright (missing = no mask).
    */
  def revive(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String): Unit =
    masked(spark, root, idCol).foreach { live =>
      val (fs, tp) = sidecar(spark, root)
      val survivors = live
        .join(ids.select(col(ids.columns.head).as(idCol)),
          Seq(idCol), "left_anti")
        .localCheckpoint(true)
      try {
        if (survivors.isEmpty) fs.delete(tp, true)
        else {
          val tmp = new Path(tp.toString + "__reviving")
          fs.delete(tmp, true) // a prior crashed revive's leftovers
          // one file: the mask is tiny by the fold-cadence contract and
          // every serving read re-reads it — a shuffle-partition spray
          // of near-empty parts would tax each of them
          survivors.coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(tmp.toString)
          DirSwap.promote(fs, tp, tmp)
        }
      } finally Pinned.release(survivors)
    }

  /** One KEYSET page of a doc-keyed tier's live docs: DISTINCT `doc`
    * ids of the parquet layout at `docsPath`, strictly after `afterId`,
    * under `filter`, tombstone-masked by `root`'s sidecar, id-ordered
    * and cut at `limit`. The keyset predicate and filter push into the
    * scan, the distinct aggregates map-side and the cut is
    * TakeOrderedAndProject — O(page) rows cross the driver at any
    * depth. A missing or data-less layout (`hasData` false) is an
    * empty page.
    */
  def page(spark: SparkSession, root: String, docsPath: String,
           hasData: Boolean, afterId: Option[Long], limit: Int,
           filter: Option[Column]): DataFrame = {
    require(limit > 0, "scroll limit must be positive")
    if (!hasData) {
      import spark.implicits._
      Seq.empty[Long].toDF("doc")
    } else liveDocs(spark, root, docsPath, filter.getOrElse(lit(true)) &&
        afterId.map(a => col("doc") > a).getOrElse(lit(true)))
      .distinct().orderBy(col("doc")).limit(limit)
  }

  /** The EXACT live-doc count of the same listing, as a one-row (cnt)
    * frame — what serving shows, never a stats table that keeps
    * tombstoned docs' mass until the fold. Zero on a missing or
    * data-less layout.
    */
  def count(spark: SparkSession, root: String, docsPath: String,
            hasData: Boolean, filter: Option[Column]): DataFrame =
    if (!hasData) {
      import spark.implicits._
      Seq(0L).toDF("cnt")
    } else liveDocs(spark, root, docsPath, filter.getOrElse(lit(true)))
      .agg(countDistinct(col("doc")).as("cnt"))

  /** The filtered, masked `doc` column: one column-pruned scan. */
  private def liveDocs(spark: SparkSession, root: String, docsPath: String,
                       pred: Column): DataFrame =
    mask(spark, spark.read.parquet(docsPath).where(pred).select(col("doc")),
      root, "doc")
}
