package graft.pipeline

import graft.core.KeyedWrite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Persisted exact-dedup fingerprint index — the incremental
  * lifecycle for exact deduplication: build once over the corpus so
  * far, probe each new increment against it (and against itself),
  * append the novel fingerprints. Completes the persisted-index triad
  * with [[Ivf]] and [[Bm25]] — a periodically-recrawled corpus never
  * re-fingerprints history to dedup an increment.
  *
  * Layout: one (fp, doc) row per DISTINCT fingerprint (the min-id
  * keeper), PARTITIONED BY `pmod(xxhash64(fp), 64)`, repartitioned on
  * the bucket before the dynamic-partition write so each bucket
  * directory gains ONE file per pass. A probe collects the
  * increment's distinct buckets (≤ 64 rows, one tiny agg) and pushes
  * them as a partition filter — a small increment reads only the
  * touched directories (spec-measured via the scan's file metric); a
  * full-corpus probe reads everything, as it must.
  *
  * 100 TB: the index holds (16-byte md5, id) per unique document — a
  * sliver of corpus bytes; the probe is ONE fp equi-join of two slim
  * frames (text never shuffles). Appends are additive under the
  * disjoint-increment contract; compaction is the shared crash-safe
  * [[graft.core.ParquetCompact]] pass, contents-invariant.
  */
object DedupIndex {

  val IndexBuckets = 64

  /** Increment fp sets up to this size are pushed down to parquet as
    * per-bucket chunked In filters (page pruning over the fp-sorted
    * files); larger probes read the touched buckets whole. The
    * cutoff is deliberately SMALL: the pushdown plan costs one
    * sub-scan per touched bucket plus per-row In evaluation on the
    * survivors, which only pays when the increment is tiny relative
    * to the index (the periodic-recrawl probe) — a measured 1667-fp
    * probe at the old 4096 cutoff ran ~2.5× SLOWER than the plain
    * bucket read it replaced.
    */
  val ProbeFpFilterCutoff = 512

  /** Fps per pushed In-filter chunk (or-of-eq chains are the only
    * per-value pruning form — the StreamingDedup measurements).
    */
  val ProbeFpChunk = 256

  private def bucketOf(fp: Column): Column =
    pmod(xxhash64(fp), lit(IndexBuckets.toLong))

  /** Build the index: one (fp, doc) row per distinct fingerprint,
    * doc = min id (the keeper), overwriting any existing layout.
    * Build/append writes use default page sizes (small pages cost a
    * measured ~25% on corpus-sized writes); [[compactIndex]] restores
    * the fp-sorted small-page shape that [[probeIndexRead]]'s per-fp
    * page pruning needs — compact-then-probe is the steady state.
    */
  def writeIndex(spark: SparkSession, docs: DataFrame, textCol: String,
                 idCol: String, path: String): Unit = {
    // empty corpus: write NOTHING — a zero-row dynamic write leaves a
    // _SUCCESS-only directory that every later read dies on for
    // schema inference; a missing dir IS an empty index (the family's
    // empty-guard, [[probeIndexRead]]/[[mergeInto]] honor it)
    if (docs.isEmpty) return
    val fps = docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("doc"))
      .groupBy(col("fp")).agg(min(col("doc")).as("doc"))
      .withColumn("bucket", bucketOf(col("fp")))
    KeyedWrite.spread(fps, Seq("bucket"), IndexBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** The increment's slim (doc, fp) frame, pinned once: three
    * consumers (bucket-set agg, batch-keeper agg, probe join) must
    * not re-run the md5 scan. Callers own the pin and release it
    * after their terminal action (the streaming twin calls per
    * microbatch — unreleased pins accumulate).
    */
  private def fpsOf(docs: DataFrame, textCol: String,
                    idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .localCheckpoint(true)

  /** Probe + the index-side keeper column (internal: [[probe]] hides
    * it, [[appendNovel]] filters on it). `fps` is the caller-pinned
    * [[fpsOf]] frame.
    */
  private def probeRaw(spark: SparkSession, path: String,
                       fps: DataFrame): DataFrame = {
    // ONE aggregation job yields both the touched-bucket set and the
    // distinct-fp count that gates the page-pruning pushdown — the
    // gate must not cost big increments an extra Spark job
    val gate = fps.agg(
      count_distinct(col("fp")).as("n"),
      collect_set(bucketOf(col("fp"))).as("bs")).head()
    val nFps = gate.getLong(0)
    val buckets = gate.getSeq[Long](1)
    if (buckets.isEmpty)
      return fps.withColumn("idx_keep", lit(null).cast("long"))
        .withColumn("batch_keep", col("doc"))
    val idx = probeIndexRead(spark, path, fps, buckets, nFps)
      .select(col("fp"), col("doc").as("idx_keep"))
    val batchKeep = fps.groupBy(col("fp"))
      .agg(min(col("doc")).as("batch_keep"))
    // left join is safe against row blowup: the index invariant is
    // one row per fp (build groups, appends add only novel fps)
    fps.join(idx, Seq("fp"), "left").join(batchKeep, Seq("fp"))
  }

  /** Bucket- AND page-pruned index read for a probe: the touched
    * bucket partitions are filtered as before, and — when the
    * increment's distinct fp set is ≤ [[ProbeFpFilterCutoff]] —
    * per-bucket chunked fp In-filters additionally skip every page
    * whose fp range holds none of the increment's fps (files are
    * fp-sorted with 512-row pages at write/compact). Each pushed set
    * contains only fps its own bucket can hold; a small increment
    * then reads ~|increment| PAGES of the index, not whole buckets.
    * Package-private for the pruning assertion in DedupIndexSpec.
    */
  /** A layout with at least one bucket partition dir — a missing or
    * data-less path (empty build, probe before any build) IS an
    * empty index, never a schema-inference crash.
    */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(f =>
      f.isDirectory && f.getPath.getName.startsWith("bucket="))
  }

  private[graft] def probeIndexRead(spark: SparkSession, path: String,
                                    fps: DataFrame, buckets: Seq[Long],
                                    nFps: Long): DataFrame = {
    if (!hasData(spark, path))
      return fps.select(col("fp"), col("doc")).limit(0)
    val idx0 = spark.read.parquet(path)
    def bucketRead = idx0
      .where(graft.core.PartitionIn.inSet(idx0, "bucket", buckets))
    if (nFps > ProbeFpFilterCutoff) bucketRead
    else {
      val byBucket = fps
        .select(bucketOf(col("fp")).as("b"), col("fp")).distinct()
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1)
      byBucket.toSeq.sortBy(_._1).flatMap { case (b, xs) =>
        xs.map(_._2).sorted.grouped(ProbeFpChunk).map(chunk =>
          idx0.where(graft.core.PartitionIn.inSet(idx0, "bucket", Seq(b)) &&
            col("fp").isInCollection(chunk)))
      }.reduceOption(_ union _) // buckets disjoint: plain concat
        .getOrElse(bucketRead.limit(0))
    }
  }

  /** Classify every increment doc against the index AND the increment
    * itself: `keep_id` = the index keeper when the fingerprint is
    * already indexed, else the increment's min-id holder; `dup` =
    * this doc is not the keeper. With id-ordered increments the
    * decisions equal a one-shot [[Dedup.dropExactDups]] over the
    * union (spec-pinned).
    */
  def probe(spark: SparkSession, path: String, docs: DataFrame,
            textCol: String, idCol: String): DataFrame = {
    // recovery preamble (DirSwap contract): a mid-swap-crashed
    // compaction/deletion leaves the layout parked at __old
    graft.core.DirSwap.recoverAt(spark, path)
    val fps = fpsOf(docs, textCol, idCol)
    val out = withFpPushdown(spark) {
      probeRaw(spark, path, fps)
        .withColumn("keep_id", coalesce(col("idx_keep"), col("batch_keep")))
        .withColumn("dup", col("keep_id") =!= col("doc"))
        .select(col("doc"), col("fp"), col("keep_id"), col("dup"))
        // snapshot semantics: the decisions are pinned NOW, so a caller
        // following the documented probe→append→compact order can
        // consume them after the compaction rewrote the files a lazy
        // plan would still be pointing at
        .localCheckpoint(true)
    }
    graft.core.Pinned.release(fps)
    out
  }

  /** The chunked fp filters only prune per-value while parquet
    * converts them to or-of-eq chains — raise the In threshold past
    * the chunk size around the executing action (the
    * StreamingDedup.processBatch pattern).
    */
  private def withFpPushdown[A](spark: SparkSession)(f: => A): A =
    graft.core.ConfLease.withRaised(spark,
      "spark.sql.parquet.pushdown.inFilterThreshold",
      ProbeFpChunk + 1L)(f)

  /** Fused [[probe]] + [[appendNovel]] — the probeAndAppend shape the
    * OTHER index tiers (NearDup/PHash/Embed) already expose, closing
    * the one gap: the separate entry points each run their own
    * fingerprint scan, gate aggregation, and bucket/page-pruned index
    * read, so a streamed per-microbatch probe→append pair paid every
    * fixed cost twice. Here ONE pinned probeRaw serves both: the
    * decisions are bit-identical to [[probe]]'s and the appended rows
    * bit-identical to [[appendNovel]]'s under the same call order
    * (spec-pinned), including first contact — a missing/empty layout
    * probes all-novel and the append CREATES it with exactly
    * [[writeIndex]]'s (fp, min-id keeper) rows. The returned frame
    * rides the call's pinned scan (same post-compaction snapshot
    * semantics as [[probe]]); the caller must release it with
    * [[graft.core.Pinned.release]] after its terminal action — the
    * fused form cannot release internally, per-microbatch callers
    * otherwise accumulate dead pinned blocks.
    */
  def probeAndAppend(spark: SparkSession, path: String, docs: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    graft.core.DirSwap.recoverAt(spark, path) // see probe
    val fps = fpsOf(docs, textCol, idCol)
    val out = withFpPushdown(spark) {
      val raw = probeRaw(spark, path, fps).localCheckpoint(true)
      appendNovelRaw(raw, path) // the ONE write path, see appendNovel
      raw.withColumn("keep_id", coalesce(col("idx_keep"), col("batch_keep")))
        .withColumn("dup", col("keep_id") =!= col("doc"))
        .select(col("doc"), col("fp"), col("keep_id"), col("dup"))
    }
    graft.core.Pinned.release(fps)
    out
  }

  /** Append the increment's NOVEL fingerprints (not in the index) as
    * one (fp, min-id) row each. Disjoint-increment contract as the
    * IVF/BM25 appends: a doc must appear in exactly one increment.
    * Each append adds ≤ one file per touched bucket; run
    * [[compactIndex]] periodically.
    */
  def appendNovel(spark: SparkSession, docs: DataFrame, textCol: String,
                  idCol: String, path: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, path) // see probe
    val fps = fpsOf(docs, textCol, idCol)
    withFpPushdown(spark) {
      appendNovelRaw(probeRaw(spark, path, fps), path)
    }
    graft.core.Pinned.release(fps)
  }

  /** The ONE novel-aggregation + bucketed-append write path, shared
    * by [[appendNovel]] and [[probeAndAppend]] so the two can never
    * silently drift: novel fps (no index keeper) reduce to one
    * (fp, min-id) row each and append. A zero-row append onto a
    * MISSING path would leave the _SUCCESS-only landmine the family's
    * empty-guard exists for, hence the isEmpty gate. `raw` is a
    * [[probeRaw]] result; callers hold the fp-pushdown lease.
    */
  private def appendNovelRaw(raw: DataFrame, path: String): Unit = {
    val novel = raw.where(col("idx_keep").isNull)
      .groupBy(col("fp")).agg(min(col("batch_keep")).as("doc"))
      .withColumn("bucket", bucketOf(col("fp")))
    if (!novel.isEmpty)
      KeyedWrite.spread(novel, Seq("bucket"), IndexBuckets)
        .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** SEGMENT MERGE — the shard-parallel build topology for exact
    * dedup: fingerprint each corpus shard into its own index
    * concurrently (disjoint docs per shard), then absorb shard
    * `srcPath` into `dstPath` INDEX-TO-INDEX — no document is ever
    * re-fingerprinted. Src fps already in dst are dropped (dst's
    * keeper wins, exactly [[appendNovel]]'s first-indexed-wins rule,
    * so merging equals having appended src's corpus as an increment
    * — oracle-pinned); novel fps append with src's keeper.
    *
    * Returns the CROSS-SHARD duplicate report the parallel topology
    * otherwise loses — in the sequential flow every doc is probed
    * against history before being indexed, but two shards built
    * concurrently never saw each other: (doc = src keeper, keep_id,
    * dup) in [[probe]]'s decision shape, for every src KEEPER (src's
    * internal dups were decided at src's own build/probe time).
    * Decisions are idempotent under a crash+re-run: a previously
    * absorbed fp reports its (now indexed) keeper unchanged.
    *
    * 100 TB: the merge touches index rows only (16-byte fp + id per
    * unique doc) — one bucket-aligned anti/left join and one append
    * write, independent of corpus text bytes.
    */
  def mergeInto(spark: SparkSession, dstPath: String,
                srcPath: String): DataFrame = {
    graft.core.DirSwap.recoverAt(spark, dstPath)
    graft.core.DirSwap.recoverAt(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    if (!hasData(spark, srcPath)) { // absent/data-less src IS an
      fs.delete(src, true) // empty index: nothing to report or move
      return spark.emptyDataFrame
        .withColumn("doc", lit(null).cast("long"))
        .withColumn("keep_id", lit(null).cast("long"))
        .withColumn("dup", lit(null).cast("boolean"))
    }
    require(fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"merge destination $dstPath does not exist")
    val srcRows = spark.read.parquet(srcPath)
      .select(col("fp"), col("doc")).localCheckpoint(true)
    // a data-less dst (empty-corpus shard) holds nothing: every src
    // fp is novel
    val dstIdx =
      if (hasData(spark, dstPath))
        spark.read.parquet(dstPath)
          .select(col("fp"), col("doc").as("idx_keep"))
      else srcRows.select(col("fp"), col("doc").as("idx_keep")).limit(0)
    // decisions snapshot BEFORE the append rewires the plans
    val report = srcRows.join(dstIdx, Seq("fp"), "left")
      .select(col("doc"),
        coalesce(col("idx_keep"), col("doc")).as("keep_id"),
        col("idx_keep").isNotNull.as("dup"))
      .localCheckpoint(true)
    val novel = srcRows.join(dstIdx, Seq("fp"), "left_anti")
      .withColumn("bucket", bucketOf(col("fp")))
    KeyedWrite.spread(novel, Seq("bucket"), IndexBuckets)
      .write.mode("append").partitionBy("bucket").parquet(dstPath)
    graft.core.Pinned.release(srcRows)
    fs.delete(src, true)
    report
  }

  /** Crash-safe in-place small-file compaction; contents-invariant,
    * so probe results are unchanged (spec-pinned). Restores the
    * big-fp-sorted-file small-page shape the probe's per-fp page
    * pruning depends on.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.core.ParquetCompact.compact(spark, path, Seq("bucket"), Seq("fp"),
      options = Map("parquet.page.row.count.limit" -> "512"))

  /** DELETE documents from the index — the right-to-be-forgotten pass
    * for the dedup STATE (the serving indexes got theirs in
    * Bm25.deleteDocs/Ivf.deleteVectors): without it a removed
    * document's fingerprint row persists and keeps suppressing future
    * re-ingests of content only that document carried. Rows whose
    * keeper `doc` is deleted are filtered out inside the crash-safe
    * [[graft.core.ParquetCompact.rewrite]] swap (compacting as a side
    * effect); afterwards a probe is identical to one against a fresh
    * build over the surviving corpus (spec + oracle pinned — the
    * min-id keeper invariant survives because the kept corpus holds
    * only keepers, so deleting a keeper removes its content's only
    * fingerprint row). Deleting EVERY doc removes the layout (missing
    * dir = empty index). `docs` is a one-column (doc) frame —
    * anti-joined, never collected.
    */
  def deleteDocs(spark: SparkSession, path: String, docs: DataFrame): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, path, Seq("bucket"), Seq("fp"),
      Map("parquet.page.row.count.limit" -> "512"),
      p => p.join(del, Seq("doc"), "left_anti"))
    graft.core.Pinned.release(del)
  }
}
