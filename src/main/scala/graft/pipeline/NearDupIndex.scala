package graft.pipeline

import graft.core.KeyedWrite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH near-dup index — the BATCH incremental
  * lifecycle for near-duplicate detection, completing the
  * persisted-index family ([[DedupIndex]] exact-fp, [[Bm25]] lexical,
  * [[Ivf]] dense, streaming near-dup in
  * [[graft.streaming.StreamingDedup]]): a periodically-recrawled
  * corpus probes each increment against everything indexed so far
  * without ever re-minhashing history.
  *
  * Layout under `path` (two slim sub-layouts, text never stored):
  *  - `bands/`: one (doc, bucket) row per band key, PARTITIONED BY
  *    (band, kb = pmod(bucket, [[BandBuckets]])) — the
  *    StreamingDedup partition scheme at the same 64-cell total. A
  *    probe touches at most bands × BandBuckets directories and prunes to the (band, kb)
  *    cells its own keys fall in before any row is deserialized.
  *  - `sets/`: one (doc, hs) row per document — the shingle-hash set
  *    the verify step needs — PARTITIONED BY
  *    db = pmod(xxhash64(doc), SetBuckets); the probe reads only
  *    the buckets holding its candidates' docs.
  *
  * Probe semantics are RELATIONAL (same contract as the streaming
  * twin): the emitted pairs are every (d1 < d2, jac ≥ threshold)
  * pair with d2 in the increment and d1 in the index OR the
  * increment, candidates blocked by a shared MinHash band. Probing
  * increments in sequence therefore reproduces EXACTLY the one-shot
  * [[Dedup.minhashCandidatePairs]] over the union (spec + oracle
  * pinned) — pairs within the first build corpus come from the
  * one-shot pass at build time; every later pair involves some
  * increment's probe.
  *
  * Contracts mirrored from the index family: disjoint increments
  * (a doc appears in exactly one build/append), FROZEN parameters
  * (w, bands, rows, seed fixed at build — band keys must be
  * comparable across passes), additive appends with periodic
  * crash-safe [[compactIndex]].
  *
  * 100 TB: per-increment work is one shingle scan of the increment,
  * one bucket-pruned read of the touched band cells, one
  * doc-bucket-pruned read of the candidate sets, and equi-joins
  * throughout — probe bytes follow the increment's band fan-out and
  * candidate count, not the index size (the incremental-dedup claim,
  * measured for the shared layout in StreamingDedupSpec).
  */
object NearDupIndex {

  /** Key-buckets per band in the `bands/` layout: 16 bands × 4 kb =
    * 64 partition cells, the same TOTAL as the streaming twin's
    * 4 bands × 16 (dir-count drives fixed per-pass cost: every
    * write/compact touches every cell, and 256 cells measured ~2×
    * slower per lifecycle pass than 64 at fixture scale for zero
    * added pruning power at 100 TB — within a touched cell, page
    * stats over the bucket-sorted files do the value-level cut, the
    * StreamingDedup lesson).
    */
  val BandBuckets = 4

  /** Doc-buckets for the `sets/` layout. */
  val SetBuckets = 16

  /** Per-bucket page pruning inside touched cells: batch
    * (band, bucket) key sets up to this size are pushed down to
    * parquet (in sorted chunks of [[ProbeBucketChunk]] values, one
    * sub-scan per cell); larger sets read the cells whole. Unlike the
    * streaming twin's 16-bit keys, buckets here are 64-bit FNV folds,
    * so the key-set collect must be gated by a COUNT first — a huge
    * increment's distinct-bucket set is not driver-boundable.
    */
  val ProbeBucketFilterCutoff = 4096

  /** Buckets per pushed In-filter chunk (parquet evaluates an In of ≤
    * inFilterThreshold values as an or-of-eq chain against page
    * column-index stats — the only form that prunes per VALUE; the
    * recursive chain overflows the stack past ~2000 legs — the
    * StreamingDedup measurements).
    */
  val ProbeBucketChunk = 256

  private def kbOf(bucket: Column): Column =
    pmod(bucket, lit(BandBuckets.toLong))

  private def dbOf(doc: Column): Column =
    pmod(xxhash64(doc), lit(SetBuckets.toLong))

  /** The increment's (doc, hs) frame, pinned: every consumer (band
    * derivation, both verify sides, the writes) reuses one
    * materialization of the shingle scan.
    */
  /** `spread = true` (the FULL-corpus builds) puts a parallelism
    * floor BELOW the shingle projection: a bench-scale corpus is one
    * parquet file = one scan task, and shingle+minhash is the tier's
    * per-row-expensive stage — without the floor it runs on one core
    * (graft.core.Parallelize: no-op at scale). INCREMENT entry points
    * (append/probe) keep the scan's own partitioning: their frames
    * are small by the append contract, and inflating the pinned
    * frame's partition count taxes every downstream probe job with
    * empty tasks for no compute win (measured: +33% on
    * neardup_index_incremental when increments were spread).
    */
  private def shingledW(docs: DataFrame, textCol: String, idCol: String,
                        w: Int, spread: Boolean = false): DataFrame =
    (if (spread) graft.core.Parallelize.ensure(docs) else docs)
      .select(col(idCol).as("doc"),
        TextAnalysis.shingleHashes(col(textCol), w).as("hs"))
      .where(size(col("hs")) > 0)
      .localCheckpoint(true)

  /** (doc, band, bucket, kb) band rows of a pinned (doc, hs) frame. */
  private def banded(sh: DataFrame, bands: Int, rows: Int,
                     seed: Long): DataFrame =
    sh.select(col("doc"),
        posexplode(Dedup.minhashBandKeys(col("hs"), bands, rows, seed)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .withColumn("kb", kbOf(col("bucket")))

  /** Recovery preamble over the index's two independently-swapped
    * sub-layouts (DirSwap contract: every reader/writer of a swapped
    * layout restores a mid-swap-parked copy before trusting
    * existence checks or appending beside it).
    */
  private def recoverLayouts(spark: SparkSession, path: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, s"$path/bands")
    graft.core.DirSwap.recoverAt(spark, s"$path/sets")
  }

  private def writeLayout(sh: DataFrame, path: String, mode: String,
                          bands: Int, rows: Int, seed: Long): Unit = {
    // an empty corpus/increment must write NOTHING: a zero-row
    // partitionBy write still creates the directory, and a later read
    // dies on schema inference over zero files (the StreamingDedup
    // empty-microbatch guard); probeBands treats a missing layout as
    // an empty index, which is exactly what it is
    if (sh.isEmpty) return
    // spread on the partition columns before the dynamic write:
    // each (band, kb) cell's rows land in one task — one file per
    // touched cell per pass, not (tasks × cells) small files. Rows
    // are BUCKET-SORTED within each file with small (512-row) pages
    // so probe-time per-bucket In filters prune at the parquet
    // column-index level — the StreamingDedup.appendIndex design (the
    // sort leads with the partition columns on purpose: a dynamic
    // partitionBy write REQUIRES that order, and a sort that doesn't
    // satisfy it is silently replaced by the writer's partition-only
    // sort, destroying the key order the page pruning depends on).
    KeyedWrite.spread(banded(sh, bands, rows, seed), Seq("band", "kb"),
        bands * BandBuckets)
      .sortWithinPartitions(col("band"), col("kb"), col("bucket"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("band", "kb")
      .parquet(s"$path/bands")
    val sets = sh.select(col("doc"), col("hs"))
      .withColumn("db", dbOf(col("doc")))
    KeyedWrite.spread(sets, Seq("db"), SetBuckets)
      .write.mode(mode).partitionBy("db")
      .parquet(s"$path/sets")
  }

  /** Build the index over the corpus so far (overwrite). Pairs WITHIN
    * this corpus are the build-time one-shot
    * [[Dedup.minhashCandidatePairs]] — the index serves every probe
    * after it.
    */
  def writeIndex(spark: SparkSession, docs: DataFrame, textCol: String,
                 idCol: String, path: String, w: Int = 3, bands: Int = 16,
                 rows: Int = 4, seed: Long = 42L): Unit = {
    val sh = shingledW(docs, textCol, idCol, w, spread = true)
    writeLayout(sh, path, "overwrite", bands, rows, seed)
    graft.core.Pinned.release(sh)
  }

  /** Append a disjoint increment's band rows and shingle sets. Run
    * [[probe]] FIRST (the probe classifies against the pre-append
    * index; appending first would report every doc as its own
    * near-dup via self-pairs — the same probe-then-append order as
    * [[DedupIndex.appendNovel]]). ALL increment docs are indexed,
    * kept and dropped alike — a near-dup of a dropped document is
    * still a near-dup of the corpus (the training-data contract,
    * same as the streaming twin).
    */
  def append(spark: SparkSession, docs: DataFrame, textCol: String,
             idCol: String, path: String, w: Int = 3, bands: Int = 16,
             rows: Int = 4, seed: Long = 42L): Unit = {
    recoverLayouts(spark, path) // DirSwap contract before appending
    val sh = shingledW(docs, textCol, idCol, w)
    writeLayout(sh, path, "append", bands, rows, seed)
    graft.core.Pinned.release(sh)
  }

  /** Build the index AND return the build corpus's own near-dup
    * pairs from ONE shingle scan — what a deployment wants when first
    * indexing a corpus (the separate
    * [[Dedup.minhashCandidatePairs]] + [[writeIndex]] composition
    * scans the corpus twice). The pairs are exactly the one-shot LSH
    * pass (spec-pinned).
    */
  def buildWithPairs(spark: SparkSession, docs: DataFrame, textCol: String,
                     idCol: String, path: String, w: Int = 3,
                     bands: Int = 16, rows: Int = 4,
                     threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val sh = shingledW(docs, textCol, idCol, w, spread = true)
    writeLayout(sh, path, "overwrite", bands, rows, seed)
    val pairs = probeShingled(spark, path, sh, bands, rows, threshold, seed,
      againstIndex = false)
    graft.core.Pinned.release(sh) // pairs are eagerly pinned downstream
    pairs
  }

  /** [[probe]] + [[append]] from ONE shingle scan of the increment —
    * the standard lifecycle step (classify the increment, then index
    * it) without re-shingling. The probe half runs BEFORE the band
    * rows land, so the pair set is identical to probe-then-append.
    */
  def probeAndAppend(spark: SparkSession, path: String, docs: DataFrame,
                     textCol: String, idCol: String, w: Int = 3,
                     bands: Int = 16, rows: Int = 4,
                     threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    recoverLayouts(spark, path) // DirSwap contract before probe/append
    val sh = shingledW(docs, textCol, idCol, w)
    val pairs = probeShingled(spark, path, sh, bands, rows, threshold, seed,
      againstIndex = true)
    writeLayout(sh, path, "append", bands, rows, seed)
    graft.core.Pinned.release(sh)
    pairs
  }

  /** Near-dup pairs of the increment against the index AND itself:
    * (d1, d2, jac) with d1 < d2, d2 (and possibly d1) in the
    * increment, jac ≥ threshold, candidates blocked by a shared
    * MinHash band. Parameters MUST match the build's.
    */
  def probe(spark: SparkSession, path: String, docs: DataFrame,
            textCol: String, idCol: String, w: Int = 3, bands: Int = 16,
            rows: Int = 4, threshold: Double = 0.5,
            seed: Long = 42L): DataFrame = {
    recoverLayouts(spark, path) // DirSwap serving-read contract
    val sh = shingledW(docs, textCol, idCol, w)
    val pairs = probeShingled(spark, path, sh, bands, rows, threshold, seed,
      againstIndex = true)
    graft.core.Pinned.release(sh)
    pairs
  }

  /** Partition- and page-pruned read of the bands layout for a probe:
    * only the given (band·BandBuckets + kb) cells are LISTED (dir
    * pruning), and within them — when the batch's distinct
    * (cell, bucket) set is driver-boundable per
    * [[ProbeBucketFilterCutoff]] — per-cell chunked bucket In-filters
    * skip every page whose [min, max] holds none of the batch's
    * buckets (the files are bucket-sorted with 512-row pages at
    * write/compact). Each pushed set contains only buckets its own
    * cell can hold — a foreign-cell bucket usually falls inside some
    * page's span and defeats the stat check (the StreamingDedup
    * per-residue-split measurement). Package-private for the pruning
    * assertions in NearDupIndexSpec.
    */
  private[graft] def probeBands(spark: SparkSession, path: String,
                                bnd: DataFrame,
                                cellIds: Seq[Long]): DataFrame = {
    // a never-written layout (empty build, or probe before any build)
    // IS an empty index — not an error
    val bandsPath = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = bandsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bandsPath))
      return bnd.select(col("band"), col("bucket"), col("doc")).limit(0)
    def read(ids: Seq[Long]) = spark.read.parquet(s"$path/bands")
      .where((col("band").cast("long") * BandBuckets +
        col("kb").cast("long")).isin(ids: _*))
    val nKeys = bnd.select(col("band"), col("bucket")).distinct().count()
    if (nKeys > ProbeBucketFilterCutoff) read(cellIds)
    else {
      val cellKeys = bnd.select(
          (col("band").cast("long") * BandBuckets + col("kb")).as("cell"),
          col("bucket"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1)
      cellKeys.toSeq.sortBy(_._1).flatMap { case (cell, ks) =>
        ks.map(_._2).sorted.grouped(ProbeBucketChunk).map(chunk =>
          read(Seq(cell)).where(col("bucket").isin(chunk: _*)))
      }.reduceOption(_ union _) // cells disjoint: plain concat
        .getOrElse(read(cellIds).limit(0))
    }
  }

  /** Probe core over a pinned (doc, hs) frame. With
    * `againstIndex = false` only in-batch pairs are emitted (the
    * build-time one-shot; no index read — there may be no index yet).
    */
  private def probeShingled(spark: SparkSession, path: String,
                            sh: DataFrame, bands: Int, rows: Int,
                            threshold: Double, seed: Long,
                            againstIndex: Boolean): DataFrame = {
    val bnd = banded(sh, bands, rows, seed).localCheckpoint(true)
    // in-batch candidates: the one-shot LSH self-join shape
    val candIn = bnd.as("a").join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
    // index candidates: read ONLY the (band, kb) cells the batch's own
    // keys fall in — ≤ bands × BandBuckets cell ids, one tiny agg
    val cellIds =
      if (!againstIndex) Nil
      else bnd
        .select((col("band").cast("long") * BandBuckets + col("kb")).as("cell"))
        .distinct().collect().map(_.getLong(0)).toSeq
    val candIdx =
      if (cellIds.isEmpty) candIn.limit(0)
      else {
        val idx = probeBands(spark, path, bnd, cellIds)
        idx.select(col("band"), col("bucket"), col("doc").as("idoc"))
          .join(bnd.select(col("band"), col("bucket"), col("doc").as("bdoc")),
            Seq("band", "bucket"))
          .where(col("idoc") =!= col("bdoc"))
          .select(least(col("idoc"), col("bdoc")).as("d1"),
            greatest(col("idoc"), col("bdoc")).as("d2"))
      }
    // the chunked bucket filters only prune per-value while parquet
    // converts them to or-of-eq chains — raise the In threshold past
    // the chunk size for the candidate materialization, via the
    // ref-counted lease so concurrent probes (the shard-parallel
    // build rows Par this entry point) cannot race the restore
    val cand = graft.core.ConfLease.withRaised(spark,
      "spark.sql.parquet.pushdown.inFilterThreshold",
      ProbeBucketChunk + 1L) {
      candIn.unionByName(candIdx).distinct().localCheckpoint(true)
    }
    // verify needs each candidate doc's shingle set: increment docs
    // from the pinned sh, historical docs from sets/ pruned to the
    // doc-buckets the candidates actually touch (≤ SetBuckets ids)
    val dbIds =
      if (!againstIndex) Nil // in-batch only: every candidate doc is in sh
      else cand.select(explode(array(col("d1"), col("d2"))).as("doc"))
        .select(dbOf(col("doc")).as("db")).distinct()
        .collect().map(_.getLong(0)).toSeq
    val setsPath = new org.apache.hadoop.fs.Path(s"$path/sets")
    val setsExist = setsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(setsPath)
    val hist =
      if (dbIds.isEmpty || !setsExist) sh.limit(0) // empty index: all cands in-batch
      else {
        val sets = spark.read.parquet(s"$path/sets")
        sets.where(graft.core.PartitionIn.inSet(sets, "db", dbIds))
          .select(col("doc"), col("hs"))
      }
    // disjoint-increment contract ⇒ a doc is in sh xor sets; the
    // dropDuplicates is belt-and-braces against contract violations
    val hsAll = sh.select(col("doc"), col("hs")).unionByName(hist)
      .dropDuplicates("doc")
    // materialize the pairs NOW: the probe result is a snapshot of
    // the pre-append index state. A lazy plan over the index files
    // breaks (FILE_NOT_EXIST) or silently shifts (sees appended rows)
    // when the caller appends/compacts before consuming — which is
    // exactly the documented probe→append→compact order.
    val pairs = cand
      .join(hsAll.select(col("doc").as("d1"), col("hs").as("h1")), Seq("d1"))
      .join(hsAll.select(col("doc").as("d2"), col("hs").as("h2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        graft.functions.HashFunctions.jaccardSim(col("h1"), col("h2")).as("jac"))
      .where(col("jac") >= threshold)
      .localCheckpoint(true)
    // pairs are eagerly pinned: the intermediate bnd/cand pins are
    // dead weight now (streaming twins call this per microbatch — the
    // r9 EmbedDedupIndex leak lesson applied to the whole family)
    graft.core.Pinned.release(bnd)
    graft.core.Pinned.release(cand)
    pairs
  }

  /** SEGMENT MERGE — the shard-parallel build topology for near-dup:
    * minhash each corpus shard into its own index concurrently
    * (disjoint docs, FROZEN params across shards — band keys from
    * different (w, bands, rows, seed) never collide and would
    * silently yield zero cross pairs, the same caller-owned contract
    * as [[probe]]), then absorb shard `srcPath` into `dstPath`. Band
    * rows and shingle sets are per-doc, so the absorb is the family's
    * per-file-rename move — zero re-minhashing, zero rows rewritten.
    *
    * Returns the CROSS-SHARD pair report the parallel topology
    * otherwise loses: every (d1 < d2, jac ≥ threshold) pair with one
    * doc per shard, candidates blocked on a shared persisted band
    * key, verified from the persisted shingle sets — so build-A pairs
    * ∪ build-B pairs ∪ merge pairs ∪ later probes equals the one-shot
    * [[Dedup.minhashCandidatePairs]] over the union (oracle-pinned).
    * The report is a pre-move snapshot: a crash before the move
    * completes re-runs to a completed MOVE (per-file idempotence),
    * but the re-run's report only covers the not-yet-moved remainder
    * — a caller needing the pairs exactly-once persists them before
    * consuming, the family's snapshot contract.
    *
    * Src's tombstone story: none (deletes here are physical), so
    * unlike [[graft.pipeline.Ivf.mergeInto]] there is nothing to fold.
    *
    * 100 TB: candidates come from one (band, bucket) equi-join of two
    * band layouts PARTITIONED THE SAME WAY (per-cell joins, no
    * all-pairs), verification reads only candidate docs' set buckets.
    */
  def mergeInto(spark: SparkSession, dstPath: String, srcPath: String,
                threshold: Double = 0.5): DataFrame = {
    import graft.functions.HashFunctions.jaccardSim
    recoverLayouts(spark, dstPath)
    recoverLayouts(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    def empty = {
      import spark.implicits._
      Seq.empty[(Long, Long, Double)].toDF("d1", "d2", "jac")
    }
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$srcPath/bands"))) {
      fs.delete(src, true) // absent bands IS an empty index
      return empty
    }
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dstPath/bands")),
      s"merge destination $dstPath does not exist")
    // cross candidates: both layouts' own persisted band keys
    val sBnd = spark.read.parquet(s"$srcPath/bands")
      .select(col("band"), col("bucket"), col("doc").as("sdoc"))
    val dBnd = spark.read.parquet(s"$dstPath/bands")
      .select(col("band"), col("bucket"), col("doc").as("ddoc"))
    val cand = sBnd.join(dBnd, Seq("band", "bucket"))
      .where(col("sdoc") =!= col("ddoc"))
      .select(least(col("sdoc"), col("ddoc")).as("d1"),
        greatest(col("sdoc"), col("ddoc")).as("d2"))
      .distinct()
      .localCheckpoint(true) // one materialization feeds db pruning + verify
    // verify from the persisted shingle sets of BOTH shards, pruned
    // to the doc-buckets the candidates actually touch (≤ SetBuckets
    // ids — bounded by construction, the probe's own pruning rule)
    val dbIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc"))
      .select(dbOf(col("doc")).as("db")).distinct()
      .collect().map(_.getLong(0)).toSeq
    def setsOf(path: String) = {
      val sets = spark.read.parquet(s"$path/sets")
      sets.where(graft.core.PartitionIn.inSet(sets, "db", dbIds))
        .select(col("doc"), col("hs"))
    }
    val hsAll = setsOf(srcPath).unionByName(setsOf(dstPath))
      .dropDuplicates("doc")
    val pairs = cand
      .join(hsAll.select(col("doc").as("d1"), col("hs").as("h1")), Seq("d1"))
      .join(hsAll.select(col("doc").as("d2"), col("hs").as("h2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        jaccardSim(col("h1"), col("h2")).as("jac"))
      .where(col("jac") >= threshold)
      .localCheckpoint(true) // pre-move snapshot
    graft.core.Pinned.release(cand)
    Seq("bands", "sets").foreach { sub =>
      graft.core.SegmentMerge.moveTree(fs,
        new org.apache.hadoop.fs.Path(s"$srcPath/$sub"),
        new org.apache.hadoop.fs.Path(s"$dstPath/$sub"))
    }
    fs.delete(src, true)
    pairs
  }

  /** Crash-safe in-place small-file compaction of both sub-layouts
    * (the shared [[graft.core.ParquetCompact]] pass);
    * contents-invariant, so probe results are unchanged.
    */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    graft.core.ParquetCompact.compact(spark, s"$path/bands",
      Seq("band", "kb"), Seq("bucket", "doc"),
      // restore the big-sorted-file small-page shape the probe's
      // per-bucket page pruning depends on (per-pass appends keep
      // files small — a tiny file is one page, nothing to skip)
      options = Map("parquet.page.row.count.limit" -> "512"))
    graft.core.ParquetCompact.compact(spark, s"$path/sets",
      Seq("db"), Seq("doc"))
  }

  /** DELETE documents from the index — right-to-be-forgotten for the
    * near-dup STATE: without it a removed document's band rows and
    * shingle set persist and keep matching (and suppressing) future
    * near-dups of content the corpus no longer holds. Both
    * sub-layouts are doc-keyed, so deletion is one anti-join filter
    * per layout inside the crash-safe
    * [[graft.core.ParquetCompact.rewrite]] swap (no derived tables to
    * recompute — unlike Bm25, nothing here aggregates across docs);
    * afterwards a probe is identical to one against a fresh build
    * over the surviving corpus (spec + oracle pinned). Deleting every
    * doc removes the layouts (missing dir = empty index, which
    * [[probeBands]] already honors). `docs` is a one-column (doc)
    * frame — anti-joined, never collected.
    */
  def deleteDocs(spark: SparkSession, path: String, docs: DataFrame): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, s"$path/bands",
      Seq("band", "kb"), Seq("bucket", "doc"),
      Map("parquet.page.row.count.limit" -> "512"),
      p => p.join(del, Seq("doc"), "left_anti"))
    graft.core.ParquetCompact.rewrite(spark, s"$path/sets",
      Seq("db"), Seq("doc"), Map.empty,
      p => p.join(del, Seq("doc"), "left_anti"))
    graft.core.Pinned.release(del)
  }
}
