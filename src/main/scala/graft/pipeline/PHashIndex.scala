package graft.pipeline

import graft.core.KeyedWrite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-hash near-dup index — the MULTIMODAL entry
  * in the persisted-index family ([[DedupIndex]] exact-fp,
  * [[NearDupIndex]] minhash, [[EmbedDedupIndex]] embeddings,
  * [[Bm25]] lexical): media arriving in increments probes everything
  * indexed so far for an earlier perceptual near-dup (Hamming
  * distance over 64-bit fingerprints — image aHash by default; the
  * lifecycle entry points are hasher-parameterized, so the same
  * machinery serves [[Multimodal.audioPHash]] energy-delta and
  * [[Multimodal.videoPHash]] keyframe fingerprints), without ever
  * re-decoding history.
  *
  * Layout under `path`: one (doc, ph, band, key) row per image per
  * band — the [[Multimodal.imageNearDupPairs]] banding persisted —
  * PARTITIONED BY (band, kb = pmod(key, [[KeyBuckets]])), key-sorted
  * small-page files so probe-time per-cell key In-filters prune at
  * the parquet column-index level (the NearDupIndex design). The
  * 64-bit hash rides every band row, so the verify step (popcount of
  * xor ≤ maxDist) needs NO second layout and no extra read — unlike
  * MinHash, the fingerprint IS the verifier.
  *
  * Probe semantics are RELATIONAL (the family contract): emitted
  * pairs are every (d1 < d2, dist ≤ maxDist) pair sharing a band key
  * with d2 in the increment, so probing disjoint id-ordered
  * increments reproduces EXACTLY the one-shot
  * [[Multimodal.imageNearDupPairs]] pair set over the union — by
  * pigeonhole this is ALL pairs within maxDist when
  * `bands > maxDist` (enforced), so the oracle is the one-shot
  * brute-force golden.
  *
  * Contracts mirrored from the family: disjoint increments, FROZEN
  * band count (key layout must be comparable across passes),
  * additive appends with periodic crash-safe [[compactIndex]],
  * doc-keyed [[deleteDocs]] (right-to-be-forgotten).
  *
  * 100 TB: per-increment work is one decode scan of the batch (64
  * bits per image out), one cell-pruned index read, equi-joins on
  * (band, key) — probe bytes follow the batch's band fan-out and
  * bucket occupancy, never the index size.
  */
object PHashIndex {

  /** Band count / key width (64 / Bands bits). 8 bands ⇒ lossless
    * blocking through maxDist 7.
    */
  val Bands = 8

  /** Key-buckets per band: Bands × KeyBuckets = 32 partition cells
    * (the 64-cell family lesson halved — keys here are only 8 bits,
    * so within-cell page stats already cut to ≤ 64 key values per
    * bucket).
    */
  val KeyBuckets = 4

  private def kbOf(key: Column): Column =
    pmod(key, lit(KeyBuckets.toLong))

  /** The default (image) hasher; every lifecycle entry point takes a
    * `hasher` so the SAME index machinery serves any 64-bit
    * perceptual fingerprint — [[Multimodal.audioPHash]] and
    * [[Multimodal.videoPHash]] included. Frozen-params contract: one
    * hasher per index, fixed at build.
    */
  val ImageHasher: Column => Column = Multimodal.imagePHash(_)

  /** The increment's PINNED (doc, ph, band, key, kb) band rows — ONE
    * decode + band-explode pass shared by the probe sides AND the
    * append write (the chunk derivation is
    * [[Multimodal.bandChunks]] — the same decomposition the one-shot
    * pairs use, so the pigeonhole equivalence holds by construction).
    */
  private def bandedOf(batch: DataFrame, bytesCol: String, idCol: String,
                       hasher: Column => Column): DataFrame =
    batch.select(col(idCol).as("doc"),
        hasher(col(bytesCol)).as("ph"))
      .where(col("ph").isNotNull)
      .select(col("doc"), col("ph"),
        posexplode(array(Multimodal.bandChunks(col("ph"), Bands): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      .withColumn("kb", kbOf(col("key")))
      .localCheckpoint(true)

  private def writeLayout(bnd: DataFrame, path: String,
                          mode: String): Unit = {
    // empty increment: write nothing (the family's empty-guard; a
    // missing layout IS an empty index)
    if (bnd.isEmpty) return
    KeyedWrite.spread(bnd, Seq("band", "kb"), Bands * KeyBuckets)
      .sortWithinPartitions(col("band"), col("kb"), col("key"), col("doc"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("band", "kb")
      .parquet(path)
  }

  private def exists(spark: SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Build over the corpus so far (overwrite). */
  def writeIndex(spark: SparkSession, docs: DataFrame, bytesCol: String,
                 idCol: String, path: String,
                 hasher: Column => Column = ImageHasher): Unit = {
    val bnd = bandedOf(docs, bytesCol, idCol, hasher)
    writeLayout(bnd, path, "overwrite")
    graft.core.Pinned.release(bnd)
  }

  /** Build AND return the build corpus's own pairs from one decode
    * scan (the family's buildWithPairs shape).
    */
  def buildWithPairs(spark: SparkSession, docs: DataFrame, bytesCol: String,
                     idCol: String, path: String, maxDist: Int = 6,
                     hasher: Column => Column = ImageHasher): DataFrame = {
    val bnd = bandedOf(docs, bytesCol, idCol, hasher)
    writeLayout(bnd, path, "overwrite")
    val pairs = pairsAgainst(spark, path, bnd, maxDist, againstIndex = false)
    graft.core.Pinned.release(bnd)
    pairs
  }

  /** One increment: emit every (d1 < d2, dist ≤ maxDist) pair with d2
    * in the batch (against the index AND the batch itself), then
    * append the batch. Returns the materialized pairs.
    */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
                     bytesCol: String, idCol: String, maxDist: Int = 6,
                     hasher: Column => Column = ImageHasher): DataFrame = {
    // DirSwap contract — recover BEFORE the existence check, or a
    // mid-swap-parked index reads as "first contact" and gets rebuilt
    // from the batch alone
    graft.core.DirSwap.recoverAt(spark, path)
    if (!exists(spark, path))
      return buildWithPairs(spark, batch, bytesCol, idCol, path, maxDist,
        hasher)
    val bnd = bandedOf(batch, bytesCol, idCol, hasher)
    val pairs = pairsAgainst(spark, path, bnd, maxDist, againstIndex = true)
    writeLayout(bnd, path, "append")
    graft.core.Pinned.release(bnd)
    pairs
  }

  /** Probe only (parameters MUST match the build's band layout). */
  def probe(spark: SparkSession, path: String, batch: DataFrame,
            bytesCol: String, idCol: String, maxDist: Int = 6,
            hasher: Column => Column = ImageHasher): DataFrame = {
    graft.core.DirSwap.recoverAt(spark, path) // serving-read contract
    val bnd = bandedOf(batch, bytesCol, idCol, hasher)
    val pairs = pairsAgainst(spark, path, bnd, maxDist,
      againstIndex = exists(spark, path))
    graft.core.Pinned.release(bnd)
    pairs
  }

  /** Probe core over a pinned (doc, ph) frame: in-batch pairs via the
    * banded self-join; index pairs via a cell-pruned read of the
    * (band, kb) cells the batch's own keys fall in, with per-cell
    * chunked key In pushdown (keys are ≤ 256 values per band — always
    * driver-boundable, no count gate needed, unlike the 64-bit
    * MinHash buckets).
    */
  private def pairsAgainst(spark: SparkSession, path: String, bnd: DataFrame,
                           maxDist: Int,
                           againstIndex: Boolean): DataFrame = {
    require(maxDist < Bands,
      s"banded blocking is only lossless for maxDist < $Bands bands")
    val candIn = bnd.as("a").join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"),
        col("a.ph").as("p1"), col("b.ph").as("p2"))
    val candIdx =
      if (!againstIndex) candIn.limit(0)
      else {
        // cell + key pruning: the batch's (band, key) set is ≤
        // Bands × 256 values by construction — collected in one pass,
        // pushed as per-cell In filters over the key-sorted pages
        val keys = bnd.select(col("band"), col("kb"), col("key"))
          .distinct().collect()
          .map(r => (r.getInt(0).toLong * KeyBuckets + r.getLong(1),
            r.getLong(2)))
          .groupBy(_._1)
        val idxRead = spark.read.parquet(path)
        def cellRead(cell: Long, ks: Seq[Long]) = idxRead
          .where(col("band").cast("long") * KeyBuckets +
            col("kb").cast("long") === cell &&
            col("key").isInCollection(ks))
        val idx = keys.toSeq.sortBy(_._1).map { case (cell, ks) =>
          cellRead(cell, ks.map(_._2).sorted)
        }.reduceOption(_ union _)
        idx match {
          case None => candIn.limit(0)
          case Some(read) =>
            read.select(col("band"), col("key"), col("doc").as("idoc"),
                col("ph").as("iph"))
              .join(bnd.select(col("band"), col("key"),
                col("doc").as("bdoc"), col("ph").as("bph")),
                Seq("band", "key"))
              .where(col("idoc") =!= col("bdoc"))
              .select(least(col("idoc"), col("bdoc")).as("d1"),
                greatest(col("idoc"), col("bdoc")).as("d2"),
                when(col("idoc") < col("bdoc"), col("iph"))
                  .otherwise(col("bph")).as("p1"),
                when(col("idoc") < col("bdoc"), col("bph"))
                  .otherwise(col("iph")).as("p2"))
        }
      }
    // snapshot semantics (the family contract): materialize before
    // the caller appends/compacts over the same files
    val pairs = candIn.unionByName(candIdx)
      .select(col("d1"), col("d2"),
        bit_count(col("p1").bitwiseXOR(col("p2"))).as("dist"))
      .dropDuplicates("d1", "d2")
      .where(col("dist") <= maxDist)
      .localCheckpoint(true)
    // bnd is caller-owned (shared with the append write) — the caller
    // releases it once the eagerly-pinned pairs are materialized
    pairs
  }

  /** SEGMENT MERGE — the shard-parallel build topology for
    * perceptual dedup: hash each media shard into its own index
    * concurrently (disjoint docs, ONE hasher and frozen band count
    * across shards — the family's caller-owned params contract), then
    * absorb shard `srcPath` into `dstPath` via the per-file-rename
    * move — zero re-decoding, zero rows rewritten.
    *
    * Returns the CROSS-SHARD pair report the parallel topology
    * otherwise loses: every (d1 < d2, dist ≤ maxDist) pair with one
    * doc per shard — candidates blocked on a shared persisted band
    * key (pigeonhole-lossless for maxDist < [[Bands]], same as the
    * probes), verified inline from the hash that rides every band
    * row. Pre-move snapshot semantics on a crash, per the family
    * contract ([[NearDupIndex.mergeInto]]).
    */
  def mergeInto(spark: SparkSession, dstPath: String, srcPath: String,
                maxDist: Int = 6): DataFrame = {
    require(maxDist < Bands,
      s"banded blocking is only lossless for maxDist < $Bands bands")
    graft.core.DirSwap.recoverAt(spark, dstPath)
    graft.core.DirSwap.recoverAt(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    def empty = {
      import spark.implicits._
      Seq.empty[(Long, Long, Int)].toDF("d1", "d2", "dist")
    }
    if (!fs.exists(src)) return empty // absent src IS an empty index
    require(fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"merge destination $dstPath does not exist")
    val sBnd = spark.read.parquet(srcPath)
      .select(col("band"), col("key"), col("doc").as("sdoc"),
        col("ph").as("sph"))
    val dBnd = spark.read.parquet(dstPath)
      .select(col("band"), col("key"), col("doc").as("ddoc"),
        col("ph").as("dph"))
    val pairs = sBnd.join(dBnd, Seq("band", "key"))
      .where(col("sdoc") =!= col("ddoc"))
      .select(least(col("sdoc"), col("ddoc")).as("d1"),
        greatest(col("sdoc"), col("ddoc")).as("d2"),
        bit_count(col("sph").bitwiseXOR(col("dph"))).as("dist"))
      .dropDuplicates("d1", "d2")
      .where(col("dist") <= maxDist)
      .localCheckpoint(true) // pre-move snapshot
    graft.core.SegmentMerge.moveTree(fs, src,
      new org.apache.hadoop.fs.Path(dstPath))
    fs.delete(src, true)
    pairs
  }

  /** Crash-safe in-place compaction; contents-invariant. */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.core.ParquetCompact.compact(spark, path, Seq("band", "kb"),
      Seq("key", "doc"), Map("parquet.page.row.count.limit" -> "512"))

  /** DELETE images from the index (right-to-be-forgotten for the
    * multimodal dedup state): one doc-keyed anti-join filter inside
    * the crash-safe rewrite swap, same as the text/embedding family.
    * `docs` is a one-column (doc) frame — anti-joined, never
    * collected. Deleting every image removes the layout (missing dir
    * = empty index, which [[probe]] honors).
    */
  def deleteDocs(spark: SparkSession, path: String, docs: DataFrame): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, path, Seq("band", "kb"),
      Seq("key", "doc"), Map("parquet.page.row.count.limit" -> "512"),
      p => p.join(del, Seq("doc"), "left_anti"))
    graft.core.Pinned.release(del)
  }
}
