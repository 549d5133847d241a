package graft.pipeline

import graft.core.KeyedWrite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted embedding near-dup index — SEMANTIC dedup's entry in
  * the persisted-index family ([[DedupIndex]] exact-fp,
  * [[NearDupIndex]] minhash, [[Bm25]] lexical, [[Ivf]] dense
  * retrieval): vectors arriving in increments probe everything
  * indexed so far for an earlier cosine near-dup, blocked by a
  * hyperplane LSH signature ([[Similarity.hyperplaneSig]] — the same
  * blocking the one-shot `embed_neardup_lsh` pass uses), verified by
  * the exact [[graft.functions.VectorFunctions.cosineSimD]] kernel.
  *
  * Layout under `path`: one (doc, vec, bucket) row per vector,
  * PARTITIONED BY kb = pmod(bucket, [[Cells]]), bucket-sorted
  * small-page files so probe-time per-bucket In filters prune at the
  * parquet column-index level (the NearDupIndex/StreamingDedup
  * design). Probes read only the kb cells the batch's own signatures
  * fall in.
  *
  * Probe semantics are RELATIONAL (the family contract): emitted
  * pairs are every (d1 < d2, sim ≥ threshold) pair with the same
  * signature bucket and d2 in the increment, so probing disjoint
  * id-ordered increments in sequence reproduces EXACTLY the one-shot
  * [[Dedup.cosinePairsBlocked]] pair set over the union — which is
  * what the oracle replays from the embed_neardup_lsh golden.
  *
  * Contracts mirrored from the family: disjoint increments, FROZEN
  * parameters (dim, bits, seed fixed at build — signatures must be
  * comparable across passes), additive appends with periodic
  * crash-safe [[compactIndex]].
  *
  * 100 TB: per-increment work is one signature scan of the batch,
  * one cell-pruned index read, one bucket equi-join (candidates
  * bounded by bucket occupancy, never all-pairs), exact rescoring
  * only on blocked candidates — probe bytes follow the batch's
  * signature fan-out, not the index size.
  */
object EmbedDedupIndex {

  /** Partition cells for the layout (the 64-cell lesson from
    * NearDupIndex: dir count drives fixed per-pass cost; page stats
    * inside a touched cell do the per-bucket cut).
    */
  val Cells = 64

  private def kbOf(bucket: Column): Column =
    pmod(bucket, lit(Cells.toLong))

  /** The increment's (doc, vec, bucket, kb) frame, pinned: probe
    * sides and the append reuse one materialization.
    */
  private def signed(batch: DataFrame, vecCol: String, idCol: String,
                     dim: Int, bits: Int, seed: Long): DataFrame =
    batch.select(col(idCol).as("doc"), col(vecCol).as("vec"),
        Similarity.hyperplaneSig(col(vecCol), dim, bits, seed).as("bucket"))
      .withColumn("kb", kbOf(col("bucket")))
      .localCheckpoint(true)

  private def writeLayout(sg: DataFrame, path: String): Unit = {
    // empty increment: write nothing (zero-row partitionBy writes
    // create schema-inference landmines; a missing layout IS an
    // empty index — the family's empty-guard)
    if (sg.isEmpty) return
    KeyedWrite.spread(sg, Seq("kb"), Cells)
      .sortWithinPartitions(col("kb"), col("bucket"), col("doc"))
      .write.mode("append")
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("kb")
      .parquet(path)
  }

  private def exists(spark: SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** First contact: index the batch and return its WITHIN-batch pair
    * set (the one-shot blocked pass over the batch alone).
    */
  def buildWithPairs(spark: SparkSession, batch: DataFrame, vecCol: String,
                     idCol: String, path: String, dim: Int, bits: Int,
                     seed: Long = 42L,
                     threshold: Double = 0.3): DataFrame = {
    val sg = signed(batch, vecCol, idCol, dim, bits, seed)
    writeLayout(sg, path)
    val pairs = Dedup.cosinePairsBlocked(sg, "vec", "doc", "bucket", threshold)
      .localCheckpoint(true)
    // pairs are eagerly pinned above, so sg's blocks are dead weight
    graft.core.Pinned.release(sg)
    pairs
  }

  /** One increment: emit every (d1 < d2, sim ≥ threshold) same-bucket
    * pair with d2 in the batch (against the index AND the batch
    * itself), then append the batch. Returns the materialized pairs.
    */
  def probeAndAppend(spark: SparkSession, path: String, batch: DataFrame,
                     vecCol: String, idCol: String, dim: Int, bits: Int,
                     seed: Long = 42L,
                     threshold: Double = 0.3): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    // DirSwap contract — recover BEFORE the existence check, or a
    // mid-swap-parked index reads as "first contact" and gets rebuilt
    // from the batch alone
    graft.core.DirSwap.recoverAt(spark, path)
    if (!exists(spark, path))
      return buildWithPairs(spark, batch, vecCol, idCol, path, dim, bits,
        seed, threshold)
    val sg = signed(batch, vecCol, idCol, dim, bits, seed)
    if (sg.isEmpty) {
      val empty = sg.select(col("doc").as("d1"),
        col("doc").as("d2"), lit(0.0).as("sim")).limit(0)
        .localCheckpoint(true) // detach from sg before releasing it
      graft.core.Pinned.release(sg)
      return empty
    }
    // cell pruning: the batch's kb set is ≤ Cells values — a bounded
    // driver collect by construction. The distinct BUCKET set rides
    // the same pass; when it fits one In-filter chunk it is pushed
    // down too, and with bucket-sorted 512-row pages the scan skips
    // every page holding none of the batch's buckets — probe bytes
    // then follow the batch's bucket occupancy, not the cell size
    // (the NearDupIndex page-pruning design; 256 is the one-chunk
    // or-of-eq bound those measurements established).
    val agg = sg.agg(collect_set(col("kb")).as("kbs"),
        approx_count_distinct(col("bucket")).as("nb")).head()
    val kbs = agg.getSeq[Long](0)
    // the bucket-set collect is gated by a COUNT: a huge batch with a
    // wide signature space is not driver-boundable (the NearDupIndex
    // cutoff pattern); the sketch over-count can only SKIP the
    // optimization, never break it
    val bset =
      if (agg.getLong(1) <= 256)
        sg.select(col("bucket")).distinct().collect()
          .map(_.getLong(0)).toSeq
      else Seq.empty[Long]
    val idxRead = spark.read.parquet(path)
    val idx = idxRead
      .where(graft.core.PartitionIn.inSet(idxRead, "kb", kbs) &&
        (if (bset.nonEmpty && bset.length <= 256)
          col("bucket").isInCollection(bset)
         else lit(true)))
      .select(col("bucket"), col("doc").as("od"), col("vec").as("ov"))
    val cross = idx
      .join(sg.select(col("bucket"), col("doc"), col("vec")), Seq("bucket"))
      .where(col("od") =!= col("doc"))
      .select(least(col("od"), col("doc")).as("d1"),
        greatest(col("od"), col("doc")).as("d2"),
        cosineSimD(col("ov"), col("vec")).as("sim"))
      .where(col("sim") >= threshold)
    val within = Dedup.cosinePairsBlocked(sg, "vec", "doc", "bucket",
      threshold)
    val pairs = cross.unionByName(within).localCheckpoint(true)
    writeLayout(sg, path)
    graft.core.Pinned.release(sg)
    pairs
  }

  /** SEGMENT MERGE — the shard-parallel build topology for semantic
    * dedup: sign each vector shard into its own index concurrently
    * (disjoint docs, FROZEN (dim, bits, seed) across shards — the
    * family's caller-owned params contract; mismatched signatures
    * never collide and silently yield zero cross pairs), then absorb
    * shard `srcPath` into `dstPath` via the per-file-rename move —
    * zero re-signing, zero rows rewritten.
    *
    * Returns the CROSS-SHARD pair report the parallel topology
    * otherwise loses: every (d1 < d2, sim ≥ threshold) same-bucket
    * pair with one doc per shard, verified inline from the vector
    * that rides every signature row. Pre-move snapshot semantics on
    * a crash, per the family contract ([[NearDupIndex.mergeInto]]).
    */
  def mergeInto(spark: SparkSession, dstPath: String, srcPath: String,
                threshold: Double = 0.3): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    graft.core.DirSwap.recoverAt(spark, dstPath)
    graft.core.DirSwap.recoverAt(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    def empty = {
      import spark.implicits._
      Seq.empty[(Long, Long, Double)].toDF("d1", "d2", "sim")
    }
    if (!fs.exists(src)) return empty // absent src IS an empty index
    require(fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"merge destination $dstPath does not exist")
    val sSig = spark.read.parquet(srcPath)
      .select(col("bucket"), col("doc").as("sdoc"), col("vec").as("sv"))
    val dSig = spark.read.parquet(dstPath)
      .select(col("bucket"), col("doc").as("ddoc"), col("vec").as("dv"))
    val pairs = sSig.join(dSig, Seq("bucket"))
      .where(col("sdoc") =!= col("ddoc"))
      .select(least(col("sdoc"), col("ddoc")).as("d1"),
        greatest(col("sdoc"), col("ddoc")).as("d2"),
        when(col("sdoc") < col("ddoc"), cosineSimD(col("sv"), col("dv")))
          .otherwise(cosineSimD(col("dv"), col("sv"))).as("sim"))
      .dropDuplicates("d1", "d2")
      .where(col("sim") >= threshold)
      .localCheckpoint(true) // pre-move snapshot
    graft.core.SegmentMerge.moveTree(fs, src,
      new org.apache.hadoop.fs.Path(dstPath))
    fs.delete(src, true)
    pairs
  }

  /** Crash-safe in-place compaction (shared [[graft.core.ParquetCompact]]
    * two-rename swap); contents-invariant, restores the bucket-sorted
    * small-page probe shape.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.core.ParquetCompact.compact(spark, path, Seq("kb"),
      Seq("bucket", "doc"),
      Map("parquet.page.row.count.limit" -> "512"))

  /** DELETE vectors from the index — right-to-be-forgotten for the
    * semantic-dedup STATE: without it a removed vector's signature
    * row persists and keeps suppressing future cosine near-dups of
    * content the corpus no longer holds. The layout is doc-keyed
    * (one (doc, vec, bucket) row per vector), so deletion is one
    * anti-join filter inside the crash-safe
    * [[graft.core.ParquetCompact.rewrite]] swap; afterwards a probe
    * is identical to one against a fresh build over the surviving
    * vectors (spec + oracle pinned). Deleting every vector removes
    * the layout (missing dir = empty index, which [[probeAndAppend]]
    * already honors). `docs` is a one-column (doc) frame —
    * anti-joined, never collected.
    */
  def deleteDocs(spark: SparkSession, path: String, docs: DataFrame): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, path, Seq("kb"),
      Seq("bucket", "doc"),
      Map("parquet.page.row.count.limit" -> "512"),
      p => p.join(del, Seq("doc"), "left_anti"))
    graft.core.Pinned.release(del)
  }
}
