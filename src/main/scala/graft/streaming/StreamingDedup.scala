package graft.streaming

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Near-dup deduplication ON INGEST — the missing half of the batch
  * dedup family (§ training-data pipeline): documents arrive as a
  * stream and each microbatch is deduplicated against everything seen
  * before it, without ever re-scanning the corpus.
  *
  * Design (the 100 TB ingestion shape):
  *  - per-document work is a single simhash over the text
  *    ([[Dedup.simhash64]], 64-bit signature);
  *  - the accumulated state is a SIGNATURE INDEX, not the corpus: an
  *    exploded (band, key, doc, sh) table partitioned by
  *    (band, kb = key % [[IndexBuckets]]) — 4×16-bit bands, pigeonhole
  *    guarantees recall for Hamming ≤ 3, band-candidate filter beyond
  *    that. The per-batch probe reads ONLY the bucket dirs the batch's
  *    own keys fall in (PartitionFilters pruning), so probe bytes
  *    follow the batch's bucket fan-out, not the index size;
  *  - the drop policy is RELATIONAL, not sequential: a document is
  *    dropped iff some prior document — an earlier id inside the same
  *    microbatch, or any already-indexed document — is within
  *    `maxDist`. No order-dependent greedy chain, so the result is
  *    independent of batch boundaries AND expressible as one batch
  *    query (the oracle): kept(d) ⇔ ¬∃ e < d sharing a band with
  *    hamming(sig_e, sig_d) ≤ maxDist.
  *
  * All seen signatures are indexed (kept and dropped alike) — "similar
  * to anything seen" is the training-data contract: a near-dup of a
  * dropped document is still a near-dup of the corpus.
  */
object StreamingDedup {

  /** Key-buckets per band in the on-disk index layout: partition dirs
    * are (band, kb = key % IndexBuckets), so a microbatch probe prunes
    * the read to the buckets its own keys fall in. Probe bytes then
    * scale with the batch's bucket fan-out (≤ 4 × batch-distinct keys,
    * hard-capped at 4 × IndexBuckets dirs) times per-bucket size —
    * ~1/256 of the index each — instead of re-reading the whole index
    * every batch.
    */
  val IndexBuckets = 16

  /** Per-key page pruning inside touched buckets: batch key sets up to
    * this size are pushed down to parquet (in sorted chunks of
    * [[ProbeKeyChunk]] values, one unioned sub-scan per chunk); larger
    * sets fall back to the plain bucket read — they cover so much of
    * the 16-bit key space that page pruning stops paying.
    */
  val ProbeKeyFilterCutoff = 4096

  /** Keys per pushed In-filter chunk. Parquet evaluates an In of ≤
    * `spark.sql.parquet.pushdown.inFilterThreshold` values as an
    * or-of-eq chain against page (column-index) stats — the only form
    * that prunes per VALUE (native set predicates and the min/max
    * range fallback both collapse to the set's span, which is the
    * whole key space for a uniform batch; measured). The chain is
    * evaluated recursively, so chunks stay small — thousands-deep
    * chains overflow the stack (measured at 2000).
    */
  val ProbeKeyChunk = 256

  /** 16-bit bands per 64-bit signature. */
  private val Bands = 4

  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc"), col("sh"),
      posexplode(array((0 until Bands).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      .withColumn("kb", col("key") % IndexBuckets)

  /** Partition-pruned index read for a probe's (band·IndexBuckets + kb)
    * id set: band and kb are partition columns, so the `isin` lands in
    * PartitionFilters and unmatched bucket directories are never
    * listed or read. Package-private for the pruning assertion in
    * StreamingDedupSpec.
    *
    * `keys` — the batch's distinct 16-bit band keys — adds DATA-level
    * pruning WITHIN the touched buckets: index files are key-sorted
    * with small pages at write, so a pushed per-key filter skips every
    * page whose key range holds none of the batch's keys (parquet
    * column-index stats). That is what keeps a large batch's probe
    * sublinear in the index: a batch touching all 64 bucket dirs still
    * reads only the pages its own keys can land in, and as the index
    * grows each 512-row page covers an ever-narrower key range, so the
    * scanned fraction keeps shrinking (measured 4× at ~200k rows,
    * asymptotically the rows actually bearing the probed keys).
    *
    * Two structural details carry the pruning power: the probe is
    * split into one sub-scan per kb residue, so each pushed key set
    * contains only keys its dirs can hold (a foreign-residue key
    * almost always falls inside some page's [min, max] and defeats the
    * stat check — measured 72% scanned without the split, 24% with);
    * and each key set is chunked per [[ProbeKeyChunk]], because
    * parquet only evaluates In per VALUE as an or-of-eq chain (the
    * recursive chain overflows the stack past ~2000 legs, and the
    * over-threshold fallbacks collapse to the set's [min, max] span —
    * the whole key space for a uniform batch). Key sets past
    * [[ProbeKeyFilterCutoff]] read the buckets whole.
    */
  private[graft] def probeIndex(spark: SparkSession, indexPath: String,
                                    bucketIds: Seq[Long],
                                    keys: Seq[Long] = Nil): DataFrame = {
    def read(ids: Seq[Long]) = spark.read.parquet(indexPath)
      .where((col("band").cast("long") * IndexBuckets +
        col("kb").cast("long")).isin(ids: _*))
    if (keys.isEmpty || keys.length > ProbeKeyFilterCutoff) read(bucketIds)
    else keys.groupBy(_ % IndexBuckets).toSeq.sortBy(_._1).flatMap {
      case (kb, ks) =>
        val ids = bucketIds.filter(_ % IndexBuckets == kb)
        if (ids.isEmpty) Nil
        else ks.sorted.grouped(ProbeKeyChunk).map(chunk =>
          read(ids).where(col("key").isin(chunk: _*)))
    }.reduceOption(_ union _) // groups disjoint: plain concat, no dedupe
      .getOrElse(read(bucketIds).limit(0))
  }

  /** One microbatch step: flag near-dups of prior docs, append all new
    * signatures to the index, append survivors to `outPath`. Exposed
    * for testing; [[ingest]] wires it into foreachBatch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                   idCol: String, indexPath: String, outPath: String,
                   maxDist: Int): Unit = {
    val sigs = batch
      .select(col(idCol).as("doc"), Dedup.simhash64(col(textCol)).as("sh"))
    val newBanded = banded(sigs).localCheckpoint(true) // one UDF pass
    if (newBanded.isEmpty) {
      // an empty microbatch must write NOTHING: a zero-row partitionBy
      // append still creates the index directory, and the next batch's
      // index read then dies on schema inference over zero files
      graft.core.Pinned.release(newBanded)
      return
    }
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // within-batch: an earlier id in the same band bucket within range
    val intra = newBanded.as("a").join(newBanded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .where(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxDist)
      .select(col("b.doc").as("doc"))

    // against the accumulated index: any prior doc within range. The
    // batch's bucket-id and key sets are bounded driver collects
    // (≤ 4 × IndexBuckets = 256 bucket ids; ≤ 2^16 distinct 16-bit
    // keys, however large the batch), and feed the partition- and
    // page-pruned probe — only matching (band, kb) dirs are read, and
    // within them only the pages holding the batch's own keys.
    val versusIndex =
      if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath))) intra.limit(0)
      else {
        val pk = newBanded
          .select((col("band") * IndexBuckets + col("kb")).as("p"), col("key"))
          .distinct().collect()
        val bucketIds = pk.map(_.getLong(0)).distinct.toSeq
        val keys = pk.map(_.getLong(1)).distinct.toSeq
        if (bucketIds.isEmpty) intra.limit(0) // empty microbatch: no probe
        else probeIndex(spark, indexPath, bucketIds, keys).as("i")
          .join(newBanded.as("b"),
            col("i.band") === col("b.band") && col("i.key") === col("b.key"))
          .where(bit_count(col("i.sh").bitwiseXOR(col("b.sh"))) <= maxDist)
          .select(col("b.doc").as("doc"))
      }

    // the probe's chunked key filters only prune per-value while
    // parquet converts them to or-of-eq chains — raise the In
    // threshold past the chunk size for the probe-consuming action
    // (ref-counted lease: safe beside any concurrently-probing tier)
    val dropped = graft.core.ConfLease.withRaised(spark,
      "spark.sql.parquet.pushdown.inFilterThreshold",
      ProbeKeyChunk + 1L) {
      intra.union(versusIndex).distinct().localCheckpoint(true)
    }
    val kept = sigs.join(dropped, Seq("doc"), "left_anti").select(col("doc"))
    kept.write.mode(SaveMode.Append).parquet(outPath)
    appendIndex(newBanded, indexPath)
    graft.core.Pinned.release(newBanded)
    graft.core.Pinned.release(dropped)
  }

  /** Append banded signature rows to the on-disk index. One file per
    * touched (band, kb) dir per batch: repartition on the partition
    * keys first, or partitionBy fans every write task out across all
    * 64 dirs (task-count × dirs tiny files). Rows are KEY-SORTED
    * within each file and pages kept small (512 rows) so probe-time
    * per-key filters prune at the parquet column-index level — the
    * piece that keeps a large batch's probe sublinear in index size.
    */
  private[graft] def appendIndex(banded: DataFrame,
                                     indexPath: String): Unit =
    // the sort leads with the partition columns ON PURPOSE: a dynamic
    // partitionBy write REQUIRES (band, kb) ordering, and a sort that
    // doesn't already satisfy it gets replaced by the writer's own
    // (band, kb)-only sort — silently destroying the key order the
    // probe's page pruning depends on (measured: zero pruning)
    // explicit count (KeyedWrite), capped at the layout's dir count
    graft.core.KeyedWrite.spread(banded, Seq("band", "kb"),
        Bands * IndexBuckets)
      .sortWithinPartitions(col("band"), col("kb"), col("key"))
      .write.mode(SaveMode.Append)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("band", "kb").parquet(indexPath)

  /** LSM-style compaction: rewrite the accumulated index into one
    * key-sorted file per (band, kb) dir. Per-batch appends keep each
    * file small — a tiny file is a single parquet page, so the probe's
    * per-key page filters have nothing to skip and probe cost grows
    * with FILE COUNT; compaction restores the big-sorted-file shape
    * where a probe reads only the pages its keys land in, whatever the
    * index size. Contents are invariant (same rows, one layout), so
    * results never change — run it every K batches ([[ingest]]'s
    * `compactEvery`) or offline between runs.
    */
  def compactIndex(spark: SparkSession, indexPath: String): Unit =
    graft.core.ParquetCompact.compact(spark, indexPath,
      partitionCols = Seq("band", "kb"),
      sortCols = Seq("key"), // see appendIndex — probe page pruning needs key order
      options = Map("parquet.page.row.count.limit" -> "512"))

  /** Stream the documents table through the incremental dedup; kept
    * doc ids land in `outPath`, signatures in `indexPath`. Returns
    * after the static source is fully processed. `compactEvery` > 0
    * runs [[compactIndex]] after every that-many batches (results are
    * layout-invariant; 0 disables — compact offline instead).
    */
  def ingest(spark: SparkSession, dir: String, indexPath: String,
             outPath: String, maxDist: Int = 12,
             compactEvery: Int = 0,
             compactFilesPerDir: Double = 0.0): Unit =
    StagedIngest.run(spark, s"$dir/documents.parquet",
        StagedIngest.Whole("doc_id"), "ndup") { (runKey, _) =>
      val runId = BatchLedger.openRunForIndex(spark, indexPath, runKey,
        dataPath = indexPath)
      (batch, batchId) => {
        val s = batch.sparkSession
        // guards the index append and the kept-id write together — a
        // replayed batch would otherwise duplicate both
        BatchLedger.once(s, indexPath, runId, batchId) {
          processBatch(s, batch, "text", "doc_id", indexPath, outPath,
            maxDist)
        }
        graft.core.ParquetCompact.afterBatch(s, batchId, compactEvery,
            compactFilesPerDir, indexPath) {
          compactIndex(s, indexPath)
        }
      }
    }
}
