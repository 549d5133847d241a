package graft.pipeline

import graft.core.{KeyedWrite, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SPARSE-vector retrieval — the learned-sparse (SPLADE / uniCOIL
  * class) serving tier, completing the retrieval family: [[Bm25]]
  * scores exact lexical terms, [[Ivf]] serves dense embeddings, and
  * this serves high-dimensional sparse weight vectors through an
  * INVERTED index over active dimensions, the standard engine design
  * for learned-sparse models (dimension ≈ vocabulary term, weight ≈
  * learned impact).
  *
  * Representation: a vector becomes its active (dim, w) postings —
  * dims whose value ≥ `tau`, weights FIXED-POINT integers
  * (round(value · scale)) so scores are exact integer dot products:
  * deterministic across partitionings and engines (the rrf_fp
  * lesson), with ties broken by doc id. Scoring is EXACT over the
  * index — an inverted index loses nothing for sparse dot products
  * (only dims both sides activate contribute); there is no
  * recall/probe trade-off on this tier at all.
  *
  * Layout under `path`: (doc, dim, w) postings PARTITIONED BY
  * dbk = pmod(dim, [[DimBuckets]]), dim-sorted small-page files —
  * a search lists only the buckets its query dims fall in and pushes
  * the dim set as In filters over the page stats (the Bm25/NearDup
  * pruning design). Searches read candidate postings only for the
  * QUERY's active dims: work follows posting-list lengths, never
  * corpus size.
  *
  * Lifecycle mirrors the family: additive [[appendToIndex]] under
  * disjoint doc ids, crash-safe [[compactIndex]] /[[deleteDocs]] via
  * the shared [[graft.core.ParquetCompact]] swap, and
  * [[mergeInto]] segment merges (per-doc postings — a pure
  * [[graft.core.SegmentMerge]] file move, nothing to reconcile).
  *
  * 100 TB: per-query cost is Σ posting-list lengths over its active
  * dims (document-at-a-time, one partial-agg shuffle keyed by
  * (qid, doc) candidates); the layout adds buckets with dimension
  * count, not corpus size. Static index pruning (dropping low-impact
  * postings, the standard learned-sparse serving trade) is the `tau`
  * knob at sparsify time.
  */
object Sparse {

  /** Dim-buckets for the inverted layout (the family's 64-cell
    * lesson halved again: fixture vectors carry 64 dims, and page
    * stats inside a touched bucket do the per-dim cut; a SPLADE-size
    * 30k-dim space still spreads ~2k dims per bucket with In-filter
    * pushdown per query dim).
    */
  val DimBuckets = 16

  /** Fixed-point weight scale: 1e4 keeps float32-range weights exact
    * in a long and leaves 2^63 / (1e4·1e4) ≈ 9e10 headroom on summed
    * dot products — far beyond any real active-dim count.
    */
  val DefaultScale = 10000.0

  private def dbkOf(dim: Column): Column =
    pmod(dim, lit(DimBuckets.toLong))

  /** Explode a dense vector column into its ACTIVE (doc, dim, w)
    * postings: dims with value ≥ tau, fixed-point integer weights.
    * Double math on both factors so the oracle mirror (DuckDB doing
    * the same double math on the same float32 inputs) lands on
    * identical integers.
    */
  def sparsify(df: DataFrame, vecCol: String, idCol: String,
               tau: Double = 0.05,
               scale: Double = DefaultScale): DataFrame =
    df.select(col(idCol).as("doc"), posexplode(col(vecCol)))
      .where(col("col").cast("double") >= tau)
      .select(col("doc"), (col("pos").cast("long") + 1L).as("dim"),
        round(col("col").cast("double") * scale).cast("long").as("w"))

  /** Exact sparse top-k over in-memory postings frames: integer dot
    * product over shared dims, ranked per query with doc-id
    * tie-breaks. `queries` is a (qid, dim, w) frame (a [[sparsify]]
    * of the query vectors) — small by the family's query contract,
    * broadcast into the postings join.
    */
  def topK(postings: DataFrame, queries: DataFrame, k: Int,
           excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("doc").as("qid"), col("dim"),
      col("w").as("qw"))
    val scored = postings.join(broadcast(q), Seq("dim"))
      .where(if (excludeSelf) col("doc") =!= col("qid") else lit(true))
      .groupBy(col("qid"), col("doc").as("nid"))
      .agg(sum(col("w") * col("qw")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Build the inverted layout (overwrite): dim-bucket partition
    * dirs, dim-sorted 512-row pages for per-dim In pruning.
    */
  def writeIndex(postings: DataFrame, path: String): Unit =
    writeLayout(postings, path, SaveMode.Overwrite)

  /** Additive append under the family's disjoint-docs contract; the
    * grown layout serves identically to a one-shot build (postings
    * are per-doc rows — oracle-pinned).
    */
  def appendToIndex(spark: SparkSession, postings: DataFrame,
                    path: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, path) // family append contract
    writeLayout(postings, path, SaveMode.Append)
  }

  private def writeLayout(postings: DataFrame, path: String,
                          mode: SaveMode): Unit = {
    if (postings.isEmpty) return // missing layout IS an empty index
    val rows = postings.select(col("doc"), col("dim"), col("w"))
      .withColumn("dbk", dbkOf(col("dim")))
    KeyedWrite.spread(rows, Seq("dbk"), DimBuckets)
      .sortWithinPartitions(col("dbk"), col("dim"), col("doc"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("dbk")
      .parquet(path)
  }

  /** Serve exact sparse top-k from the persisted layout — identical
    * results to [[topK]] over the same corpus (oracle-pinned). Only
    * the query dims' buckets are LISTED (partition pruning) and only
    * their pages read (dim In pushdown over the dim-sorted pages —
    * the query's active-dim set is bounded by construction: #queries
    * × vector dims, the family's small-query-frame contract).
    *
    * `docFilter` is filter-inside-search over the postings' `doc`
    * column (the [[Bm25.searchIndex]] docFilter contract): pushed
    * below the ranking cut, so k survivors are k FILTERED survivors
    * — and because sparse serving is exact, the filtered result is
    * exactly brute force over the filtered corpus, no oversampling
    * needed (unlike the probed dense tier).
    */
  def searchIndex(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int, excludeSelf: Boolean = true,
                  docFilter: Option[Column] = None): DataFrame =
    searchSegments(spark, Seq(path), queries, k, excludeSelf, docFilter)

  /** Serve exact sparse top-k over the UNION of several segment
    * layouts WITHOUT a physical merge — the LSM read path between
    * [[mergeInto]] compactions (a new shard lands as its own root
    * and serves immediately; the merge becomes background
    * maintenance, not a serving prerequisite). Each segment's own
    * tombstone mask applies to its rows; absent or data-less roots
    * are empty segments (the family's missing-layout convention).
    * Sparse scores are per-(query, doc) integer dot products with no
    * cross-segment statistics, so under the family's disjoint-docs
    * contract the result is IDENTICAL to serving the physically
    * merged index (spec-pinned against mergeInto + searchIndex).
    */
  def searchSegments(spark: SparkSession, paths: Seq[String],
                     queries: DataFrame, k: Int,
                     excludeSelf: Boolean = true,
                     docFilter: Option[Column] = None): DataFrame =
    scoredCandidates(spark, paths, queries, excludeSelf, docFilter) match {
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long, Long, Int)].toDF("qid", "nid", "score", "rk")
      case Some((q, scored)) =>
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("nid").asc)
        val out = scored.withColumn("rk", row_number().over(w))
          .where(col("rk") <= k)
          .localCheckpoint(true) // snapshot before appends/compactions
        graft.core.Pinned.release(q)
        out
    }

  /** GROUPED (multi-tenant) top-k from the persisted layout — top-k
    * PER (query, group) in the same single scan pass
    * ([[Ivf.searchGrouped]]'s serving shape on the exact tier):
    * sparse serving is exact and full over the query's dims, so
    * tenant isolation is purely the ranking key — score once per
    * (query, doc), attach each doc's tenant, window by (qid, group).
    * `docGroups` is a (doc, groupCol) frame; docs it does not cover
    * belong to no tenant and drop. At 100 TB prefer deriving the
    * group from an expression over `doc` or joining a broadcast-able
    * mapping — the join sits above the bounded candidate aggregation
    * (≤ Σ posting-list lengths rows), never the corpus.
    */
  def searchIndexGrouped(spark: SparkSession, path: String,
                         queries: DataFrame, k: Int, groupCol: String,
                         docGroups: DataFrame,
                         excludeSelf: Boolean = true,
                         docFilter: Option[Column] = None): DataFrame =
    scoredCandidates(spark, Seq(path), queries, excludeSelf, docFilter) match {
      case None =>
        // derive the empty frame from docGroups so groupCol keeps its
        // caller-defined type
        docGroups.select(lit(0L).as("qid"), col(groupCol),
          lit(0L).as("nid"), lit(0L).as("score"), lit(0).as("rk")).limit(0)
      case Some((q, scored)) =>
        val w = Window.partitionBy(col("qid"), col(groupCol))
          .orderBy(col("score").desc, col("nid").asc)
        val out = scored
          .join(docGroups.select(col("doc").as("nid"), col(groupCol)),
            Seq("nid"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= k)
          .select(col("qid"), col(groupCol), col("nid"), col("score"),
            col("rk"))
          .localCheckpoint(true)
        graft.core.Pinned.release(q)
        out
    }

  /** The shared serving-scan prefix of the search entry points: the
    * pruned, masked, filtered postings joined to the (pinned) query
    * frame and aggregated to (qid, nid, score) candidates. None when
    * the layout or the query's active-dim set is empty; the caller
    * MUST [[graft.core.Pinned.release]] the returned query pin after
    * materializing its cut.
    */
  private def scoredCandidates(spark: SparkSession, paths: Seq[String],
                               queries: DataFrame, excludeSelf: Boolean,
                               docFilter: Option[Column])
      : Option[(DataFrame, DataFrame)] = {
    paths.foreach(p => graft.core.DirSwap.recoverAt(spark, p))
    // a missing OR data-less layout IS an empty index/segment (the
    // family contract — a delete-everything pass removes the
    // directory, and crash leftovers can leave a dir holding only
    // sidecars, which schema inference would die on)
    val live = paths.filter(p => Tombstones.hasData(spark, p, "dbk="))
    if (live.isEmpty) return None
    val q = queries.select(col("doc").as("qid"), col("dim"),
      col("w").as("qw")).localCheckpoint(true)
    val dims = q.select(col("dim")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (dims.isEmpty) {
      graft.core.Pinned.release(q)
      // standalone frame: the released checkpoint must not back it
      return None
    }
    val buckets = dims.map(_ % DimBuckets).distinct
    // per-segment pruned scan + that segment's own tombstone mask
    // (un-hinted: AQE broadcasts the set while the fold cadence keeps
    // it tiny, an overgrown mask degrades to a shuffle join instead
    // of an executor OOM), then one union — scores never mix masks
    // across segments
    // head-schema reuse across segments (SparseSegmentsCurve: the
    // per-segment schema-inference footer reads cost ~0.11 s/segment;
    // sound — one writeLayout writes every sparse layout)
    val headRead = spark.read.parquet(live.head)
    val idx = live.zipWithIndex.map { case (path, i) =>
      val idx0 =
        if (i == 0) headRead
        else spark.read.schema(headRead.schema).parquet(path)
      val idx1 = idx0
        .where(graft.core.PartitionIn.inSet(idx0, "dbk", buckets) &&
          col("dim").isInCollection(dims))
        .where(docFilter.getOrElse(lit(true)))
      Tombstones.mask(spark, idx1, path, "doc")
    }.reduce(_ unionByName _)
    val scored = idx.join(broadcast(q), Seq("dim"))
      .where(if (excludeSelf) col("doc") =!= col("qid") else lit(true))
      .groupBy(col("qid"), col("doc").as("nid"))
      .agg(sum(col("w") * col("qw")).as("score"))
    Some((q, scored))
  }

  /** TOMBSTONE deletes at serving latency (the family's Lucene
    * live-docs model, [[Ivf.tombstoneVectors]]'s twin): O(|ids|)
    * [[graft.core.Tombstones]] sidecar append; [[searchIndex]] masks
    * the ids on every serve until [[foldTombstones]] retires them into
    * a physical rewrite. The data witness is the dbk= dirs: an absent
    * or emptied layout takes no sidecar.
    */
  def tombstoneDocs(spark: SparkSession, path: String,
                    ids: DataFrame): Unit = {
    graft.core.DirSwap.recoverAt(spark, path) // sidecar beside the live copy
    Tombstones.add(spark, path, ids, "doc",
      Tombstones.hasData(spark, path, "dbk="))
  }

  /** Retire the mask into a physical [[deleteDocs]]-shaped rewrite;
    * the sidecar is shed atomically with the swap (dropHidden) and
    * then dropped, which heals a pre-dropHidden crash leftover —
    * idempotent at any crash point (the [[Ivf.foldTombstones]]
    * argument verbatim).
    */
  def foldTombstones(spark: SparkSession, path: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.fold(spark, path, "doc",
      Tombstones.hasData(spark, path, "dbk="))(
      rewriteWithout(spark, path, _, Set(Tombstones.Name)))
  }

  /** Crash-safe in-place compaction; contents-invariant, restores the
    * dim-sorted small-page shape per-dim pruning depends on.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.core.ParquetCompact.compact(spark, path, Seq("dbk"),
      Seq("dim", "doc"), Map("parquet.page.row.count.limit" -> "512"))

  /** DELETE documents (right-to-be-forgotten for the sparse serving
    * tier): postings are doc-keyed, one anti-join filter inside the
    * crash-safe rewrite swap. Deleting every doc removes the layout.
    */
  def deleteDocs(spark: SparkSession, path: String, docs: DataFrame): Unit =
    rewriteWithout(spark, path, docs)

  /** The physical delete under both [[deleteDocs]] and
    * [[foldTombstones]]: one crash-safe rewrite anti-joining ONE
    * pinned id set.
    */
  private def rewriteWithout(spark: SparkSession, path: String,
                             docs: DataFrame,
                             dropHidden: Set[String] = Set.empty): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, path, Seq("dbk"),
      Seq("dim", "doc"), Map("parquet.page.row.count.limit" -> "512"),
      p => p.join(del, Seq("doc"), "left_anti"), dropHidden = dropHidden)
    graft.core.Pinned.release(del)
  }

  /** UPSERT — replace-by-id for re-embedded documents: physical
    * delete of the ids' old postings plus a fresh sparsify-append
    * (id-based tombstones cannot express replace — the mask would
    * hide the new copy too, the [[Ivf.upsertVectors]] argument).
    * Exact and idempotent under a crash+re-run: the re-run's delete
    * removes whatever state the crashed run left for these ids (old
    * postings, or the first run's already-committed replacements) and
    * the append re-lands the one correct copy — any crash point
    * converges to the same final layout. The batch's ids also REVIVE
    * from any live tombstone mask ([[graft.core.Tombstones.revive]] —
    * an explicit re-add supersedes a pending tombstone; a masked
    * fresh copy would vanish at the next fold).
    */
  def upsertDocs(spark: SparkSession, path: String, df: DataFrame,
                 vecCol: String, idCol: String, tau: Double = 0.05,
                 scale: Double = DefaultScale): Unit = {
    deleteDocs(spark, path, df.select(col(idCol).as("doc")))
    appendToIndex(spark, sparsify(df, vecCol, idCol, tau, scale), path)
    Tombstones.revive(spark, path, df.select(col(idCol)), "doc")
  }

  /** EXACT count of live (served) documents, optionally filtered
    * over the `doc` column — the count-API semantics
    * ([[Ivf.countIndex]]) on the sparse tier: distinct docs over the
    * pruned, masked postings (a doc is one point however many active
    * dims it carries). One column-pruned scan; returns a one-row
    * (cnt) frame. A missing or data-less layout counts zero (the
    * family's missing-layout = empty-index convention).
    */
  def countIndex(spark: SparkSession, path: String,
                 filter: Option[Column] = None): DataFrame = {
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.count(spark, path, path,
      Tombstones.hasData(spark, path, "dbk="), filter)
  }

  /** KEYSET pagination over the sparse layout — [[Ivf.scroll]]'s
    * doc-listing semantics on this tier (the lexical tier's
    * [[Bm25.scroll]] shape verbatim): one id-ordered page of DISTINCT
    * live doc ids strictly after `afterId`, tombstone-masked,
    * optionally filtered over the `doc` column. The keyset predicate
    * and filter push into the postings scan, the distinct partially
    * aggregates map-side, and the cut is TakeOrderedAndProject —
    * O(page) rows cross the driver at any depth. Same honest cost
    * note as the lexical scroll: a doc listing has no query dims to
    * prune buckets by — every bucket's doc column is touched
    * (column-pruned to one column), the price of not keeping a
    * separate doc table. A missing or data-less layout yields an
    * empty page.
    */
  def scroll(spark: SparkSession, path: String, afterId: Option[Long],
             limit: Int, filter: Option[Column] = None): DataFrame = {
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.page(spark, path, path,
      Tombstones.hasData(spark, path, "dbk="), afterId, limit, filter)
  }

  /** SEGMENT MERGE — the shard-parallel build topology: postings are
    * per-doc rows under ONE fixed (tau, scale) sparsification (the
    * family's frozen-params contract), so absorbing shard `srcPath`
    * is a pure [[graft.core.SegmentMerge]] file move: zero rows
    * rewritten, search over the merged layout bit-identical to a
    * one-shot build over the union (oracle-pinned). Crash-safe by
    * per-file rename idempotence. A src tombstone sidecar moves
    * with the tree — the merged mask is the union, and the moved
    * postings stay masked exactly as they were in the shard.
    */
  def mergeInto(spark: SparkSession, dstPath: String,
                srcPath: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, dstPath)
    graft.core.DirSwap.recoverAt(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    if (!fs.exists(src)) return // absent src IS an empty layout
    require(fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"merge destination $dstPath does not exist")
    graft.core.SegmentMerge.moveTree(fs, src,
      new org.apache.hadoop.fs.Path(dstPath))
    fs.delete(src, true)
  }
}
