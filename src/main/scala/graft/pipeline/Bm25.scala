package graft.pipeline

import graft.core.{KeyedWrite, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BM25 batch retrieval — Okapi BM25 (Robertson & Zaragoza 2009) top-k
  * document retrieval for a SET of queries at once, the lexical
  * counterpart of the engine's ANN family (and the retrieval stage of
  * RAG-style data pipelines).
  *
  * Engine-exact scoring: every factor is an integer rational, so the
  * score is an exact fixed-point long and the final aggregation is an
  * INTEGER sum — associative, commutative, partition-order-free (no
  * sequential-IEEE fold needed, unlike the cosine family):
  *
  *  - idf(t): Robertson's log(1 + (N−df+½)/(df+½)) collapses to
  *    log2((2N+2)/(2df+1)) — one big-integer ratio,
  *    [[LmQuality.log2fix]], no libm;
  *  - the tf-saturation factor with k1 = 6/5, b = 3/4 and
  *    avgdl = T/N (T = corpus token count):
  *        tf·(k1+1) / (tf + k1(1−b) + k1·b·len/avgdl)
  *      = 22·tf·T / (10·T·tf + 3·T + 9·len·N)
  *    — an exact long rational (documented bound: 10·T·tf < 2^63,
  *    fine through ~10¹⁷ corpus tokens × 10⁴-token docs);
  *  - contribution = floor(idf_fp · num / den) via the overflow-safe
  *    [[graft.functions.MulDivFloor]]; score = Σ contributions.
  *
  * 100 TB shape: ONE corpus scan builds query-term postings
  * (explode → filter on the broadcast term set → map-side-combinable
  * count agg) with the doc length CARRIED through the aggregation
  * (max of a constant) — no corpus-side join for lengths. Corpus
  * stats (N, T) are one map-side agg; per-term df and idf are a
  * driver map over ≤ |query vocabulary| rows, broadcast back. The
  * per-query cut is the bounded-heap [[graft.functions.TopKByScore]]
  * aggregate — O(k) state, map-side partials, only k rows per query
  * cross the shuffle.
  */
object Bm25 {

  /** Query tokenization — driver-side twin of
    * [[TextAnalysis.tokens]] (single-space split, empties kept).
    */
  private[pipeline] def queryTerms(q: String): Seq[String] =
    q.split(" ", -1).toSeq.distinct

  /** Top-k docs per query: (qid, doc, score_fp, rk), rk 1-based by
    * (score desc, doc asc).
    */
  def topK(spark: SparkSession, docs: DataFrame, textCol: String,
           idCol: String, queries: Seq[(Long, String)], k: Int): DataFrame = {
    require(queries.nonEmpty, "at least one query required")
    require(k > 0, "k must be positive")
    import spark.implicits._

    val lens = docs.select(col(idCol).as("doc"),
      TextAnalysis.tokenCount(col(textCol)).as("len"))
    val stats = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("t"))
      .collect()(0)
    val nDocs = stats.getLong(0)
    val tTokens = stats.getLong(1)
    require(nDocs > 0, "empty corpus")

    val terms = queries.flatMap { case (_, q) => queryTerms(q) }.distinct
    // one corpus scan: explode, keep query terms, count tf per
    // (term, doc) map-side-combinably, doc length rides along (max of
    // a per-doc constant)
    val postings = docs
      .select(col(idCol).as("doc"),
        TextAnalysis.tokenCount(col(textCol)).as("len"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(col("term").isInCollection(terms))
      .groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))

    // per-term df over the candidate postings (exact corpus df for
    // those terms), collected (≤ |query vocab| rows), idf_fp computed
    // driver-side with the exact fixed-point log2, broadcast back
    val dfMap = postings.groupBy(col("term")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfRows = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      (t, LmQuality.log2fix(BigInt(2L * nDocs + 2L), BigInt(2L * df + 1L)))
    }
    val qtRows = for {
      (qid, q) <- queries
      t <- queryTerms(q)
    } yield (qid, t)
    val idfDf = idfRows.toDF("term", "idf_fp")
    val qtDf = qtRows.toDF("qid", "term")

    val num = lit(22L) * col("tf") * lit(tTokens)
    val den = lit(10L) * lit(tTokens) * col("tf") + lit(3L) * lit(tTokens) +
      lit(9L) * col("len") * lit(nDocs)
    val scored = postings
      .join(broadcast(idfDf), Seq("term"))
      .join(broadcast(qtDf), Seq("term"))
      .withColumn("contrib_fp",
        graft.functions.MulDivFloor.column(col("idf_fp"), num, den))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("contrib_fp")).as("score_fp"))

    // bounded-heap per-query cut; score_fp < 2^53 so the double
    // round-trip through the heap is exact
    cutTopK(scored, k)
  }

  private def cutTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topKBy(
        col("score_fp").cast(DoubleType), col("doc"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("doc"),
        col("hit.score").cast(LongType).as("score_fp"),
        (col("pos") + 1).cast(IntegerType).as("rk"))

  /** Number of term-hash buckets in the on-disk index layout. */
  val IndexBuckets = 64

  private def bucketOf(term: Column): Column =
    pmod(xxhash64(term), lit(IndexBuckets.toLong))

  /** Persist the build-once/query-many index: full-corpus postings
    * (term, doc, tf, len) PARTITIONED BY term-hash bucket, per-term
    * df in the same bucketed layout, and a one-row stats table
    * (N, T). A query touching q terms then reads at most q of the
    * [[IndexBuckets]] partition directories — partition pruning does
    * the postings cut before any row is deserialized, which is the
    * whole point of persisting at 100 TB (the scan-per-query-batch
    * [[topK]] path re-reads the corpus instead).
    */
  def writeIndex(spark: SparkSession, docs: DataFrame, textCol: String,
                 idCol: String, path: String): Unit =
    writeLayout(spark, docs, textCol, idCol, path, "overwrite")

  /** The bucket-keyed spread of both [[writeLayout]] writes. */
  private def spread(rows: DataFrame): DataFrame =
    KeyedWrite.spread(rows, Seq("bucket"), IndexBuckets)

  /** One write pass shared by build and append. The corpus is
    * scanned ONCE for postings: the df table is then derived by
    * re-reading the just-written postings (a column-pruned
    * (bucket, term) scan of the small index, not a second corpus
    * explode), and stats is a map-side-only corpus agg. Postings and
    * df are spread on the bucket column ([[KeyedWrite.spread]], capped
    * at [[IndexBuckets]]) before each dynamic-partition write, so
    * every bucket's rows land in exactly one task — one file per
    * bucket directory per pass, instead of (tasks x buckets) small
    * files — and a small append runs as many writer tasks as the
    * session's shuffle parallelism, not one per bucket.
    */
  private def writeLayout(spark: SparkSession, docs0: DataFrame,
                          textCol: String, idCol: String, path: String,
                          mode: String): Unit = {
    // parallelism floor below the tokenize+explode (the tier's
    // per-row-expensive stage): a bench-scale corpus is one parquet
    // file = one scan task (graft.core.Parallelize: no-op at scale).
    // Both corpus passes (postings explode, stats agg) ride it.
    val docs = graft.core.Parallelize.ensure(docs0)
    val postingsPlan = spread(docs
      .select(col(idCol).as("doc"),
        TextAnalysis.tokenCount(col(textCol)).as("len"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
      .withColumn("bucket", bucketOf(col("term"))))
    // In append mode the postings plan feeds TWO writes (postings and
    // df below) — pin it once so the increment corpus is exploded and
    // aggregated exactly once, not re-run per consumer (the same
    // pattern as DedupIndex.probeRaw). Increments are small by the
    // append contract, so the materialization is cheap. The overwrite
    // (build) pass is consumed once and must stream, not materialize.
    val postings =
      if (mode == "append") postingsPlan.localCheckpoint(true)
      else postingsPlan
    // term-sorted rows + small pages: searchIndex pushes the query
    // terms as an In filter, and with page column-index stats over a
    // sorted term column the scan skips every page holding none of
    // them — a q-term query then reads ~q pages of a bucket, not the
    // bucket (the NearDupIndex/StreamingDedup page-pruning design;
    // the sort MUST lead with the partition column or the dynamic
    // writer silently replaces it)
    postings
      .sortWithinPartitions(col("bucket"), col("term"), col("doc"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("bucket")
      .parquet(s"$path/postings")
    // df rows for THIS pass only (readers SUM across increments). In
    // overwrite mode the written layout IS this pass, so derive df by
    // reading it back — a (bucket, term)-pruned scan of the compact
    // index, not a second corpus explode. In append mode the written
    // pile also holds prior increments, so recompute from the
    // increment's pinned postings (no second explode).
    val dfSource =
      if (mode == "overwrite") spark.read.parquet(s"$path/postings")
      else postings
    spread(dfSource.groupBy(col("bucket"), col("term")).count()
        .withColumnRenamed("count", "df"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("bucket")
      .parquet(s"$path/df")
    docs.select(TextAnalysis.tokenCount(col(textCol)).as("len"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("t"))
      .write.mode(mode).parquet(s"$path/stats")
  }

  /** Append a DISJOINT corpus increment to an existing index (the
    * same frozen-layout contract as the IVF incremental append: new
    * docs only — a doc split across appends would double-count).
    * Postings and df rows append into the bucket layout; stats gains
    * a row (readers SUM the stats table and the per-term df rows, so
    * search over the grown index is bit-identical to a one-shot build
    * over the union). Each append adds a file set per touched bucket;
    * run [[compactIndex]] periodically.
    */
  def appendToIndex(spark: SparkSession, docs: DataFrame, textCol: String,
                    idCol: String, path: String): Unit = {
    // recover a mid-swap-crashed sub-layout BEFORE appending: an
    // append onto the missing-live/parked-at-__old state would
    // create an increment-only dir that recovery can never heal
    recoverLayouts(spark, path)
    writeLayout(spark, docs, textCol, idCol, path, "append")
  }

  /** The serving/append recovery preamble over the index's three
    * independently-swapped sub-layouts (DirSwap contract: EVERY
    * reader/writer of a swapped layout runs it — a crash between a
    * swap's park and promote otherwise leaves the index headless
    * until an unrelated deleteDocs/compactIndex happens to run).
    */
  private def recoverLayouts(spark: SparkSession, path: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, s"$path/postings")
    graft.core.DirSwap.recoverAt(spark, s"$path/df")
    graft.core.DirSwap.recoverAt(spark, s"$path/stats")
  }

  /** Crash-safe in-place small-file compaction of the postings, df,
    * and stats layouts (the shared [[graft.core.ParquetCompact]]
    * pass; stats — additive rows the readers SUM — compacts to its
    * one-row sum through the same local swap [[deleteDocs]] uses).
    * Contents-invariant for every reader, so search results are
    * unchanged. Without the stats pass, stats grows one file per
    * append FOREVER (appends add a row, the bucket compactions never
    * touch it), which both taxes every searchIndex stats read and
    * permanently latches the file-count alarm past its threshold.
    */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    // small-page option: restore the big-sorted-file shape the
    // search-time per-term page pruning depends on (see writeLayout)
    val pages = Map("parquet.page.row.count.limit" -> "512")
    graft.core.ParquetCompact.compact(spark, s"$path/postings",
      Seq("bucket"), Seq("term", "doc"), pages)
    graft.core.ParquetCompact.compact(spark, s"$path/df",
      Seq("bucket"), Seq("term"), pages)
    val sp = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover BEFORE the existence check: a crash between a prior
    // swap's park and promote leaves stats parked at __old with no
    // live copy, and an exists-only guard would skip the recovery
    // forever — leaving the index headless until an unrelated
    // deleteDocs happened to run
    graft.core.DirSwap.recover(fs, sp)
    if (fs.exists(sp))
      swapStats(spark, path, spark.read.parquet(s"$path/stats")
        .agg(sum(col("n")).as("n"), sum(col("t")).as("t")))
  }

  /** Replace the unpartitioned stats table with `st` via the shared
    * [[graft.core.DirSwap]] protocol (recover, write the replacement
    * to `stats__compacting`, park-promote).
    */
  private def swapStats(spark: SparkSession, path: String,
                        st: DataFrame): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = sp.getFileSystem(hc)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/stats__compacting")
    graft.core.DirSwap.recover(fs, sp)
    st.write.mode("overwrite").parquet(tmp.toString)
    graft.core.DirSwap.promote(fs, sp, tmp)
  }

  /** DELETE documents from the persisted index — the
    * right-to-be-forgotten pass a long-lived 100 TB index needs:
    * postings rows of the removed docs are filtered out inside the
    * crash-safe [[graft.core.ParquetCompact.rewrite]] swap, then the
    * df and stats tables are RECOMPUTED from the surviving postings
    * (deletion is not additive — a tombstone append cannot subtract
    * a doc's contribution from summed df rows exactly), restoring
    * the compacted sorted-page shape as a side effect. After the
    * pass, search over the index is identical to a one-shot build
    * over the surviving corpus (oracle-pinned) — with one documented
    * boundary: a document with ZERO tokens leaves no postings row,
    * so recomputed stats no longer count it in N.
    *
    * `docs` is a one-column (doc) frame; deletion lists are
    * anti-joined, never collected, so the pass scales to bulk
    * removals. The df/stats recomputes ride the survivors frame the
    * rewrite already materialized (pinResult) — one postings scan for
    * the whole pass, no read-back. Deleting EVERY doc removes the
    * index directory (missing layout = empty index, the family
    * convention).
    */
  def deleteDocs(spark: SparkSession, path: String,
                 docs: DataFrame): Unit = {
    val pages = Map("parquet.page.row.count.limit" -> "512")
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true) // consumed by every postings partition task
    // pinResult: the surviving postings are materialized INSIDE the
    // rewrite anyway — ride that frame for the df/stats recomputes
    // below instead of a read-back scan of the promoted layout
    val keptOpt = graft.core.ParquetCompact.rewrite(spark,
      s"$path/postings", Seq("bucket"), Seq("term", "doc"), pages,
      p => p.join(del, Seq("doc"), "left_anti"), pinResult = true)
    graft.core.Pinned.release(del)
    val kept = keptOpt.getOrElse {
      // every doc deleted (or no index): a missing layout IS an empty
      // index — drop df/stats too rather than promote a 0-doc stats
      // row that searchIndex would NPE on
      val hc = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(hc).delete(root, true)
      return
    }
    graft.core.ParquetCompact.rewrite(spark, s"$path/df",
      Seq("bucket"), Seq("term"), pages,
      _ => kept.groupBy(col("bucket"), col("term")).count()
        .withColumnRenamed("count", "df"))
    // stats is unpartitioned: the shared local two-rename swap
    swapStats(spark, path, kept.agg(countDistinct(col("doc")).as("n"),
      sum(col("tf")).as("t")))
    graft.core.Pinned.release(kept)
  }

  /** LUCENE-MODEL deletion for the lexical index: an O(|ids|)
    * sidecar append ([[graft.core.Tombstones]], at the index ROOT
    * beside postings/df/stats — the per-sub-layout compactions never
    * touch it) masks the docs from every [[searchIndex]] candidate
    * set IMMEDIATELY, while collection statistics (N, total tokens,
    * df) stay as persisted until the fold — exactly how a
    * deleted-but-unmerged Lucene segment scores. The stats-exact
    * delete remains [[deleteDocs]]; this is the serving-latency path
    * for erasure queues that cannot pay an O(index) rewrite per
    * request. The data witness is the `stats` table ([[deleteDocs]]
    * removes the whole root when no doc survives): an absent or
    * emptied index takes no sidecar.
    */
  def tombstoneDocs(spark: SparkSession, path: String,
                    ids: DataFrame): Unit = {
    recoverLayouts(spark, path)
    Tombstones.add(spark, path, ids, "doc",
      Tombstones.hasData(spark, path, "stats"))
  }

  /** Retire the tombstone set: fold into a physical [[deleteDocs]]
    * (which recomputes df/stats from the survivors — the "merge"
    * that makes scores stats-exact again), then drop the sidecar.
    * Idempotent at every crash point: re-folding already-deleted ids
    * anti-joins nothing.
    */
  def foldTombstones(spark: SparkSession, path: String): Unit = {
    recoverLayouts(spark, path)
    Tombstones.fold(spark, path, "doc",
      Tombstones.hasData(spark, path, "stats"))(deleteDocs(spark, path, _))
  }

  /** KEYSET pagination over the lexical index — [[Ivf.scroll]]'s
    * doc-listing semantics on this tier (what a dashboard or an
    * export walks without a search): one id-ordered page of DISTINCT
    * live doc ids strictly after `afterId`, tombstone-masked,
    * optionally filtered over the `doc` column
    * ([[graft.core.Tombstones.page]] over the postings). Honest cost
    * note: a doc listing has no query terms to prune buckets by — the
    * scan touches every bucket's doc column (column-pruned to one
    * column), the price of not maintaining a separate doc table. A
    * missing or emptied index yields an empty page.
    */
  def scroll(spark: SparkSession, path: String, afterId: Option[Long],
             limit: Int,
             filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    recoverLayouts(spark, path)
    Tombstones.page(spark, path, s"$path/postings",
      Tombstones.hasData(spark, path, "stats"), afterId, limit, filter)
  }

  /** EXACT count of live (served) documents, optionally filtered —
    * the count-API semantics ([[Ivf.countIndex]]) on the lexical
    * index: distinct docs over the masked postings, never the stats
    * table (stats keep tombstoned docs' mass until the fold — the
    * Lucene model — but a COUNT must report what serving shows).
    * Returns a one-row (cnt) frame; zero on a missing or emptied
    * index.
    */
  def countDocs(spark: SparkSession, path: String,
                filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    recoverLayouts(spark, path)
    Tombstones.count(spark, path, s"$path/postings",
      Tombstones.hasData(spark, path, "stats"), filter)
  }

  /** SEGMENT MERGE — absorb the index at `srcPath` into `dstPath`
    * with ZERO recompute: because readers SUM the stats rows and the
    * per-term df rows across increments (the append design), a merge
    * is nothing but renaming src's postings/df bucket files and
    * stats row files into dst's layout — O(files) metadata time, no
    * index bytes rewritten. The sharded build topology this enables:
    * index each corpus shard in parallel (disjoint doc ids, the
    * [[appendToIndex]] contract), then merge the segments; search
    * over the merged index is bit-identical to a one-shot build over
    * the union, for the same reason grown-by-append is.
    *
    * Src's tombstones fold first (the sidecar would be dropped by
    * the move); dst's stay live — they mask only dst docs, still
    * valid after the merge. Crash-safe by idempotence: each rename
    * is atomic and a re-run moves the remainder. Run
    * [[compactIndex]] after merging many segments.
    */
  def mergeInto(spark: SparkSession, dstPath: String,
                srcPath: String): Unit = {
    recoverLayouts(spark, dstPath)
    recoverLayouts(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hc)
    if (!fs.exists(src)) return // absent src IS an empty index
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dstPath/stats")),
      s"merge destination $dstPath does not exist")
    foldTombstones(spark, srcPath)
    // postings/df: per-bucket partition dirs; stats: flat row files —
    // all via the family's shared per-file-rename move
    Seq("postings", "df", "stats").foreach { sub =>
      graft.core.SegmentMerge.moveTree(fs,
        new org.apache.hadoop.fs.Path(s"$srcPath/$sub"),
        new org.apache.hadoop.fs.Path(s"$dstPath/$sub"))
    }
    fs.delete(src, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${srcPath}__ledger"), true)
  }

  /** Search the persisted index: identical results to [[topK]] over
    * the same corpus (spec + oracle pinned). Only the query terms'
    * buckets are read from both postings and df. Tombstoned docs
    * ([[tombstoneDocs]]) are masked from the candidates here via a
    * broadcast anti-join; their mass stays in N/df/avgdl until the
    * fold, per the Lucene delete model.
    *
    * `docFilter` is the lexical half of filter-inside-search
    * (Lucene/Elasticsearch filter semantics, same contract as
    * [[graft.pipeline.Ivf.searchFiltered]]): the predicate — over
    * the postings' `doc` column — restricts the CANDIDATE set below
    * the ranking cut (pushed into the bucket-pruned postings scan),
    * while collection statistics (N, total tokens, df) stay
    * corpus-level, exactly as a filter query leaves IDF untouched in
    * a search engine. Post-filtering the top-k list instead would
    * under-fill k at exactly the selectivities filters exist for.
    */
  def searchIndex(spark: SparkSession, path: String,
                  queries: Seq[(Long, String)], k: Int,
                  docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    cutTopK(scoredIndexCandidates(spark, Seq(path), queries, docFilter), k)

  /** Serve BM25 over the UNION of several segment layouts WITHOUT a
    * physical merge — the Lucene per-segment read path: a new shard
    * lands as its own root and serves immediately, [[mergeInto]]
    * becomes background maintenance. Collection statistics are
    * MERGED GLOBALLY before scoring — N and T sum over segments,
    * per-term df sums over segments — so idf and the tf-saturation
    * denominator see the union corpus, and under the family's
    * disjoint-docs contract the result is bit-identical to serving
    * the physically merged index (spec-pinned): per-segment stats
    * rows are exactly what a merged index's summed stats/df reads
    * would hold. Each segment's own tombstone mask applies to its
    * rows (masked docs keep their N/df/avgdl mass until the fold,
    * the Lucene delete model — per segment). Absent roots are empty
    * segments; at least one segment must exist.
    */
  def searchSegments(spark: SparkSession, paths: Seq[String],
                     queries: Seq[(Long, String)], k: Int,
                     docFilter: Option[org.apache.spark.sql.Column] =
                       None): DataFrame =
    cutTopK(scoredIndexCandidates(spark, paths, queries, docFilter), k)

  /** GROUPED (multi-tenant) lexical top-k from the persisted layout —
    * top-k PER (query, group) in one scan pass. BM25 scores are
    * per-(query, doc) and tenant-independent, so grouping is purely
    * the cut key: score once, attach each doc's tenant from
    * `docGroups` (a (doc, groupCol) frame; uncovered docs belong to
    * no tenant and drop), bounded-heap cut per (qid, group).
    * Collection stats stay corpus-level — the Lucene filter
    * semantics every restricted-candidate path in this family keeps.
    */
  def searchIndexGrouped(spark: SparkSession, path: String,
                         queries: Seq[(Long, String)], k: Int,
                         groupCol: String, docGroups: DataFrame,
                         docFilter: Option[org.apache.spark.sql.Column] =
                           None): DataFrame = {
    val scored = scoredIndexCandidates(spark, Seq(path), queries, docFilter)
      .join(docGroups.select(col("doc"), col(groupCol)), Seq("doc"))
    scored.groupBy(col("qid"), col(groupCol))
      .agg(graft.functions.TopKByScore.topKBy(
        col("score_fp").cast(DoubleType), col("doc"), k).as("top"))
      .select(col("qid"), col(groupCol),
        posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), col(groupCol), col("hit.id").as("doc"),
        col("hit.score").cast(LongType).as("score_fp"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
  }

  /** The shared serving-scan prefix of the index search entry points:
    * exact fixed-point BM25 (qid, doc, score_fp) candidates from the
    * bucketed layout — stats summed over increments, term/bucket
    * pruned, tombstone-masked, pre-cut.
    */
  private def scoredIndexCandidates(spark: SparkSession, paths: Seq[String],
                                    queries: Seq[(Long, String)],
                                    docFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    require(queries.nonEmpty, "at least one query required")
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    paths.foreach(p => recoverLayouts(spark, p)) // serving-read preamble
    // absent root = empty segment (the family's missing-layout
    // convention; a single-path serve keeps its loud missing-index
    // read error by requiring its one path present)
    val live = paths.filter { p =>
      val sp = new org.apache.hadoop.fs.Path(s"$p/stats")
      paths.size == 1 || sp.getFileSystem(hc).exists(sp)
    }
    require(live.nonEmpty, "every segment root is absent — nothing to serve")
    // Relation-construction cost dominates multi-segment serves (the
    // dense tier's r12 lesson, re-measured HERE by Bm25SegmentsCurve:
    // 0.93 → 4.92 s across 1 → 16 segments before this block — each
    // segment's postings/df relation fired a parallel
    // partition-discovery JOB over its 64 bucket dirs plus a
    // schema-inference read, ~0.27 s/segment of pure driver fixed
    // cost): force driver-side discovery for the construction window
    // and reuse the head segment's inferred schema for the tail
    // (sound: ONE writeLayout writes every bm25 layout, so the
    // schemas are uniform by construction). Same single-planner
    // contract as Ivf.readSegmentsServing's override.
    val discKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prevDisc = spark.conf.get(discKey)
    val (statsAll, dfReads, postReads) =
      try {
        spark.conf.set(discKey, Int.MaxValue.toString)
        // stats dirs are FLAT (no partition dirs), so all segments'
        // batch into ONE multi-path relation — one construction, one
        // scan leg, however many segments
        val statsAll = spark.read.parquet(live.map(p => s"$p/stats"): _*)
        val dfHead = spark.read.parquet(s"${live.head}/df")
        val dfReads = dfHead +: live.tail.map(p =>
          spark.read.schema(dfHead.schema).parquet(s"$p/df"))
        val postHead = spark.read.parquet(s"${live.head}/postings")
        val postReads = postHead +: live.tail.map(p =>
          spark.read.schema(postHead.schema).parquet(s"$p/postings"))
        (statsAll, dfReads, postReads)
      } finally spark.conf.set(discKey, prevDisc)
    val terms = queries.flatMap { case (_, q) => queryTerms(q) }.distinct
    // bucket ids via the SAME expression the writer used — no
    // driver-side hash replication to drift (a LocalRelation the
    // optimizer folds: no job)
    val bucketSet = terms.toDF("term")
      .select(bucketOf(col("term"))).collect().map(_.getLong(0))
      .distinct.toSeq
    // BOTH driver-side metadata reads in ONE union-collect (r17; was
    // two driver jobs per serve): the stats sum — one row per
    // build/append increment per segment, global N and T, exactly the
    // rows a merged index's stats read would sum — rides a null-term
    // tag beside the per-term df sums (summed across increments AND
    // segments — global df). Legs and aggregations are unchanged,
    // only the two actions fuse.
    val statsLeg = statsAll
      .agg(sum(col("n")).as("a"), sum(col("t")).as("b"))
      .select(lit(null).cast("string").as("term"), col("a"), col("b"))
    val dfLeg = dfReads.map { dfRead =>
      dfRead.where(
        graft.core.PartitionIn.inSet(dfRead, "bucket", bucketSet) &&
          col("term").isInCollection(terms))
    }.reduce(_ unionByName _)
      .groupBy(col("term")).agg(sum(col("df")).as("a"))
      .select(col("term"), col("a"), lit(null).cast("long").as("b"))
    val meta = statsLeg.unionByName(dfLeg).collect()
    val statsRow = meta.find(_.isNullAt(0)).get
    val nDocs = statsRow.getLong(1)
    val tTokens = statsRow.getLong(2)
    val dfMap = meta.filterNot(_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfDf = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      (t, LmQuality.log2fix(BigInt(2L * nDocs + 2L), BigInt(2L * df + 1L)))
    }.toDF("term", "idf_fp")
    val qtDf = (for { (qid, q) <- queries; t <- queryTerms(q) }
      yield (qid, t)).toDF("qid", "term")
    // per-segment pruned postings scan + that segment's own tombstone
    // mask, then one union — masks never cross segment boundaries.
    // un-hinted (the Validate SubsetOf argument): each mask is tiny
    // under the fold cadence — AQE broadcasts it — and a neglected
    // fold degrades to a shuffle join instead of an executor OOM
    val postings = live.zip(postReads).map { case (p, postRead) =>
      val postings0 = postRead
        .where(graft.core.PartitionIn.inSet(postRead, "bucket", bucketSet) &&
          col("term").isInCollection(terms) &&
          docFilter.getOrElse(lit(true)))
      Tombstones.mask(spark, postings0, p, "doc")
    }.reduce(_ unionByName _)
    val num = lit(22L) * col("tf") * lit(tTokens)
    val den = lit(10L) * lit(tTokens) * col("tf") + lit(3L) * lit(tTokens) +
      lit(9L) * col("len") * lit(nDocs)
    postings
      .join(broadcast(idfDf), Seq("term"))
      .join(broadcast(qtDf), Seq("term"))
      .withColumn("contrib_fp",
        graft.functions.MulDivFloor.column(col("idf_fp"), num, den))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("contrib_fp")).as("score_fp"))
  }
}
