package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hybrid retrieval — Reciprocal Rank Fusion (Cormack, Clarke &
  * Büttcher, SIGIR 2009) of heterogeneous ranked lists, the standard
  * way a RAG stack combines lexical (BM25) and dense (embedding
  * cosine) retrieval without score calibration: only RANKS cross the
  * fusion boundary, so the lists' score scales never have to agree.
  *
  *   rrf(d) = Σ_lists 1/(c + rank_list(d)),  c = 60 per the paper.
  *
  * Engine-exact: each contribution is the integer
  * floor(2^20/(c+rank)) — ranks are small integers, so the fused
  * score is an exact fixed-point long and the sum is order-free (the
  * same convention as BM25's integer sum; no float fusion).
  *
  * 100 TB shape: the inputs are already top-k lists (k rows per query
  * each — tiny by contract, whatever corpus they came from); fusion
  * is a union + one map-side-combinable integer-sum aggregation +
  * the bounded-heap per-query cut. The heavy lifting stays in the
  * upstream retrievers ([[Bm25.topK]], [[Similarity.bruteForceTopK]]
  * or any ANN path — the fusion is retriever-agnostic).
  */
object Hybrid {

  val RrfC = 60L
  val FracBits: Int = 20

  /** Run the two sides' maintenance passes CONCURRENTLY — they are
    * independent jobs over disjoint layouts (`root/bm25` vs
    * `root/ivf`, disjoint ledger markers), and Spark's scheduler
    * fills idle executors across concurrently-submitted jobs, so the
    * paired lifecycle costs ~max(side) wall-clock instead of
    * sum(side). BOTH sides are awaited to completion before any
    * failure propagates: rethrowing on the first failure would
    * abandon the other side's still-running job, and the documented
    * heal-by-retry would then race the orphan — its unmarked append
    * re-running concurrently with the in-flight original is exactly
    * the double-append the markers exist to prevent. With both sides
    * settled, the post-failure state is the same one the sequential
    * form could leave (one side complete, one failed), which the
    * entry points heal on retry via markers/idempotence.
    */
  private def bothSides(a: => Unit, b: => Unit): Unit =
    graft.core.Par.all(() => a, () => b) // one settlement contract

  /** Fuse ranked lists — each (qid, doc, rk) with rk 1-based — into
    * (qid, doc, rrf_fp, rk) by descending fused score, doc tie-break.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int): DataFrame = {
    require(lists.nonEmpty, "at least one ranked list required")
    require(k > 0, "k must be positive")
    val contrib = lists.map(_.select(col("qid"), col("doc"),
      expr(s"${1L << FracBits} div ($RrfC + rk)").as("c_fp")))
    contrib.reduce(_ unionByName _)
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("c_fp")).as("rrf_fp"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topKBy(
        col("rrf_fp").cast(DoubleType), col("doc"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("doc"),
        col("hit.score").cast(LongType).as("rrf_fp"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
  }

  /** GROUPED [[rrfFuse]] — fuse PER (query, group): each input list
    * carries (qid, groupCol, doc, rk) with rk 1-based WITHIN its
    * (query, group); contributions sum per (qid, group, doc) and the
    * bounded-heap cut runs per (qid, group). Rank mass never crosses
    * a tenant boundary — fusing globally and post-filtering by
    * tenant would drop exactly the rank mass the one-sided lifecycle
    * bugs this family guards against.
    */
  def rrfFuseGrouped(lists: Seq[DataFrame], k: Int,
                     groupCol: String): DataFrame = {
    require(lists.nonEmpty, "at least one ranked list required")
    require(k > 0, "k must be positive")
    val contrib = lists.map(_.select(col("qid"), col(groupCol), col("doc"),
      expr(s"${1L << FracBits} div ($RrfC + rk)").as("c_fp")))
    contrib.reduce(_ unionByName _)
      .groupBy(col("qid"), col(groupCol), col("doc"))
      .agg(sum(col("c_fp")).as("rrf_fp"))
      .groupBy(col("qid"), col(groupCol))
      .agg(graft.functions.TopKByScore.topKBy(
        col("rrf_fp").cast(DoubleType), col("doc"), k).as("top"))
      .select(col("qid"), col(groupCol),
        posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), col(groupCol), col("hit.id").as("doc"),
        col("hit.score").cast(LongType).as("rrf_fp"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
  }

  /** GROUPED (multi-tenant) fused serve from the paired layout:
    * each side ranks per (query, group) — the lexical cut via
    * [[Bm25.searchIndexGrouped]], the dense probe via
    * [[Ivf.searchGrouped]] (per-tenant adaptive widening, so a
    * sparse tenant escalates toward its exhaustive probe without
    * re-probing dense ones) — then [[rrfFuseGrouped]] per (query,
    * group). `docGroups` maps the SHARED id space to tenants; at
    * scale prefer a group column riding the dense layout (then the
    * join below disappears into the postings read).
    */
  def searchIndexGrouped(spark: SparkSession, root: String,
                         queries: Seq[(Long, String)],
                         queryVecs: DataFrame, model: IvfModel,
                         vecCol: String, idCol: String, kCand: Int,
                         k: Int, nprobe0: Int, groupCol: String,
                         docGroups: DataFrame): DataFrame = {
    val lexical = Bm25.searchIndexGrouped(spark, s"$root/bm25", queries,
        kCand, groupCol, docGroups)
      .select(col("qid"), col(groupCol), col("doc"), col("rk"))
    val dense = Ivf.searchGrouped(
        Ivf.readIndexServing(spark, s"$root/ivf", idCol)
          .join(docGroups.select(col("doc").as(idCol), col(groupCol)),
            Seq(idCol)),
        queryVecs.select(col("qid").as(idCol), col("vec").as(vecCol)),
        vecCol, idCol, model, kCand, groupCol,
        groups = docGroups.select(col(groupCol)).distinct(),
        nprobe0 = nprobe0, excludeSelf = false)
      .select(col("qid"), col(groupCol), col("nid").as("doc"), col("rk"))
    rrfFuseGrouped(Seq(lexical, dense), k, groupCol)
  }

  /** Build the PAIRED serving layout under one root — `root/bm25`
    * (the [[Bm25.writeIndex]] bucket layout) and `root/ivf` (the
    * cluster-partitioned [[Ivf.writeIndex]] postings) — so the two
    * sides of the fusion share one lifecycle: a doc appended or
    * deleted on one side and not the other silently skews RRF (the
    * missing side's rank mass just vanishes), which is why the
    * hybrid entry points below drive BOTH layouts. The coarse
    * quantizer `model` is frozen at build, like every index in the
    * family.
    */
  def writeIndex(spark: SparkSession, docs: DataFrame, textCol: String,
                 idCol: String, embeddings: DataFrame, vecIdCol: String,
                 vecCol: String, model: IvfModel, root: String): Unit =
    bothSides(
      Bm25.writeIndex(spark, docs, textCol, idCol, s"$root/bm25"),
      {
        Ivf.writeIndex(Ivf.assign(
          embeddings.select(col(vecIdCol), col(vecCol)), vecCol, model),
          s"$root/ivf")
        // the quantizer persists WITH the postings it assigned (the
        // Ivf.modelPath convention: inside the layout, carried
        // across swaps) — the pair a restarted server recovers with
        // [[loadModel]]
        Ivf.saveModel(spark, model, Ivf.modelPath(s"$root/ivf"))
      })

  /** The quantizer [[writeIndex]] persisted with the dense side — a
    * restarted server recovers the (layout, model) pair from the
    * root alone instead of re-threading the in-memory model.
    */
  def loadModel(spark: SparkSession, root: String): IvfModel = {
    // the model lives INSIDE the dense layout — recover a
    // mid-swap-parked layout first (DirSwap serving-read contract)
    graft.core.DirSwap.recoverAt(spark, s"$root/ivf")
    Ivf.loadModel(spark, Ivf.modelPath(s"$root/ivf"))
  }

  /** Append a disjoint increment to BOTH sides. `(runId, batchId)`
    * keys a per-side ledger marker (the foreachBatch replay guard
    * applied to the paired append): a crash between the BM25 and IVF
    * appends is healed by RE-RUNNING the same call — the completed
    * side is a marker-guarded no-op, the missing side catches up, and
    * the pair never serves skewed. `runId` follows the
    * [[graft.streaming.BatchLedger]] contract exactly — stable across
    * replays of one ingest run, unique across runs (batchIds restart
    * at 0 per run, and the ledger persists beside the long-lived
    * index; an un-namespaced marker would silently skip every append
    * of a SECOND ingest into the same root). Markers nest as
    * `<runId>/<side>/<batchId>`, so a new run can GC dead runs'
    * markers with `BatchLedger.pruneOtherRuns(s"$root/oplog", runId)`
    * exactly like the streaming ingests. Increment contracts are
    * each side's own (disjoint docs, frozen model).
    */
  def appendDocs(spark: SparkSession, root: String, docs: DataFrame,
                 textCol: String, idCol: String, embeddings: DataFrame,
                 vecIdCol: String, vecCol: String, model: IvfModel,
                 runId: String, batchId: Long): Unit = {
    // persist-or-verify the quantizer against the layout's own `_model`
    // BEFORE appending: a direct batch caller passing a different
    // quantizer than the one the layout was assigned under would
    // silently mis-assign every appended vector (the silent probe
    // skew ensurePair exists to prevent — only the streaming ingest
    // ran it until now). First contact saves; a mismatch is a loud
    // error pointing at Hybrid.loadModel. Deliberately per-call even
    // though StreamingHybrid also verifies at run open: the check is
    // one small-sidecar read + driver compare per batch, and the
    // failure it prevents is silent corpus-wide garbage — safety
    // over the ~tens of ms.
    Ivf.ensurePair(spark, model, None, s"$root/ivf")
    bothSides(
      graft.streaming.BatchLedger.once(spark, s"$root/oplog",
        s"$runId/bm25-append", batchId) {
        Bm25.appendToIndex(spark, docs, textCol, idCol, s"$root/bm25")
      },
      graft.streaming.BatchLedger.once(spark, s"$root/oplog",
        s"$runId/ivf-append", batchId) {
        Ivf.appendToIndex(
          embeddings.select(col(vecIdCol), col(vecCol)), vecCol, model,
          s"$root/ivf")
      })
  }

  /** DELETE documents from BOTH sides — the hybrid
    * right-to-be-forgotten pass. Both per-index deletes are
    * idempotent (anti-join filters; deleting an absent doc is a
    * no-op), so a crash between the sides is healed by re-running the
    * same call — no marker needed, unlike [[appendDocs]]. `ids` is a
    * one-column frame of the SHARED id space (the fusion joins
    * lexical docs and dense vec ids on one `doc` column, so deletion
    * must too).
    */
  def deleteDocs(spark: SparkSession, root: String, ids: DataFrame,
                 vecIdCol: String): Unit =
    bothSides(
      Bm25.deleteDocs(spark, s"$root/bm25", ids),
      Ivf.deleteVectors(spark, s"$root/ivf", ids, vecIdCol))

  /** TOMBSTONE documents on BOTH sides — right-to-be-forgotten at
    * serving latency for the paired layout (the [[deleteDocs]]
    * contract at O(|ids|) cost): the lexical side masks candidates
    * under stale collection stats (the Lucene delete model,
    * [[Bm25.tombstoneDocs]]) and the dense side masks postings
    * exactly ([[Ivf.tombstoneVectors]]). Idempotent (a tombstone is
    * a set member), so a one-sided crash heals by re-running — no
    * marker needed, same argument as [[deleteDocs]].
    */
  def tombstoneDocs(spark: SparkSession, root: String,
                    ids: DataFrame, vecIdCol: String): Unit =
    bothSides(
      Bm25.tombstoneDocs(spark, s"$root/bm25", ids),
      Ivf.tombstoneVectors(spark, s"$root/ivf", ids, vecIdCol))

  /** Retire both sides' tombstone sets into physical rewrites. */
  def foldTombstones(spark: SparkSession, root: String,
                     vecIdCol: String): Unit =
    bothSides(
      Bm25.foldTombstones(spark, s"$root/bm25"),
      Ivf.foldTombstones(spark, s"$root/ivf", vecIdCol))

  /** Compact both sides (each side's own crash-safe pass). */
  def compactIndex(spark: SparkSession, root: String): Unit =
    bothSides(
      Bm25.compactIndex(spark, s"$root/bm25"),
      Ivf.compactIndex(spark, s"$root/ivf"))

  /** SEGMENT MERGE for the paired layout — absorb `srcRoot` into
    * `dstRoot` on BOTH sides (the [[Bm25.mergeInto]] and
    * [[Ivf.mergeInto]] file-move merges, run concurrently): the
    * sharded hybrid build topology, with the pairing invariant
    * preserved because the two sub-merges share the all-or-nothing
    * heal-by-retry story — a crash between sides leaves one side
    * merged and one not, and re-running the call no-ops the consumed
    * side (an absent src sub-layout IS an empty merge) while the
    * other catches up, so the pair never serves skewed for longer
    * than the retry. [[Ivf.mergeInto]]'s model check enforces that
    * both shards were built under ONE frozen quantizer. `vecIdCol`
    * names the dense side's id column, which folding src's
    * tombstones before the move reads.
    */
  def mergeInto(spark: SparkSession, dstRoot: String,
                srcRoot: String, vecIdCol: String = "vec_id"): Unit = {
    bothSides(
      Bm25.mergeInto(spark, s"$dstRoot/bm25", s"$srcRoot/bm25"),
      Ivf.mergeInto(spark, s"$dstRoot/ivf", s"$srcRoot/ivf", vecIdCol))
    val src = new org.apache.hadoop.fs.Path(srcRoot)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(src, true) // now-empty root (+ any src oplog ledger)
  }

  /** Serve the fused top-k from the paired layout: lexical list from
    * the persisted BM25 buckets, dense list from the persisted IVF
    * postings, RRF-fused — the disk-served twin of [[hybridTopK]]
    * (nprobe = nlist probes exhaustively ⇒ the dense list is exact
    * and the fusion is byte-identical to the scan-based hybrid).
    */
  def searchIndex(spark: SparkSession, root: String,
                  queries: Seq[(Long, String)], queryVecs: DataFrame,
                  model: IvfModel, vecCol: String, idCol: String,
                  kCand: Int, k: Int, nprobe: Int): DataFrame = {
    val lexical = Bm25.searchIndex(spark, s"$root/bm25", queries, kCand)
      .select(col("qid"), col("doc"), col("rk"))
    // readIndexServing, not readIndex: tombstoned vectors must be
    // masked here exactly when the lexical side masks its docs
    val dense = Ivf.search(Ivf.readIndexServing(spark, s"$root/ivf", idCol),
        queryVecs.select(col("qid").as(idCol), col("vec").as(vecCol)),
        vecCol, idCol, model, kCand, nprobe, excludeSelf = false)
      .select(col("qid"), col("nid").as("doc"), col("rk"))
    rrfFuse(Seq(lexical, dense), k)
  }

  /** Serve the fused top-k over SEVERAL paired segment roots WITHOUT
    * a physical merge — [[searchIndex]]'s LSM read path: the lexical
    * list rides [[Bm25.searchSegments]] (collection statistics
    * merged globally across the segments' bm25 sides), the dense
    * list rides [[Ivf.readSegmentsServing]] (per-segment model
    * witness + per-segment tombstone masks), and one RRF fuses them.
    * Under the family's disjoint-docs contract and an exhaustive
    * probe, the result is byte-identical to serving the physically
    * merged pair. Segments must share the quantizer — the same
    * precondition [[mergeInto]] enforces, verified here through the
    * dense segments read.
    */
  def searchSegments(spark: SparkSession, roots: Seq[String],
                     queries: Seq[(Long, String)], queryVecs: DataFrame,
                     model: IvfModel, vecCol: String, idCol: String,
                     kCand: Int, k: Int, nprobe: Int): DataFrame = {
    val lexical = Bm25.searchSegments(spark, roots.map(r => s"$r/bm25"),
        queries, kCand)
      .select(col("qid"), col("doc"), col("rk"))
    val dense = Ivf.search(
        Ivf.readSegmentsServing(spark, roots.map(r => s"$r/ivf"), idCol,
          model),
        queryVecs.select(col("qid").as(idCol), col("vec").as(vecCol)),
        vecCol, idCol, model, kCand, nprobe, excludeSelf = false)
      .select(col("qid"), col("nid").as("doc"), col("rk"))
    rrfFuse(Seq(lexical, dense), k)
  }

  /** Filter-inside-search on the PAIRED layout: the predicate —
    * built by `filter` from the shared id-domain column (the fusion
    * joins lexical docs and dense vec ids on ONE `doc` column, so a
    * filter must bind to both sides' id columns; a payload filter
    * resolves to this form via the caller's payload table) —
    * restricts the CANDIDATE set inside BOTH retrievers before their
    * ranking cuts, so fused RRF respects the filter without
    * under-filling either list. Semantics per side: the lexical list
    * keeps corpus-level BM25 statistics (Lucene filter semantics —
    * [[Bm25.searchIndex]]'s docFilter contract) and the dense probe
    * widens adaptively from `nprobe0`
    * ([[Ivf.searchFiltered]]). Post-filtering the fused list instead
    * would silently drop rank mass exactly like the one-sided
    * lifecycle bugs this family guards against.
    */
  def searchIndexFiltered(spark: SparkSession, root: String,
                          queries: Seq[(Long, String)],
                          queryVecs: DataFrame, model: IvfModel,
                          vecCol: String, idCol: String, kCand: Int,
                          k: Int, nprobe0: Int,
                          filter: org.apache.spark.sql.Column =>
                            org.apache.spark.sql.Column): DataFrame = {
    val lexical = Bm25.searchIndex(spark, s"$root/bm25", queries, kCand,
        docFilter = Some(filter(col("doc"))))
      .select(col("qid"), col("doc"), col("rk"))
    val dense = Ivf.searchFiltered(
        Ivf.readIndexServing(spark, s"$root/ivf", idCol),
        queryVecs.select(col("qid").as(idCol), col("vec").as(vecCol)),
        vecCol, idCol, model, kCand, filter = filter(col(idCol)),
        nprobe0 = nprobe0, excludeSelf = false)
      .select(col("qid"), col("nid").as("doc"), col("rk"))
    rrfFuse(Seq(lexical, dense), k)
  }

  /** EXACT count of live (served) documents in the PAIR, optionally
    * filtered over the `doc` column — the count-API semantics on the
    * hybrid tier. The lexical side IS the pair's doc universe (every
    * ingested doc carries text; the dense side may cover a subset —
    * the lexical-only-segment contract), and the paired lifecycle
    * entry points drive both sides' tombstones together, so the bm25
    * side's live-doc count is the pair's.
    */
  def countDocs(spark: SparkSession, root: String,
                filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame =
    Bm25.countDocs(spark, s"$root/bm25", filter)

  /** KEYSET pagination over the pair — the doc-listing semantics
    * ([[Ivf.scroll]]) on the hybrid tier, walking the lexical side
    * for the same doc-universe reason as [[countDocs]]: one
    * id-ordered page of DISTINCT live doc ids strictly after
    * `afterId`, tombstone-masked, optionally filtered over `doc`.
    */
  def scroll(spark: SparkSession, root: String, afterId: Option[Long],
             limit: Int,
             filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame =
    Bm25.scroll(spark, s"$root/bm25", afterId, limit, filter)

  /** Convenience lexical+dense hybrid: BM25 over `docs` text and
    * brute-force cosine over `embeddings` (swap any ANN list in via
    * [[rrfFuse]] directly), each cut at `kCand`, fused to top-k.
    * `queryVecs` must carry (qid, vec) aligned with `queries` qids.
    */
  def hybridTopK(spark: SparkSession, docs: DataFrame, textCol: String,
                 idCol: String, embeddings: DataFrame, vecIdCol: String,
                 vecCol: String, queries: Seq[(Long, String)],
                 queryVecs: DataFrame, kCand: Int, k: Int): DataFrame = {
    val lexical = Bm25.topK(spark, docs, textCol, idCol, queries, kCand)
      .select(col("qid"), col("doc"), col("rk"))
    val dense = Similarity.bruteForceTopK(
        embeddings.select(col(vecIdCol).as("id"), col(vecCol).as("v")),
        queryVecs.select(col("qid").as("id"), col("vec").as("v")),
        "v", "id", kCand, excludeSelf = false)
      .select(col("qid"), col("nid").as("doc"), col("rk"))
    rrfFuse(Seq(lexical, dense), k)
  }
}
