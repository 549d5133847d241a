package graft.pipeline

import graft.core.{KeyedWrite, Tombstones}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MULTI-VECTOR (late-interaction) retrieval — the ColBERT-family
  * serving model (Khattab & Zaharia 2020; PLAID, Santhanam et al.
  * 2022): a document is a SET of vectors, a query is a set of
  * vectors, and the score is the sum over query vectors of the best
  * cosine against any document vector:
  * score(q, d) = Σ_i max_j cos(q_i, d_j). Captures token-level
  * matching that single-vector pooling loses.
  *
  * Scoring is FIXED-POINT: each cos is the exact double kernel
  * rounded at 1e9, so max/sum are integer ops — deterministic across
  * partitionings and engines (the rrf_fp rule; a double Σ over an
  * unordered agg would not replay), ties broken by doc id.
  *
  * Serving follows the PLAID decomposition:
  *  1. CANDIDATE GENERATION on the per-vector IVF layout (cluster
  *     dirs under a frozen coarse quantizer) — each query vector
  *     probes its nprobe cells; candidates are the distinct docs any
  *     probed vector belongs to.
  *  2. GATHER the candidates' FULL vector sets from a doc-bucketed
  *     layout (partition-pruned, count-gated In pushdown) — the max
  *     over j must see every vector of a candidate doc, including
  *     those in unprobed cells.
  *  3. EXACT max-sim rescore + top-k.
  * With nprobe = nlist step 1 is exhaustive and the result is exact
  * (the oracle row); at partial probe only candidate RECALL is
  * approximate — scores of surfaced docs are always exact (the
  * gather), the property that makes the decomposition safe.
  *
  * Layout under `root`: `ivf/` (cluster=… dirs of (doc, vec)) and
  * `docs/` (db=pmod(doc, [[DocBuckets]]) dirs of (doc, vec)) — both
  * written from ONE assignment pass — plus the `_model` quantizer
  * witness at the root ([[modelPath]]). 100 TB: probe bytes follow
  * nprobe/nlist, gather bytes follow candidate count × vectors/doc,
  * never corpus size.
  */
object MultiVector {

  /** Doc-buckets for the gather layout (the family's dir-count
    * lesson).
    */
  val DocBuckets = 16

  /** Fixed-point scale for per-pair cosines: 1e9 keeps 9 decimal
    * digits of the double kernel and leaves room for 2^63/1e9 ≈ 9e9
    * summed query vectors.
    */
  val CosScale = 1000000000L

  /** Candidate-gather In pushdown is driver-bounded at this many doc
    * ids (the NearDupIndex count-gate pattern); larger candidate
    * sets read the touched buckets whole.
    */
  val GatherFilterCutoff = 4096

  private def cosFp(a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column) = {
    import graft.functions.VectorFunctions.cosineSimD
    round(cosineSimD(a, b) * lit(CosScale.toDouble)).cast("long")
  }

  /** Exact scan-based late-interaction top-k. `docVecs` is a
    * (doc, vec) frame (many rows per doc); `queryVecs` a small
    * (qid, vec) frame (many rows per qid, the family's query
    * contract — broadcast). `excludeDoc` drops (qid, doc) pairs for
    * which the predicate over (qid, doc) holds (self-doc masking in
    * fixture-derived queries).
    */
  def lateTopK(docVecs: DataFrame, queryVecs: DataFrame, k: Int,
               excludeDoc: Option[(org.apache.spark.sql.Column,
                 org.apache.spark.sql.Column) =>
                 org.apache.spark.sql.Column] = None): DataFrame = {
    val q = queryVecs.select(col("qid"), col("vec").as("qv"),
        monotonically_increasing_id().as("qvix"))
      .localCheckpoint(true) // qvix must not shift across re-evaluation
    val out = rank(maxSim(docVecs, q, excludeDoc), k)
      .localCheckpoint(true)
    graft.core.Pinned.release(q)
    out
  }

  private def maxSim(docVecs: DataFrame, q: DataFrame,
                     excludeDoc: Option[(org.apache.spark.sql.Column,
                       org.apache.spark.sql.Column) =>
                       org.apache.spark.sql.Column]): DataFrame =
    docVecs.select(col("doc"), col("vec"))
      .join(broadcast(q), excludeDoc match {
        case Some(p) => !p(col("qid"), col("doc"))
        case None => lit(true)
      })
      .groupBy(col("qid"), col("qvix"), col("doc"))
      .agg(max(cosFp(col("vec"), col("qv"))).as("m"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("m")).cast("long").as("score"))

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Canonical location of the pair's persisted coarse quantizer —
    * `_model` at the ROOT, beside `ivf/` and `docs/` (the
    * tombstone sidecar's placement argument: it governs BOTH sub-layouts
    * and must survive their compaction swaps). Written by
    * [[writeIndex]], verified-or-saved by [[appendDocs]], REQUIRED
    * by [[searchSegments]] and [[mergeInto]] — the witness that
    * multi-segment candidate generation runs under ONE quantizer
    * (the dense tier's Ivf.modelPath contract; without it a segment
    * built under a drifted model skews candidate recall SILENTLY —
    * surfaced scores stay exact here, so nothing else would notice).
    */
  def modelPath(root: String): String = s"$root/_model"

  /** Persist-or-VERIFY the pair's quantizer ([[Ivf.ensurePair]]'s
    * shape): first contact saves; a mismatch against the persisted
    * witness is a loud error, never an overwrite.
    */
  private def ensureModel(spark: SparkSession, model: IvfModel,
                          root: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(modelPath(root))
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mp))
      require(Ivf.modelMatchesPersisted(spark, modelPath(root), model),
        s"$root is assigned under a DIFFERENT coarse quantizer — pass " +
          "the persisted one (Ivf.loadModel(MultiVector.modelPath)) or " +
          "rebuild the pair under the new model")
    else Ivf.saveModel(spark, model, modelPath(root))
  }

  /** The docs/ side's rows: the assignment minus its cluster, keyed
    * by doc bucket.
    */
  private def byDoc(assigned: DataFrame): DataFrame =
    assigned.drop("cluster")
      .withColumn("db", pmod(col("doc"), lit(DocBuckets.toLong)))

  /** Build both sub-layouts from one (doc, vec) frame: per-vector
    * IVF postings for candidate generation, doc-bucketed copies for
    * the gather — plus the `_model` witness the segment paths verify.
    */
  def writeIndex(spark: SparkSession, docVecs: DataFrame,
                 model: IvfModel, root: String): Unit = {
    val assigned = docVecs.select(col("doc"), col("vec"))
      .withColumn("cluster", Ivf.nearestCol(col("vec"), model, 1).getItem(0))
      .localCheckpoint(true)
    // the two sub-layout writes are independent jobs over disjoint
    // roots reading ONE pinned assignment — submit them concurrently
    // (the Hybrid bothSides discipline; every multivec segment build
    // pays this pair). The `_model` witness still lands LAST: a crash
    // mid-writeIndex must not leave a witnessed root whose data dirs
    // are half-written.
    graft.core.Par.all(
      () => KeyedWrite.spread(assigned, Seq("cluster"))
        .write.mode(SaveMode.Overwrite).partitionBy("cluster")
        .parquet(s"$root/ivf"),
      () => KeyedWrite.spread(byDoc(assigned), Seq("db"), DocBuckets)
        .write.mode(SaveMode.Overwrite).partitionBy("db")
        .parquet(s"$root/docs"))
    Ivf.saveModel(spark, model, modelPath(root))
    graft.core.Pinned.release(assigned)
  }

  /** Incremental append under the frozen coarse quantizer: the
    * increment's assignment pass feeds BOTH sub-layouts (the family's
    * disjoint-docs contract — a doc's vectors arrive in exactly one
    * increment, so max/sum over the grown layout ≡ one-shot). The
    * quantizer is verified against the pair's persisted `_model`
    * first (first contact saves): an increment assigned under a
    * drifted model would silently skew candidate generation for
    * exactly its docs.
    */
  def appendDocs(spark: SparkSession, docVecs: DataFrame,
                 model: IvfModel, root: String): Unit = {
    recoverPair(spark, root)
    ensureModel(spark, model, root)
    val assigned = docVecs.select(col("doc"), col("vec"))
      .withColumn("cluster", Ivf.nearestCol(col("vec"), model, 1).getItem(0))
      .localCheckpoint(true)
    // both sub-layout appends read ONE pinned assignment and write
    // disjoint roots — concurrent like writeIndex's pair. The crash
    // model is unchanged in class: a crash mid-call leaves one side
    // appended (either side now, instead of always ivf-first), which
    // the replay story already owns — the streamed caller's ledger
    // marker is only written after BOTH complete, so a replay re-runs
    // the whole batch exactly as before.
    graft.core.Par.all(
      () => KeyedWrite.spread(assigned, Seq("cluster"))
        .write.mode(SaveMode.Append).partitionBy("cluster")
        .parquet(s"$root/ivf"),
      () => KeyedWrite.spread(byDoc(assigned), Seq("db"), DocBuckets)
        .write.mode(SaveMode.Append).partitionBy("db")
        .parquet(s"$root/docs"))
    graft.core.Pinned.release(assigned)
  }

  /** DELETE documents (right-to-be-forgotten for the late-interaction
    * tier): both sub-layouts are doc-keyed — one anti-join rewrite
    * each inside the crash-safe swap.
    */
  def deleteDocs(spark: SparkSession, root: String, docs: DataFrame): Unit = {
    val del = docs.select(col(docs.columns.head).as("doc"))
      .localCheckpoint(true)
    // two independent crash-safe rewrites over disjoint sub-layouts,
    // both anti-joining ONE pinned id set — concurrent (the Hybrid
    // deleteDocs bothSides discipline); a crash leaves each layout
    // whole-or-parked exactly as the sequential form could
    graft.core.Par.all(
      () => graft.core.ParquetCompact.rewrite(spark, s"$root/ivf",
        partitionCols = Seq("cluster"),
        transform = p => p.join(del, Seq("doc"), "left_anti")),
      () => graft.core.ParquetCompact.rewrite(spark, s"$root/docs",
        partitionCols = Seq("db"),
        transform = p => p.join(del, Seq("doc"), "left_anti")))
    graft.core.Pinned.release(del)
  }

  /** The pair's recovery preamble: both sub-layouts swap
    * independently, so every reader/writer heals each first.
    */
  private def recoverPair(spark: SparkSession, root: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, s"$root/ivf")
    graft.core.DirSwap.recoverAt(spark, s"$root/docs")
  }

  /** The pair's data witness: the candidate side's cluster= dirs (both
    * sub-layouts are written and deleted together; ivf/ is what a
    * serve probes first).
    */
  private def pairHasData(spark: SparkSession, root: String): Boolean =
    Tombstones.hasData(spark, s"$root/ivf", "cluster=")

  /** TOMBSTONE deletes at serving latency for the late-interaction
    * tier ([[Ivf.tombstoneVectors]]'s model): O(|ids|)
    * [[graft.core.Tombstones]] sidecar append under the ROOT — it
    * masks docs across BOTH sub-layouts and stays out of their
    * compaction swaps; [[searchIndex]] masks the docs at candidate
    * generation on every serve until [[foldTombstones]] retires them
    * into the physical [[deleteDocs]] rewrite. Exact for the same
    * reason the dense mask is: late-interaction scores are
    * per-(query, doc) — masking a doc moves no other doc's Σ max-cos.
    * A data-less pair takes no sidecar.
    */
  def tombstoneDocs(spark: SparkSession, root: String,
                    ids: DataFrame): Unit = {
    recoverPair(spark, root)
    Tombstones.add(spark, root, ids, "doc", pairHasData(spark, root))
  }

  /** Retire the mask into the physical [[deleteDocs]] rewrite of both
    * sub-layouts, then drop the sidecar. Idempotent at any crash
    * point: a crash between the rewrites or before the sidecar delete
    * leaves a mask whose anti-joins remove nothing further.
    */
  def foldTombstones(spark: SparkSession, root: String): Unit = {
    recoverPair(spark, root)
    Tombstones.fold(spark, root, "doc", pairHasData(spark, root))(
      deleteDocs(spark, root, _))
  }

  /** UPSERT — replace-by-id for RE-EMBEDDED documents (the most
    * common mutation for a late-interaction index: a doc's token
    * vectors change wholesale): physical delete of the ids' old
    * vectors from both sub-layouts plus a fresh assign-append
    * (id-based tombstones cannot express replace — the mask would
    * hide the new copy too, the [[Ivf.upsertVectors]] argument).
    * Grown ≡ one-shot over (corpus \ ids) ∪ batch (oracle-pinned);
    * idempotent under crash+re-run like [[Sparse.upsertDocs]]. The
    * batch's ids also REVIVE from any live tombstone mask
    * ([[graft.core.Tombstones.revive]]): an upsert is an explicit
    * re-add, which supersedes a pending tombstone — without the
    * revive, tombstone(X) → upsert(X) leaves the fresh copy masked
    * at serve and the next [[foldTombstones]] physically ERASES it.
    */
  def upsertDocs(spark: SparkSession, root: String, docVecs: DataFrame,
                 model: IvfModel): Unit = {
    deleteDocs(spark, root, docVecs.select(col("doc")).distinct())
    appendDocs(spark, docVecs, model, root)
    Tombstones.revive(spark, root, docVecs.select(col("doc")).distinct(),
      "doc")
  }

  /** EXACT count of live (served) documents, optionally filtered over
    * the `doc` column — the count-API semantics ([[Ivf.countIndex]])
    * on the late-interaction tier: distinct docs over the masked
    * doc-bucketed gather layout (a doc is ONE collection point
    * however many token vectors it carries — counting ivf/ postings
    * would report vectors, not documents). One column-pruned scan of
    * docs/; returns a one-row (cnt) frame. A missing or data-less
    * pair counts zero.
    */
  def countDocs(spark: SparkSession, root: String,
                filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    recoverPair(spark, root)
    Tombstones.count(spark, root, s"$root/docs", pairHasData(spark, root),
      filter)
  }

  /** KEYSET pagination over the pair — [[Ivf.scroll]]'s doc-listing
    * semantics on the late-interaction tier: one id-ordered page of
    * DISTINCT live doc ids strictly after `afterId`, masked by the
    * pair's root tombstones, optionally filtered over `doc`. Walks
    * the docs/ gather side (one doc-column-pruned scan; the listing
    * has no query vectors to prune clusters by), the cut is
    * TakeOrderedAndProject — O(page) rows cross the driver at any
    * depth. A missing or data-less pair yields an empty page.
    */
  def scroll(spark: SparkSession, root: String, afterId: Option[Long],
             limit: Int,
             filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    recoverPair(spark, root)
    Tombstones.page(spark, root, s"$root/docs", pairHasData(spark, root),
      afterId, limit, filter)
  }

  /** SEGMENT MERGE: per-doc rows under ONE frozen quantizer —
    * VERIFIED against both pairs' persisted `_model` witnesses (the
    * [[Ivf.mergeInto]] contract; this tier used to trust the caller,
    * the one multi-segment path that did), so both sub-layouts
    * absorb by pure file moves. Src's tombstone sidecar FOLDS first
    * (it would be dropped by the move, silently resurrecting src's
    * deleted docs in dst); dst's stays live and untouched — it masks
    * only dst docs, which remain valid. Src's `_model` dies with the
    * src root, LAST — a crashed merge's re-run can still verify the
    * pair before moving the rest.
    */
  def mergeInto(spark: SparkSession, dstRoot: String,
                srcRoot: String): Unit = {
    recoverPair(spark, dstRoot)
    recoverPair(spark, srcRoot)
    val src = new org.apache.hadoop.fs.Path(srcRoot)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) return // absent src IS an empty layout
    require(fs.exists(new org.apache.hadoop.fs.Path(dstRoot)),
      s"merge destination $dstRoot does not exist")
    Seq(srcRoot, dstRoot).foreach { r =>
      require(fs.exists(new org.apache.hadoop.fs.Path(modelPath(r))),
        s"pair $r has no persisted _model (MultiVector.writeIndex/" +
          "appendDocs) — it is the only witness that the pairs share " +
          "one coarse quantizer")
    }
    require(Ivf.persistedModelsMatch(spark, modelPath(srcRoot),
        modelPath(dstRoot)),
      s"$srcRoot and $dstRoot are assigned under DIFFERENT coarse " +
        "quantizers — rebuild one pair under the other's model")
    foldTombstones(spark, srcRoot)
    Seq("ivf", "docs").foreach { sub =>
      graft.core.SegmentMerge.moveTree(fs,
        new org.apache.hadoop.fs.Path(s"$srcRoot/$sub"),
        new org.apache.hadoop.fs.Path(s"$dstRoot/$sub"))
    }
    fs.delete(src, true)
  }

  /** Serve late-interaction top-k from the persisted pair: probe →
    * gather → exact rescore. Exact for nprobe = nlist
    * (oracle-pinned); at partial probe surfaced scores stay exact
    * and only candidate recall is approximate.
    */
  /** `docFilter` is filter-inside-search over the `doc` column (the
    * family's Lucene filter contract): applied at candidate
    * generation, below the ranking cut — and because the rescore is
    * exact over gathered docs, a filtered result at the exhaustive
    * probe IS brute force over the filtered corpus.
    */
  def searchIndex(spark: SparkSession, root: String, queryVecs: DataFrame,
                  model: IvfModel, k: Int, nprobe: Int,
                  excludeDoc: Option[(org.apache.spark.sql.Column,
                    org.apache.spark.sql.Column) =>
                    org.apache.spark.sql.Column] = None,
                  docFilter: Option[org.apache.spark.sql.Column] =
                    None): DataFrame = {
    val q = queryVecs.select(col("qid"), col("vec").as("qv"),
        monotonically_increasing_id().as("qvix"))
      .localCheckpoint(true)
    val (scored, cand) =
      scoredCandidates(spark, Seq(root), q, model, nprobe, excludeDoc,
        docFilter)
    val out = rank(scored, k).localCheckpoint(true)
    graft.core.Pinned.release(q)
    graft.core.Pinned.release(cand)
    out
  }

  /** The probe → gather → exact-rescore prefix shared by every
    * ranked serve, over ONE OR MORE pair roots. Driver-job count is
    * CONSTANT in the number of segments — the per-segment-jobs
    * version measured LINEAR at ~0.5 s/segment of pure fixed cost
    * (MultiVecSegmentsCurve: 1.27 → 8.62 s across 1 → 16 segments;
    * the dense/lexical tiers' curve disease on this tier):
    *  1. probe cells collect ONCE — the quantizer is shared across
    *     segments (witness-verified on the segments path), so the
    *     probed cells are segment-independent;
    *  2. per-segment candidate legs (each pruned by the shared cells,
    *     filtered, probe-joined, masked by ITS OWN tombstones) union
    *     into ONE pinned frame;
    *  3. per-segment candidate counts and touched doc-buckets come
    *     from ONE grouped collect (≤ segments rows);
    *  4. the gather's In-pushdown ids collect batches across every
    *     under-cutoff segment in ONE job (≤ segments × cutoff rows);
    *  5. the rescore joins gathered vectors to candidates on `doc`
    *     alone — sound because a doc's vector set lives in exactly
    *     ONE segment (the family's disjoint-docs contract), so the
    *     segment tag is already encoded in the doc id.
    * Returns the exact (qid, doc, score) frame plus the candidate
    * pin, which the caller must `Pinned.release` only AFTER
    * materializing its ranked output (the scored plan reads through
    * it).
    */
  private[graft] def scoredCandidates(spark: SparkSession, roots: Seq[String],
                  q: DataFrame, model: IvfModel, nprobe: Int,
                  excludeDoc: Option[(org.apache.spark.sql.Column,
                    org.apache.spark.sql.Column) =>
                    org.apache.spark.sql.Column],
                  docFilter: Option[org.apache.spark.sql.Column])
      : (DataFrame, DataFrame) = {
    val hc = spark.sparkContext.hadoopConfiguration
    roots.foreach(recoverPair(spark, _))
    // FAST PATH (r17): ONE relation per sub-layout for multi-segment
    // tombstone-free serves — the dense tier's r16 single-relation
    // lesson (Ivf.readSegmentsServing) adapted to this tier's pair
    // shape. The dense fast path reads seg=*/cluster=* under one
    // basePath, but here a NON-k=v level (ivf/, docs/) sits between
    // the segment dirs and the partition dirs, so Spark's partition
    // discovery cannot resolve one base (CONFLICTING_DIRECTORY_
    // STRUCTURES — measured, not theory). Instead the PRUNED
    // partition directories are enumerated driver-side (one
    // listStatus per segment sub-layout — the same metadata the
    // per-segment relations listed anyway) and read as a single FLAT
    // relation with no partition discovery at all; `cluster` is
    // reattached from the file path (_metadata.file_path — the exact
    // dir name partition discovery would have parsed).
    // MultiVecSegmentsCurve measured the per-relation fixed cost at
    // ~110 ms/segment of pure plan/relation construction; this
    // collapses 2N relations + an N-way tagged union to 2 relations.
    // Soundness is the disjoint-docs contract the per-segment path
    // already leans on: a doc's vector set lives whole in exactly ONE
    // segment, so candidates keyed by (qid, doc) and a gather joined
    // on `doc` alone are identical to the per-segment tagged union
    // (the __seg tag only ever drove per-segment gather PRUNING,
    // never results). The gather's In-pushdown gate becomes global
    // (total candidates ≤ cutoff instead of per segment — stricter,
    // same driver bound) and the touched doc-buckets merge across
    // segments — a bounded superset read whose join on the candidate
    // set returns the same rows. Segments with live tombstone
    // sidecars take the per-segment path below, whose per-segment
    // masks they actually need; the sidecar DirSwap.recover the
    // per-segment path performs runs in the eligibility check too,
    // so the crash-window heal is never skipped.
    val fastEligible = roots.sizeIs > 1 &&
      roots.forall(r => !Tombstones.present(spark, r))
    // relation construction batched like the bm25/dense serves
    // (2 relations × N segments: schema inference + listing each —
    // reuse the head's inferred schemas, sound because ONE writeIndex
    // writes every pair; force driver-side discovery under the same
    // single-planner contract as Ivf.readSegmentsServing)
    val discKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prevDisc = spark.conf.get(discKey)
    // 1. candidate generation: each query vector probes nprobe cells
    //    (ONE collect, shared by every segment — same quantizer)
    val probes = q.withColumn("cluster",
      explode(Ivf.nearestCol(col("qv"), model, nprobe)))
    val cells = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0).toLong).toSeq // ≤ nlist, bounded
    if (fastEligible) {
      // the pruned partition dirs, enumerated driver-side: dir-level
      // pruning done by hand (exactly what PartitionIn's partition
      // filter achieved), one listing per segment sub-layout
      def prunedDirs(sub: String, key: String,
                     keep: Long => Boolean): Seq[String] =
        roots.flatMap { r =>
          val p = new org.apache.hadoop.fs.Path(s"$r/$sub")
          val fs = p.getFileSystem(hc)
          if (!fs.exists(p)) Nil
          else fs.listStatus(p).toSeq.collect {
            case st if st.isDirectory &&
                st.getPath.getName.matches(s"$key=\\d+") &&
                keep(st.getPath.getName.drop(key.length + 1).toLong) =>
              st.getPath.toString
          }
        }
      val cellSet = cells.toSet
      val ivfDirs = prunedDirs("ivf", "cluster", cellSet.contains)
      if (ivfDirs.isEmpty) { // no probed cell holds data anywhere
        val emptyCand = q.select(col("qid"), lit(0L).as("doc"))
          .limit(0).localCheckpoint(true)
        return (emptyCand.withColumn("score", lit(0L)), emptyCand)
      }
      // 2'. ONE candidate leg over the flat pruned-dirs relation (no
      //     tombstones by eligibility, so no mask; no __seg tag — its
      //     only consumers were the per-segment gather gates,
      //     globalized below)
      val ivfAll =
        try {
          spark.conf.set(discKey, Int.MaxValue.toString)
          spark.read.parquet(ivfDirs: _*)
        } finally spark.conf.set(discKey, prevDisc)
      val cand = ivfAll
        .withColumn("cluster", regexp_extract(
          col("_metadata.file_path"), "cluster=(\\d+)/", 1).cast("int"))
        .where(docFilter.getOrElse(lit(true)))
        .select(col("cluster"), col("doc"))
        .join(broadcast(probes.select(col("qid"), col("cluster"))),
          Seq("cluster"))
        .where(excludeDoc match {
          case Some(p) => !p(col("qid"), col("doc"))
          case None => lit(true)
        })
        .select(col("qid"), col("doc"))
        .distinct()
        .localCheckpoint(true) // count-gate + stable across the gather
      // 3'. gather stats in ONE collect: GLOBAL candidate count (the
      //     In-pushdown gate) and the union of touched doc-buckets
      //     (≤ DocBuckets values)
      val st = cand.agg(count(lit(1)),
        collect_set(pmod(col("doc"), lit(DocBuckets.toLong)))).head()
      val nCand = st.getLong(0)
      if (nCand == 0L) // no candidates anywhere
        return (cand.select(col("qid"), col("doc"),
          lit(0L).as("score")).limit(0), cand)
      val dbSet = st.getSeq[Long](1).toSet
      val docDirs = prunedDirs("docs", "db", dbSet.contains)
      if (docDirs.isEmpty) // defensive: candidates imply gather rows
        return (cand.select(col("qid"), col("doc"),
          lit(0L).as("score")).limit(0), cand)
      // 4'/5'. ONE bucket-pruned (and, under the cutoff, In-pushed)
      //     gather over the flat pruned-dirs docs relation, then the
      //     same exact rescore — the join on `doc` returns exactly
      //     each candidate's whole vector set under the disjoint-docs
      //     contract, whatever segment's files carried it
      val g0 =
        try {
          spark.conf.set(discKey, Int.MaxValue.toString)
          spark.read.parquet(docDirs: _*)
        } finally spark.conf.set(discKey, prevDisc)
      val gathered =
        if (nCand <= GatherFilterCutoff) {
          val ids = cand.select(col("doc")).distinct()
            .collect().map(_.getLong(0)).sorted.toSeq
          g0.where(col("doc").isInCollection(ids))
        } else g0
      val scored = gathered
        .select(col("doc"), col("vec"))
        .join(cand, Seq("doc"))
        .join(broadcast(q), Seq("qid"))
        .groupBy(col("qid"), col("qvix"), col("doc"))
        .agg(max(cosFp(col("vec"), col("qv"))).as("m"))
        .groupBy(col("qid"), col("doc"))
        .agg(sum(col("m")).cast("long").as("score"))
      return (scored, cand)
    }
    val (ivfReads, docReads) =
      try {
        spark.conf.set(discKey, Int.MaxValue.toString)
        val ivfHead = spark.read.parquet(s"${roots.head}/ivf")
        val docHead = spark.read.parquet(s"${roots.head}/docs")
        (ivfHead +: roots.tail.map(r =>
           spark.read.schema(ivfHead.schema).parquet(s"$r/ivf")),
         docHead +: roots.tail.map(r =>
           spark.read.schema(docHead.schema).parquet(s"$r/docs")))
      } finally spark.conf.set(discKey, prevDisc)
    // 2. per-segment candidate legs → one tagged union. The
    //    tombstone mask sits ABOVE the candidate gather: a masked doc
    //    must neither surface nor consume gather/rescore work
    //    (un-hinted anti join — AQE broadcasts the
    //    fold-cadence-bounded set, an overgrown mask degrades to a
    //    shuffle not an OOM). Masks never cross segment boundaries.
    val candLegs = roots.zipWithIndex.map { case (root, i) =>
      val ivf0 = ivfReads(i)
      val cand0 = ivf0
        .where(graft.core.PartitionIn.inSet(ivf0, "cluster", cells))
        .where(docFilter.getOrElse(lit(true)))
        .select(col("cluster"), col("doc"))
        .join(broadcast(probes.select(col("qid"), col("cluster"))),
          Seq("cluster"))
        .where(excludeDoc match {
          case Some(p) => !p(col("qid"), col("doc"))
          case None => lit(true)
        })
      Tombstones.mask(spark, cand0, root, "doc")
        .select(lit(i).as("__seg"), col("qid"), col("doc"))
    }
    val cand = candLegs.reduce(_ unionByName _)
      .distinct()
      .localCheckpoint(true) // count-gate + stable across the gather
    // 3. per-segment gather stats in ONE collect: candidate count
    //    (the In-pushdown gate) and the touched doc-buckets
    //    (≤ DocBuckets values per segment)
    val segStats: Map[Int, (Long, Seq[Long])] =
      cand.groupBy(col("__seg"))
        .agg(count(lit(1)).as("n"),
          collect_set(pmod(col("doc"), lit(DocBuckets.toLong))).as("dbs"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    // 4. In-pushdown ids for every under-cutoff segment, ONE batched
    //    collect (bounded by segments × GatherFilterCutoff rows)
    val underCutoff = segStats.collect {
      case (i, (n, _)) if n <= GatherFilterCutoff => i
    }.toSeq
    val idsBySeg: Map[Int, Seq[Long]] =
      if (underCutoff.isEmpty) Map.empty
      else cand.where(col("__seg").isInCollection(underCutoff))
        .select(col("__seg"), col("doc")).collect()
        .groupBy(_.getInt(0))
        .map { case (s, rs) => s -> rs.map(_.getLong(1)).sorted.toSeq }
    // 5. per-segment gather legs (candidate-less segments gather
    //    nothing), then ONE exact rescore over the union
    val gatherLegs = roots.indices.flatMap { i =>
      segStats.get(i).map { case (_, dbs) =>
        val docs0 = docReads(i)
        val g0 = docs0.where(graft.core.PartitionIn.inSet(docs0, "db", dbs))
        idsBySeg.get(i) match {
          case Some(ids) => g0.where(col("doc").isInCollection(ids))
          case None => g0 // over the cutoff: read the buckets whole
        }
      }
    }
    if (gatherLegs.isEmpty) // no candidates anywhere
      return (cand.select(col("qid"), col("doc"),
        lit(0L).as("score")).limit(0), cand)
    val scored = gatherLegs.reduce(_ unionByName _)
      .select(col("doc"), col("vec"))
      .join(cand.select(col("qid"), col("doc")), Seq("doc"))
      .join(broadcast(q), Seq("qid"))
      .groupBy(col("qid"), col("qvix"), col("doc"))
      .agg(max(cosFp(col("vec"), col("qv"))).as("m"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("m")).cast("long").as("score"))
    (scored, cand)
  }

  /** Serve late-interaction top-k over SEVERAL pair roots WITHOUT a
    * physical merge — the LSM read path on this tier, completing the
    * family's segments matrix. Each segment runs its own probe →
    * gather → exact-rescore prefix (a doc's vector set lives in
    * exactly ONE segment under the family's disjoint-docs contract,
    * so per-segment Σ max-cos scores ARE the union's scores), each
    * segment's own tombstone mask applies to its rows, and one
    * global rank window cuts k — so at nprobe = nlist the result is
    * identical to serving the physically merged pair. Segments must
    * share the coarse quantizer — VERIFIED here against each pair's
    * persisted `_model` (the batched one-read witness check the
    * dense tier runs, [[Ivf.verifyModelWitnesses]]; this tier used
    * to trust the caller — the exact failure class the witness
    * exists to catch, on the tier where it is hardest to notice:
    * a drifted-model segment keeps surfaced scores exact and only
    * candidate recall silently degrades). Absent roots are empty
    * segments; at least one must exist.
    */
  def searchSegments(spark: SparkSession, roots: Seq[String],
                  queryVecs: DataFrame, model: IvfModel, k: Int,
                  nprobe: Int,
                  excludeDoc: Option[(org.apache.spark.sql.Column,
                    org.apache.spark.sql.Column) =>
                    org.apache.spark.sql.Column] = None,
                  docFilter: Option[org.apache.spark.sql.Column] =
                    None): DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    // recover EVERY root before the live filter (the family
    // convention): a mid-swap-parked segment ($r/ivf at __old after
    // a compact/delete crash) would otherwise read as "absent" and
    // its whole corpus would silently vanish from results; and the
    // witness is cluster= DATA, not bare existence — a crash-leftover
    // sidecar-only dir must classify as empty, not die on schema
    // inference (the empty-layout landmine)
    val live = roots.filter { r =>
      recoverPair(spark, r)
      pairHasData(spark, r)
    }
    require(live.nonEmpty,
      "every segment root is absent or data-less — nothing to serve")
    live.foreach { r =>
      val mp = new org.apache.hadoop.fs.Path(modelPath(r))
      require(mp.getFileSystem(hc).exists(mp),
        s"segment pair $r has no persisted _model (MultiVector." +
          "writeIndex/appendDocs) — it is the only witness that the " +
          "segments share one quantizer")
    }
    Ivf.verifyModelWitnesses(spark, live.map(modelPath), model)
    val q = queryVecs.select(col("qid"), col("vec").as("qv"),
        monotonically_increasing_id().as("qvix"))
      .localCheckpoint(true)
    val (scored, cand) =
      scoredCandidates(spark, live, q, model, nprobe, excludeDoc, docFilter)
    val out = rank(scored, k).localCheckpoint(true)
    graft.core.Pinned.release(q)
    graft.core.Pinned.release(cand)
    out
  }

  /** Grouped (multi-tenant) late-interaction serve: top-k per
    * (query, group), where `docGroups` maps each doc to its tenant
    * (one group per doc — the payload-column contract shared with
    * [[Ivf.searchGrouped]]). Because a doc belongs to exactly one
    * tenant, the candidate gather and exact rescore are the
    * ungrouped prefix unchanged; only the ranking window gains the
    * tenant key — so at nprobe = nlist every tenant's rows are
    * brute force over that tenant's docs. At partial probe,
    * candidate recall is approximate per tenant (a sparse tenant
    * can under-fill; this tier serves fixed-probe by design —
    * widen nprobe rather than expecting dense-tier adaptive fill).
    */
  def searchIndexGrouped(spark: SparkSession, root: String,
                  queryVecs: DataFrame, model: IvfModel, k: Int,
                  nprobe: Int, groupCol: String, docGroups: DataFrame,
                  excludeDoc: Option[(org.apache.spark.sql.Column,
                    org.apache.spark.sql.Column) =>
                    org.apache.spark.sql.Column] = None,
                  docFilter: Option[org.apache.spark.sql.Column] =
                    None): DataFrame = {
    val q = queryVecs.select(col("qid"), col("vec").as("qv"),
        monotonically_increasing_id().as("qvix"))
      .localCheckpoint(true)
    val (scored, cand) =
      scoredCandidates(spark, Seq(root), q, model, nprobe, excludeDoc,
        docFilter)
    // scored is ≤ queries × candidates — the small side of the
    // doc→tenant join; AQE broadcasts it against the corpus-sized map
    val grouped = scored.join(
      docGroups.select(col("doc"), col(groupCol).as("__grp")), Seq("doc"))
    val w = Window.partitionBy(col("qid"), col("__grp"))
      .orderBy(col("score").desc, col("doc").asc)
    val out = grouped.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("__grp").as(groupCol), col("doc"),
        col("score"), col("rk"))
      .localCheckpoint(true)
    graft.core.Pinned.release(q)
    graft.core.Pinned.release(cand)
    out
  }
}
