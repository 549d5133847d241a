package graft.streaming

import graft.pipeline.{Bm25, Hybrid, Ivf, Sparse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Segment-per-microbatch ingest — the LSM WRITE path of the
  * multi-segment serving family, on every tier that serves segments
  * ([[Ivf.readSegmentsServing]], [[Bm25.searchSegments]],
  * [[Sparse.searchSegments]], [[Hybrid.searchSegments]]): each
  * microbatch builds its OWN immutable segment root,
  * `$root/seg=<batchId>`.
  *
  * Exactly-once falls out of the naming, with NO ledger: a replayed
  * batch overwrites its own segment with identical contents (the
  * staged input is deterministic) and never touches any other
  * segment — the idempotence the single-layout ingests buy with
  * [[BatchLedger]]. There is also no append-visibility window: a
  * segment either exists whole or not at all, so a concurrent
  * serve never sees a half-written increment (the immutable-segment
  * argument LSM engines make). The lexical tier gets this for free
  * DESPITE its non-additive-looking stats: per-segment stats rows
  * are exactly what a merged index's summed stats/df reads would
  * hold (Bm25.searchSegments merges N/T/df globally), so a segment
  * build never touches another segment's statistics.
  *
  * Serving lists the segment roots ([[segmentRoots]]) and unions
  * them through each tier's own witness/mask machinery; the
  * mergeAll* entry points fold segments together as BACKGROUND
  * maintenance — after them, the merged root serves identically
  * (gate-pinned both stages against the one-shot goldens).
  *
  * ONE ordering caveat closes the exactly-once story when maintenance
  * and the stream overlap: [[promoteBatch]] promotes BEFORE the
  * stream's checkpoint commits the batch, so the NEWEST segment may
  * belong to a batch whose commit never landed. If maintenance
  * absorbed that segment into a survivor and the stream then crashed,
  * the replay would re-create `seg=<batchId>` BESIDE the survivor
  * already holding its rows — duplicates every tier's segment union
  * would faithfully serve. Commits are sequential (batch N commits
  * before batch N+1 runs), so only the MAX batch id can be
  * uncommitted: every maintenance entry point therefore skips the
  * max-id segment by default (`protectTail = true`), making
  * promote → maintain → crash → replay serve identically to a stream
  * that never crashed (spec-pinned). Pass `protectTail = false` only
  * when no replay can occur — the stream is stopped and its
  * checkpoint retired — to fold the tail too.
  *
  * The tail guard assumes the checkpoint only ever rewinds by the ONE
  * uncommitted batch. An operator rewinding FURTHER (restoring an old
  * checkpoint backup, hand-deleting late commits) would replay batch
  * ids whose segments maintenance already absorbed into survivors —
  * re-creating them beside the survivor and serving every absorbed
  * row twice — or, rewound all the way to the SURVIVOR's own id,
  * re-promoting the survivor from that single batch and silently
  * LOSING every absorbed sibling's rows. The [[retiredIds]] sidecar
  * closes both holes: every maintenance fold records the whole fold
  * group's ids — absorbed AND destination — in `$root/_retired`
  * BEFORE touching their segments, and every processBatch* no-ops a
  * batch id found there, so an arbitrarily-deep rewind replays to
  * exactly the layout maintenance left (spec-pinned on the dense and
  * lexical tiers).
  */
object StreamingSegments {

  /** The current segment roots under `root`, ordered by NUMERIC
    * batch id (lexicographic order would put seg=10 before seg=2 —
    * harmless to results today, surprising to anything that ever
    * relies on batch order). Only `seg=<digits>` dirs qualify: a
    * foreign dir like `seg=backup` is ignored rather than crashing
    * every serve with a NumberFormatException. Absent root = no
    * segments yet.
    */
  def segmentRoots(spark: SparkSession, root: String): Seq[String] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp)
      .filter(s => s.isDirectory &&
        s.getPath.getName.matches("seg=\\d+"))
      .map(_.getPath.toString)
      .sortBy(p => p.substring(p.lastIndexOf("seg=") + 4).toLong)
      .toSeq
  }

  /** Numeric batch id of a `seg=<id>` root path. */
  private def segId(p: String): Long =
    p.substring(p.lastIndexOf("seg=") + 4).toLong

  /** The batch ids maintenance has absorbed into survivors — the
    * RETIRED-IDS SIDECAR (`$root/_retired`, one id per line), the
    * multi-batch rewind guard the class doc describes. Reads the
    * completed tmp file when the live file is absent (the only gap
    * [[retireIds]]'s delete→rename window can leave — the tmp is
    * fully written and closed before the live file is deleted).
    * Empty when neither exists (no fold has retired anything).
    */
  def retiredIds(spark: SparkSession, root: String): Set[Long] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$root/_retired")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/._retired_tmp")
    def readOf(p: org.apache.hadoop.fs.Path): Set[Long] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
      finally in.close()
    }
    // The exists→open pair races [[retireIds]]'s delete→rename swap:
    // a reader landing in the window sees the live file exist and then
    // open fails (or neither exists yet the tmp is complete). One
    // retry down the documented healing order (live, then tmp) covers
    // every interleaving a single concurrent swap can produce.
    def attempt(): Set[Long] =
      if (fs.exists(live)) readOf(live)
      else if (fs.exists(tmp)) readOf(tmp)
      else Set.empty
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** Record `ids` as retired, BEFORE their segments are merged (the
    * crash-order that keeps every state reachable mid-fold correct: a
    * retired id whose segment still exists whole just no-ops its
    * replay — rows still served once from the old segment — and the
    * next maintenance pass completes the fold; the reverse order
    * would leave an absorbed segment's id replayable, the exact
    * duplicate hazard this sidecar exists to close). Every fold
    * retires the merge DESTINATION's id too, not just the absorbed
    * ids: after the fold, `seg=<dstId>` holds every absorbed
    * sibling's rows, so a rewind deep enough to replay the
    * destination's own batch would otherwise re-promote it — deleting
    * the survivor whole and rebuilding it from the single batch,
    * after which the absorbed ids' replays no-op and their rows are
    * silently LOST. A no-oped replay of the destination's id instead
    * leaves the survivor intact, which already contains that batch's
    * rows — exactly the post-maintenance layout. Write is
    * tmp + delete + rename; [[retiredIds]] heals the delete→rename
    * crash window from the completed tmp. SCOPE: ids are the stream's
    * own batch ids — the sidecar shares the segment names' checkpoint
    * lineage, so a fresh stream (ids restarting at 0) must land in a
    * fresh root, which `seg=0` collisions already require.
    */
  private def retireIds(spark: SparkSession, root: String,
                        ids: Iterable[Long]): Unit = {
    if (ids.isEmpty) return
    val all = retiredIds(spark, root) ++ ids
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/._retired_tmp")
    val out = fs.create(tmp, true)
    try out.write(all.toSeq.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$root/_retired")
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"retire rename $tmp -> $dst failed")
  }

  /** The guard and hidden-build-then-promote protocol every tier's
    * processBatch* shares. An empty batch (unless the caller knows it
    * is non-empty) creates no segment — the empty-layout landmine: a
    * zero-row write would leave a _SUCCESS-only root that every later
    * segments read dies on — and a [[retiredIds]] batch id no-ops
    * (the deep-rewind guard in the class doc). Otherwise `build` lands
    * the complete segment (data AND its metadata sidecars) under
    * `.seg=<id>__building` — the dot prefix keeps [[segmentRoots]] and
    * Spark's file index blind to it — then ONE rename promotes it, so
    * a concurrent serve never observes data without its witness or a
    * replay's half-overwritten segment. A crash mid-build leaves only
    * the hidden dir (swept by the next replay of the same batch); a
    * crash in the delete→rename window leaves the segment absent — an
    * empty segment to readers — until the uncommitted batch replays,
    * which regenerates it. Returns whether a segment was promoted
    * (the ingest cadence counter's signal).
    */
  private def promoteBatch(spark: SparkSession, batch: DataFrame,
                           root: String, batchId: Long,
                           knownNonEmpty: Boolean)
                          (build: String => Unit): Boolean = {
    if ((!knownNonEmpty && batch.isEmpty) ||
        retiredIds(spark, root).contains(batchId))
      return false
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/.seg=${batchId}__building")
    fs.delete(tmp, true) // a prior crashed build of this batch
    build(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(s"$root/seg=$batchId")
    fs.delete(dst, true) // replay: retire the old copy whole
    require(fs.rename(tmp, dst), s"promote $tmp -> $dst failed")
    true
  }

  /** Replay `src` as `nBatches` id-ordered microbatches through
    * `perBatch` ([[StagedIngest]]; no ledger — the segment names are
    * the replay guard, so the run key goes unused).
    */
  private def runIngest(spark: SparkSession, src: String, idCol: String,
                        nBatches: Int, kind: String)
                       (perBatch: (DataFrame, Long) => Unit): Unit =
    StagedIngest.run(spark, src, StagedIngest.Split(idCol, nBatches),
      kind)((_, _) => perBatch)

  /** One DENSE microbatch: assign under the frozen model, write the
    * batch's own int8 segment + its `_model` witness
    * (readSegmentsServing hard-requires it). Exposed for testing.
    * Empty batches create no segment ([[promoteBatch]]). Returns
    * whether a segment was promoted.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
                   root: String, model: graft.pipeline.IvfModel,
                   batchId: Long,
                   knownNonEmpty: Boolean = false): Boolean =
    promoteBatch(spark, batch, root, batchId, knownNonEmpty) { tmp =>
      Ivf.writeIndexInt8(Ivf.assign(batch, vecCol, model), vecCol, tmp,
        model = Some(model))
    }

  /** The per-ingest maintenance cadence: after every `maintainEvery`
    * promotes (0 = maintenance off, the default) run the tier's
    * size-tiered fold — with the tail protected, per the class doc:
    * the segment the stream just promoted may not be checkpointed
    * yet, so in-stream maintenance is exactly the caller the
    * `protectTail` default exists for. The cadence trade is measured
    * (MaintenanceCurve): each pass costs up to the policy's worst
    * single cascade, and in exchange serve latency stays pinned to
    * the near-flat few-segments curve instead of drifting up the
    * per-segment slope between offline maintenance windows.
    */
  private def maintainCadence(maintainEvery: Int)(run: () => Unit)
      : () => Unit = {
    require(maintainEvery >= 0,
      s"maintainEvery must be >= 0 (0 = off), got $maintainEvery")
    var promotes = 0
    () => {
      promotes += 1
      if (maintainEvery > 0 && promotes % maintainEvery == 0) run()
    }
  }

  /** Stream the embeddings table (replayed as `nBatches` id-ordered
    * microbatches) into a dense segment-per-batch layout under
    * `root`; `maintainEvery` > 0 runs [[maintainTiered]] (tail
    * protected) after every that-many promotes.
    */
  def ingest(spark: SparkSession, dir: String, root: String,
             model: graft.pipeline.IvfModel, nBatches: Int = 4,
             maintainEvery: Int = 0, fanout: Int = 4,
             minTierBytes: Long = 1L << 20): Unit = {
    val tick = maintainCadence(maintainEvery)(() =>
      maintainTiered(spark, root, fanout, minTierBytes))
    runIngest(spark, s"$dir/embeddings.parquet", "vec_id", nBatches,
      "segs") { (batch, batchId) =>
      if (processBatch(batch.sparkSession, batch, "embedding", root, model,
        batchId, knownNonEmpty = true)) tick()
    }
  }

  /** Background maintenance: fold every dense segment into the first
    * via the family's file-move [[Ivf.mergeInto]] (shared-quantizer
    * witness verified per merge). Returns the surviving root, None
    * when no segments exist. Serving through
    * [[Ivf.readSegmentsServing]] before, during (merges are
    * crash-safe moves), or after the fold returns the same rows.
    *
    * @note BEHAVIOR CHANGE (all mergeAll* / maintainTiered* entry
    *       points): `protectTail` now DEFAULTS to true — an offline
    *       "fold everything" call leaves the max-batch-id segment
    *       unmerged, and a lone segment returns None. Callers that
    *       relied on a full fold must pass `protectTail = false`
    *       explicitly, which is only safe once the stream is stopped
    *       and its checkpoint retired.
    */
  def mergeAll(spark: SparkSession, root: String,
               idCol: String = "vec_id",
               protectTail: Boolean = true): Option[String] =
    foldAll(spark, root, protectTail, minIdSeg)(
      Ivf.mergeInto(spark, _, _, idCol))

  /** The fold every mergeAll* shares: retire the whole group (the
    * destination's id too — see [[retireIds]]'s survivor-rewind doc)
    * when there is anything to absorb, then merge every other
    * foldable segment into `pickDst`'s choice. None when no segment
    * may be touched.
    */
  private def foldAll(spark: SparkSession, root: String,
                      protectTail: Boolean,
                      pickDst: Seq[String] => String)
                     (merge: (String, String) => Unit): Option[String] = {
    val segs = foldable(spark, root, protectTail)
    if (segs.isEmpty) return None
    val dst = pickDst(segs)
    if (segs.sizeIs > 1) retireIds(spark, root, segs.map(segId))
    segs.filterNot(_ == dst).foreach(merge(dst, _))
    Some(dst)
  }

  /** The segment roots a maintenance pass may touch: all of them when
    * `protectTail` is off, all but the max-batch-id segment (the
    * possibly-uncommitted tail — see the class doc) when it is on —
    * INCLUDING the single-segment case: a lone segment IS the tail,
    * so a protected pass has nothing to touch (returning it would
    * hand it to mergeAll as a "merge destination" the caller may
    * then compact, exactly the segment the invariant promises never
    * to touch while the stream can replay it). segmentRoots is
    * id-ordered, so the tail is simply the last.
    */
  private def foldable(spark: SparkSession, root: String,
                       protectTail: Boolean): Seq[String] = {
    val all = segmentRoots(spark, root)
    if (protectTail) all.dropRight(1) else all
  }

  /** One LEXICAL microbatch: the batch's own complete BM25 index
    * (postings/df/stats) as an immutable segment — the write path
    * [[Bm25.searchSegments]]'s global-stats merge was built to
    * serve, retiring the BatchLedger append-visibility machinery the
    * single-layout [[StreamingBm25]] ingest still needs. Exposed for
    * testing.
    */
  def processBatchBm25(spark: SparkSession, batch: DataFrame,
                       textCol: String, idCol: String, root: String,
                       batchId: Long,
                       knownNonEmpty: Boolean = false): Boolean =
    promoteBatch(spark, batch, root, batchId, knownNonEmpty) { tmp =>
      Bm25.writeIndex(spark, batch, textCol, idCol, tmp)
    }

  /** Stream the documents table into a BM25 segment-per-batch layout
    * under `root`; serve with
    * `Bm25.searchSegments(spark, segmentRoots(root), …)`.
    * `maintainEvery` > 0 runs [[maintainTieredBm25]] (tail protected)
    * after every that-many promotes.
    */
  def ingestBm25(spark: SparkSession, dir: String, root: String,
                 nBatches: Int = 4, maintainEvery: Int = 0,
                 fanout: Int = 4, minTierBytes: Long = 1L << 20): Unit = {
    val tick = maintainCadence(maintainEvery)(() =>
      maintainTieredBm25(spark, root, fanout, minTierBytes))
    runIngest(spark, s"$dir/documents.parquet", "doc_id", nBatches,
      "segbm") { (batch, batchId) =>
      if (processBatchBm25(batch.sparkSession, batch, "text", "doc_id", root,
        batchId, knownNonEmpty = true)) tick()
    }
  }

  /** Fold every BM25 segment into the first via the zero-recompute
    * file-move [[Bm25.mergeInto]] (readers SUM stats/df rows, so the
    * merged layout is bit-identical to serving the segments).
    */
  def mergeAllBm25(spark: SparkSession, root: String,
                   protectTail: Boolean = true): Option[String] =
    foldAll(spark, root, protectTail, minIdSeg)(Bm25.mergeInto(spark, _, _))

  /** One SPARSE microbatch: sparsify under the frozen (tau, scale)
    * contract, write the batch's own dim-bucketed segment. Exposed
    * for testing.
    */
  def processBatchSparse(spark: SparkSession, batch: DataFrame,
                         vecCol: String, idCol: String, root: String,
                         batchId: Long, tau: Double,
                         scale: Double,
                         knownNonEmpty: Boolean = false): Boolean =
    promoteBatch(spark, batch, root, batchId, knownNonEmpty) { tmp =>
      Sparse.writeIndex(Sparse.sparsify(batch, vecCol, idCol, tau, scale),
        tmp)
    }

  /** Stream the embeddings table into a sparse segment-per-batch
    * layout under `root`; serve with
    * `Sparse.searchSegments(spark, segmentRoots(root), …)`.
    * `maintainEvery` > 0 runs [[maintainTieredSparse]] (tail
    * protected) after every that-many promotes.
    */
  def ingestSparse(spark: SparkSession, dir: String, root: String,
                   nBatches: Int = 4, tau: Double = 0.05,
                   scale: Double = Sparse.DefaultScale,
                   maintainEvery: Int = 0, fanout: Int = 4,
                   minTierBytes: Long = 1L << 20): Unit = {
    val tick = maintainCadence(maintainEvery)(() =>
      maintainTieredSparse(spark, root, fanout, minTierBytes))
    runIngest(spark, s"$dir/embeddings.parquet", "vec_id", nBatches,
      "segsp") { (batch, batchId) =>
      if (processBatchSparse(batch.sparkSession, batch, "embedding", "vec_id",
        root, batchId, tau, scale, knownNonEmpty = true)) tick()
    }
  }

  /** Fold every sparse segment into the first ([[Sparse.mergeInto]]
    * pure file moves — per-doc postings, no cross-doc statistics).
    */
  def mergeAllSparse(spark: SparkSession, root: String,
                     protectTail: Boolean = true): Option[String] =
    foldAll(spark, root, protectTail, minIdSeg)(
      Sparse.mergeInto(spark, _, _))

  /** One HYBRID microbatch: the batch's documents to a bm25/ sub-root
    * and their id-matched vectors to an ivf/ sub-root (float postings
    * + `_model` witness — [[Hybrid.writeIndex]]'s pair shape), both
    * inside ONE hidden build + promote, so the PAIR is atomic: a
    * racing serve sees a segment with both sides or no segment — the
    * one-sided-skew class the ledgered [[StreamingHybrid]] ingest
    * needs per-side markers and paired-sub-layout witnesses to
    * defend against simply cannot occur. A batch whose id range holds
    * no embeddings writes a lexical-only segment (its absent ivf/
    * side is an empty dense segment to [[Ivf.readSegmentsServing]]'s
    * live filter — see the SF id-domain divergence note in
    * ingestHybrid). Exposed for testing.
    */
  def processBatchHybrid(spark: SparkSession, batch: DataFrame,
                         textCol: String, idCol: String, emb: DataFrame,
                         vecIdCol: String, vecCol: String,
                         model: graft.pipeline.IvfModel, root: String,
                         batchId: Long,
                         knownNonEmpty: Boolean = false): Boolean =
    promoteBatch(spark, batch, root, batchId, knownNonEmpty) { tmp =>
      val vecs = emb.join(batch.select(col(idCol).as(vecIdCol)),
        Seq(vecIdCol))
      // the two sides are independent builds over disjoint sub-roots
      // (bm25/ vs ivf/, no session-conf mutation in either) inside ONE
      // hidden build+promote — run them concurrently (the
      // Hybrid.appendDocs bothSides discipline): the pair stays atomic
      // at the promote, and the segment build costs ~max(side) wall
      // instead of sum(side)
      graft.core.Par.all(
        () => Bm25.writeIndex(spark, batch, textCol, idCol, s"$tmp/bm25"),
        () => if (!vecs.isEmpty) {
          Ivf.writeIndex(Ivf.assign(
            vecs.select(col(vecIdCol), col(vecCol)), vecCol, model),
            s"$tmp/ivf")
          Ivf.saveModel(spark, model, Ivf.modelPath(s"$tmp/ivf"))
        })
    }

  /** Stream the documents table into a PAIRED segment-per-batch
    * layout under `root` against the pre-trained frozen `model`,
    * with `dir/embeddings.parquet` supplying each batch's vectors by
    * id (the fusion's shared id space). Batches split on the
    * documents id range; doc ids outside the embeddings domain (the
    * ranges only align at sf0.01) yield lexical-only segments,
    * which both serve paths treat as empty dense segments. Serve
    * with `Hybrid.searchSegments(spark, segmentRoots(root), …)`.
    */
  def ingestHybrid(spark: SparkSession, dir: String,
                   model: graft.pipeline.IvfModel, root: String,
                   nBatches: Int = 4, maintainEvery: Int = 0,
                   fanout: Int = 4, minTierBytes: Long = 1L << 20): Unit = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tick = maintainCadence(maintainEvery)(() =>
      maintainTieredHybrid(spark, root, fanout, minTierBytes))
    runIngest(spark, s"$dir/documents.parquet", "doc_id", nBatches,
      "seghy") { (batch, batchId) =>
      if (processBatchHybrid(batch.sparkSession, batch, "text", "doc_id", emb,
        "vec_id", "embedding", model, root, batchId,
        knownNonEmpty = true)) tick()
    }
  }

  /** One MULTIVEC microbatch: the batch's (doc, vec) rows as their
    * own complete late-interaction pair — ivf/ + docs/ sub-layouts
    * AND the `_model` witness [[MultiVector.searchSegments]]
    * verifies ([[MultiVector.writeIndex]] writes all three). The
    * batch must hold WHOLE documents: per-segment Σ max-cos is only
    * exact when a doc's vector set lives in exactly one segment
    * (the family's disjoint-docs contract) — [[ingestMultiVec]]
    * guarantees it by splitting on the doc column. Exposed for
    * testing.
    */
  def processBatchMultiVec(spark: SparkSession, batch: DataFrame,
                           model: graft.pipeline.IvfModel, root: String,
                           batchId: Long,
                           knownNonEmpty: Boolean = false): Boolean =
    promoteBatch(spark, batch, root, batchId, knownNonEmpty) { tmp =>
      graft.pipeline.MultiVector.writeIndex(spark, batch, model, tmp)
    }

  /** Stream the embeddings table (docs = `vecsPerDoc`-vector groups)
    * into a late-interaction segment-per-batch layout under `root`.
    * The (doc, vec) corpus is derived ONCE and staged split on the
    * DOC column — a vec_id-range split (the other ingests' shape)
    * could cut one document's vectors across two batches, which the
    * single-layout append tolerates (the gather reads every row of a
    * candidate doc) but a segment union must not (per-segment scores
    * would each see half the doc). Serve with
    * `MultiVector.searchSegments(spark, segmentRoots(root), …)`.
    */
  def ingestMultiVec(spark: SparkSession, dir: String, root: String,
                     model: graft.pipeline.IvfModel, nBatches: Int = 4,
                     vecsPerDoc: Int = 4, maintainEvery: Int = 0,
                     fanout: Int = 4,
                     minTierBytes: Long = 1L << 20): Unit = {
    val staged = java.nio.file.Files.createTempDirectory("graft_ssegmv_src")
      .resolve("docvecs.parquet").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") / vecsPerDoc).cast("long").as("doc"),
        col("embedding").as("vec"))
      .write.parquet(staged)
    val tick = maintainCadence(maintainEvery)(() =>
      maintainTieredMultiVec(spark, root, fanout, minTierBytes))
    try runIngest(spark, staged, "doc", nBatches, "segmv") {
      (batch, batchId) =>
        if (processBatchMultiVec(batch.sparkSession, batch, model, root,
          batchId, knownNonEmpty = true)) tick()
    } finally EventStream.deleteScratch(
      new java.io.File(staged).getParentFile.toPath)
  }

  /** Fold every multivec segment pair into the first via the
    * witness-verified [[MultiVector.mergeInto]].
    */
  def mergeAllMultiVec(spark: SparkSession, root: String,
                       protectTail: Boolean = true): Option[String] =
    foldAll(spark, root, protectTail, minIdSeg)(
      graft.pipeline.MultiVector.mergeInto(spark, _, _))

  // ------------------------------------------------------------------
  // Size-tiered maintenance — the LSM compaction POLICY over the
  // segment layouts. mergeAll* folds everything into one segment on
  // every call: correct, but at scale it touches the WHOLE corpus per
  // maintenance pass (src tombstone/version folds + every file move)
  // and leaves no knob between "N segments" and "one segment". The
  // tiered policy is the classic size-tiered design (Lucene/Cassandra
  // STCS): merge ONLY when `fanout` segments accumulate in the same
  // size tier (tier = floor(log_fanout(bytes / minTierBytes))),
  // folding them into one member; cascades until no tier is full.
  // Segment count is then bounded by (fanout−1) · #tiers =
  // O(fanout · log_fanout(corpus / batch)) — near-flat serve cost by
  // the measured segment curves — while each ROW is touched
  // O(log_fanout(corpus/batch)) times over its whole lifetime instead
  // of once per maintenance call: bounded write amplification, the
  // property mergeAll cannot offer. With `compact = true` the merged
  // destination is rewritten once per merge (where the tier has a
  // compactIndex), retiring the moved files' small-file debt at the
  // same bounded cadence.
  // ------------------------------------------------------------------

  /** Size of a segment root in bytes (FS metadata only, no job). */
  private def segBytes(fs: org.apache.hadoop.fs.FileSystem,
                       p: String): Long =
    fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength

  /** The size-tiered fold shared by every tier's maintainTiered*:
    * repeatedly find the lowest full tier (≥ `fanout` members), merge
    * its `fanout` smallest members (ties broken by path — total,
    * deterministic) into `pickDst` of the group, re-tier the result,
    * until no tier is full. Returns the surviving segment roots.
    * Merges cascade: equal-size segments under fanout=2 fold 8→4→2→1
    * in ONE call, each row moved once per tier promotion.
    */
  private def tieredFold(spark: SparkSession, root: String, fanout: Int,
                         minTierBytes: Long,
                         pickDst: Seq[String] => String,
                         merge: (String, String) => Unit,
                         compact: String => Unit,
                         protectTail: Boolean): Seq[String] = {
    require(fanout >= 2, s"tiered maintenance needs fanout >= 2, got $fanout")
    require(minTierBytes >= 1, s"minTierBytes must be >= 1, got $minTierBytes")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tier(bytes: Long): Int = {
      var t = 0
      var b = bytes / minTierBytes
      while (b >= fanout) { b /= fanout; t += 1 }
      t
    }
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    // the possibly-uncommitted tail never enters the candidate set
    // (class doc): it can be neither absorbed nor a merge destination
    foldable(spark, root, protectTail).foreach(p => sizes(p) = segBytes(fs, p))
    var changed = true
    while (changed) {
      changed = false
      sizes.groupBy { case (_, b) => tier(b) }.toSeq.sortBy(_._1)
        .find { case (_, members) => members.size >= fanout }
        .foreach { case (_, members) =>
          val group = members.toSeq.sortBy { case (p, b) => (b, p) }
            .take(fanout).map(_._1)
          val dst = pickDst(group)
          // retire BEFORE merging — the crash-order contract in
          // [[retireIds]]'s doc; the destination's id included (the
          // survivor-rewind hazard documented there)
          retireIds(spark, root, group.map(segId))
          group.filterNot(_ == dst).foreach { src =>
            merge(dst, src)
            sizes.remove(src)
          }
          compact(dst)
          sizes(dst) = segBytes(fs, dst)
          changed = true
        }
    }
    segmentRoots(spark, root)
  }

  /** The lowest-numeric-batch-id member — the default merge
    * destination. Name survival alone makes NO replay harmless: a
    * replayed absorbed id would re-create its segment beside the
    * survivor (rows served TWICE), and a replayed DESTINATION id
    * would re-promote `seg=<dstId>` — wiping the survivor and every
    * absorbed sibling's rows with it. Both hazards are closed one
    * level up, twice over: maintenance skips the only segment whose
    * batch can replay on its own (the max-id tail, `protectTail` —
    * commits are sequential), and the [[retiredIds]] sidecar — which
    * records the whole fold group, destination included — no-ops
    * every folded id's replay when an operator rewinds the
    * checkpoint deeper than that.
    */
  private def minIdSeg(group: Seq[String]): String = group.minBy(segId)

  /** Size-tiered maintenance over a DENSE segment layout. Serving
    * through [[Ivf.readSegmentsServing]] before and after is
    * row-identical (each merge is the witness-verified
    * [[Ivf.mergeInto]]); `compact` additionally rewrites each merge
    * destination once ([[Ivf.compactIndex]]), retiring small files at
    * the policy's bounded cadence.
    */
  def maintainTiered(spark: SparkSession, root: String,
                     fanout: Int = 4, minTierBytes: Long = 1L << 20,
                     idCol: String = "vec_id",
                     compact: Boolean = false,
                     protectTail: Boolean = true): Seq[String] =
    tieredFold(spark, root, fanout, minTierBytes, minIdSeg,
      (dst, src) => Ivf.mergeInto(spark, dst, src, idCol),
      dst => if (compact) Ivf.compactIndex(spark, dst), protectTail)

  /** Size-tiered maintenance over a LEXICAL segment layout
    * ([[Bm25.mergeInto]] — readers sum stats/df, so any grouping of
    * segments serves bit-identically).
    */
  def maintainTieredBm25(spark: SparkSession, root: String,
                         fanout: Int = 4, minTierBytes: Long = 1L << 20,
                         compact: Boolean = false,
                         protectTail: Boolean = true): Seq[String] =
    tieredFold(spark, root, fanout, minTierBytes, minIdSeg,
      (dst, src) => Bm25.mergeInto(spark, dst, src),
      dst => if (compact) Bm25.compactIndex(spark, dst), protectTail)

  /** Size-tiered maintenance over a SPARSE segment layout. */
  def maintainTieredSparse(spark: SparkSession, root: String,
                           fanout: Int = 4, minTierBytes: Long = 1L << 20,
                           compact: Boolean = false,
                           protectTail: Boolean = true): Seq[String] =
    tieredFold(spark, root, fanout, minTierBytes, minIdSeg,
      (dst, src) => Sparse.mergeInto(spark, dst, src),
      dst => if (compact) Sparse.compactIndex(spark, dst), protectTail)

  /** Size-tiered maintenance over a HYBRID pair layout, each group
    * merging into its [[denseFirstSeg]] member. `vecIdCol` names the
    * dense side's id column.
    */
  def maintainTieredHybrid(spark: SparkSession, root: String,
                           fanout: Int = 4, minTierBytes: Long = 1L << 20,
                           compact: Boolean = false,
                           protectTail: Boolean = true,
                           vecIdCol: String = "vec_id"): Seq[String] =
    tieredFold(spark, root, fanout, minTierBytes, denseFirstSeg(spark, _),
      (dst, src) => Hybrid.mergeInto(spark, dst, src, vecIdCol),
      dst => if (compact) Hybrid.compactIndex(spark, dst), protectTail)

  /** The hybrid merge destination: the min-id member CARRYING A DENSE
    * SIDE (a lexical-only segment cannot absorb another segment's
    * ivf/ — Ivf.mergeInto requires an existing destination), else —
    * a lexical-only group — the min-id member.
    */
  private def denseFirstSeg(spark: SparkSession,
                            group: Seq[String]): String = {
    val fs = new org.apache.hadoop.fs.Path(group.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dense = group.filter(r =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$r/ivf")))
    if (dense.isEmpty) minIdSeg(group) else minIdSeg(dense)
  }

  /** Size-tiered maintenance over a MULTIVEC pair layout (merge-only:
    * the late-interaction pair has no compaction entry point — its
    * doc-bucketed docs/ side is rewrite-maintained by upsert/fold).
    */
  def maintainTieredMultiVec(spark: SparkSession, root: String,
                             fanout: Int = 4,
                             minTierBytes: Long = 1L << 20,
                             protectTail: Boolean = true): Seq[String] =
    tieredFold(spark, root, fanout, minTierBytes, minIdSeg,
      (dst, src) => graft.pipeline.MultiVector.mergeInto(spark, dst, src),
      _ => (), protectTail)

  /** Fold every hybrid segment pair into one via [[Hybrid.mergeInto]]
    * (both sides' file-move merges under their own witnesses), into
    * the [[denseFirstSeg]] destination. `vecIdCol` names the dense
    * side's id column.
    */
  def mergeAllHybrid(spark: SparkSession, root: String,
                     protectTail: Boolean = true,
                     vecIdCol: String = "vec_id"): Option[String] =
    foldAll(spark, root, protectTail, denseFirstSeg(spark, _))(
      Hybrid.mergeInto(spark, _, _, vecIdCol))
}
