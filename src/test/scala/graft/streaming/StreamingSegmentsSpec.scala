package graft.streaming

import graft.SparkTestBase
import graft.pipeline.Ivf
import org.apache.spark.sql.functions._

/** Segment-per-microbatch contracts: replay idempotence WITHOUT a
  * ledger (a rerun batch overwrites its own segment), the
  * empty-batch guard (no _SUCCESS-only segment roots), and the
  * fold-equivalence of mergeAll.
  */
class StreamingSegmentsSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def serveAll(root: String, model: graft.pipeline.IvfModel) =
    Ivf.searchCodes(
        Ivf.readSegmentsServing(spark,
          StreamingSegments.segmentRoots(spark, root), "vec_id", model), emb,
        emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
        k = 4, nprobe = 8)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("replayed batch is idempotent without a ledger") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_replay")
      .resolve("segments").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") <= half), "embedding", root, model, 0L)
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L)
    val once = serveAll(root, model)
    // crash/replay: batch 1 delivered again — must overwrite its own
    // segment, not append a duplicate
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L)
    assert(StreamingSegments.segmentRoots(spark, root).size == 2)
    assert(serveAll(root, model) == once && once.nonEmpty)
  }

  test("empty batch creates no segment root") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_empty")
      .resolve("segments").toString
    StreamingSegments.processBatch(spark, emb.limit(0), "embedding",
      root, model, 0L)
    assert(StreamingSegments.segmentRoots(spark, root).isEmpty)
  }

  test("mergeAll folds every segment into one equivalent root") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_merge")
      .resolve("segments").toString
    val third = emb.agg(max(col("vec_id"))).head().getLong(0) / 3
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") <= third), "embedding", root, model, 0L)
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > third && col("vec_id") <= 2 * third),
      "embedding", root, model, 1L)
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > 2 * third), "embedding", root, model, 2L)
    val before = serveAll(root, model)
    val dst = StreamingSegments.mergeAll(spark, root, protectTail = false)
    assert(dst.isDefined)
    assert(StreamingSegments.segmentRoots(spark, root) == Seq(dst.get))
    assert(serveAll(root, model) == before && before.nonEmpty)
  }

  test("maintenance protects the uncommitted tail: promote → maintain → " +
    "replay serves identically to never-crashed") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_tail")
      .resolve("segments").toString
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    def slice(i: Long) = emb.where(
      col("vec_id") >= i * (mx + 1) / 4 && col("vec_id") < (i + 1) * (mx + 1) / 4)
    (0L until 4L).foreach(i =>
      StreamingSegments.processBatch(spark, slice(i), "embedding", root,
        model, i))
    val neverCrashed = serveAll(root, model)
    // batch 3 promoted but its checkpoint commit never landed: both
    // maintenance shapes must leave seg=3 alone (default protectTail)
    val tiered = StreamingSegments.maintainTiered(spark, root,
      fanout = 2, minTierBytes = 1L << 20)
    assert(tiered.exists(_.endsWith("seg=3")),
      s"tiered maintenance absorbed the uncommitted tail: $tiered")
    assert(tiered.size == 2, s"0..2 cascade, tail survives: $tiered")
    StreamingSegments.mergeAll(spark, root)
    val segs = StreamingSegments.segmentRoots(spark, root)
    assert(segs.size == 2 && segs.last.endsWith("seg=3"),
      s"mergeAll absorbed the uncommitted tail: $segs")
    // crash → the stream replays batch 3: overwrites its own (still
    // present) segment — the serve is exactly the never-crashed one
    StreamingSegments.processBatch(spark, slice(3L), "embedding", root,
      model, 3L)
    assert(serveAll(root, model) == neverCrashed && neverCrashed.nonEmpty)
    // a LONE segment IS the tail: a protected pass has nothing to
    // touch and must not hand it out as a merge destination either
    val lone = java.nio.file.Files.createTempDirectory("ssegs_lone")
      .resolve("segments").toString
    StreamingSegments.processBatch(spark, slice(0L), "embedding", lone,
      model, 0L)
    assert(StreamingSegments.mergeAll(spark, lone).isEmpty)
    assert(StreamingSegments.maintainTiered(spark, lone,
      fanout = 2, minTierBytes = 1L << 20).size == 1)
    val n = Ivf.readSegmentsServing(spark,
      StreamingSegments.segmentRoots(spark, root), "vec_id", model).count()
    assert(n == mx + 1, s"row count drifted: $n vs ${mx + 1}")
  }

  test("the replay hazard is real — and the retired-ids sidecar closes " +
    "it: fold the tail, replay, no duplicates; delete the sidecar and " +
    "the hazard reproduces") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_dup")
      .resolve("segments").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") <= half), "embedding", root, model, 0L)
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L)
    val corpus = emb.count()
    StreamingSegments.mergeAll(spark, root, protectTail = false)
    // the whole fold group is retired, destination included (the
    // survivor-rewind hazard)
    assert(StreamingSegments.retiredIds(spark, root) == Set(0L, 1L))
    // batch 1's commit never landed → the replay arrives for a batch
    // maintenance absorbed; the sidecar must no-op it
    assert(!StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L))
    val guarded = Ivf.readSegmentsServing(spark,
      StreamingSegments.segmentRoots(spark, root), "vec_id", model).count()
    assert(guarded == corpus,
      s"sidecar-guarded replay must not duplicate: $guarded vs $corpus")
    // adversarial reproduction of the UNDERLYING hazard (the
    // pre-sidecar world): remove the sidecar and the same replay
    // re-creates seg=1 beside the survivor that absorbed its rows
    new org.apache.hadoop.fs.Path(s"$root/_retired").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$root/_retired"), false)
    StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L)
    val n = Ivf.readSegmentsServing(spark,
      StreamingSegments.segmentRoots(spark, root), "vec_id", model).count()
    assert(n > corpus,
      "expected the documented duplicate-serve hazard to reproduce — " +
        s"got $n rows over a $corpus-row corpus")
  }

  test("multi-batch rewind (dense): maintenance-absorbed batch ids " +
    "replay to exactly the maintained layout") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_rw")
      .resolve("segments").toString
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    def slice(i: Long) = emb.where(col("vec_id") >= i * (mx + 1) / 3 &&
      col("vec_id") < (i + 1) * (mx + 1) / 3)
    (0L until 3L).foreach(i =>
      StreamingSegments.processBatch(spark, slice(i), "embedding", root,
        model, i))
    val never = serveAll(root, model)
    // offline fold with the stream believed stopped (protectTail=false)
    StreamingSegments.mergeAll(spark, root, protectTail = false)
    assert(StreamingSegments.retiredIds(spark, root) == Set(0L, 1L, 2L))
    // an operator rewinds the checkpoint ALL THE WAY and restarts:
    // batch 0 replays FIRST — it is the merge DESTINATION's own id,
    // and a re-promote would wipe the survivor (holding batches 1-2's
    // absorbed rows) and rebuild it from batch 0 alone, silently
    // losing the rest; the sidecar must no-op it, leaving the
    // survivor intact (it already contains batch 0's rows)
    assert(!StreamingSegments.processBatch(spark, slice(0L), "embedding",
      root, model, 0L))
    // ... then batches 1 and 2 replay — both absorbed, both no-op
    assert(!StreamingSegments.processBatch(spark, slice(1L), "embedding",
      root, model, 1L))
    assert(!StreamingSegments.processBatch(spark, slice(2L), "embedding",
      root, model, 2L))
    assert(StreamingSegments.segmentRoots(spark, root).size == 1)
    assert(serveAll(root, model) == never && never.nonEmpty)
    val n = Ivf.readSegmentsServing(spark,
      StreamingSegments.segmentRoots(spark, root), "vec_id", model).count()
    assert(n == mx + 1, s"rewind+replay lost or duplicated rows: " +
      s"$n vs ${mx + 1}")
    // crash-window healing: live file lost after the tmp was fully
    // written (the only gap the delete→rename order can leave) — the
    // sidecar still reads complete from the tmp
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/_retired"),
      new org.apache.hadoop.fs.Path(s"$root/._retired_tmp"))
    assert(StreamingSegments.retiredIds(spark, root) == Set(0L, 1L, 2L))
    // adversarial reproduction of the SURVIVOR-REWIND hazard (the
    // world where folds retired only the absorbed ids): without the
    // destination's id in the sidecar, batch 0's replay re-promotes
    // seg=0 from that single batch — wiping batches 1-2's absorbed
    // rows from the only segment that held them
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/._retired_tmp"), false)
    StreamingSegments.processBatch(spark, slice(0L), "embedding", root,
      model, 0L)
    val lost = Ivf.readSegmentsServing(spark,
      StreamingSegments.segmentRoots(spark, root), "vec_id", model).count()
    assert(lost < mx + 1,
      "expected the documented survivor-rewind data loss to reproduce " +
        s"without the sidecar — got $lost rows over a ${mx + 1}-row corpus")
  }

  test("multi-batch rewind (bm25, tiered): absorbed ids no-op, the " +
    "protected tail replays over itself, serve == one-shot") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_bmrw")
      .resolve("segments").toString
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    def slice(i: Long) = docs.where(col("doc_id") >= i * (mx + 1) / 4 &&
      col("doc_id") < (i + 1) * (mx + 1) / 4)
    (0L until 4L).foreach(i =>
      StreamingSegments.processBatchBm25(spark, slice(i), "text", "doc_id",
        root, i))
    // tiered pass (tail protected): 0..2 cascade into seg=0
    val survivors = StreamingSegments.maintainTieredBm25(spark, root,
      fanout = 2, minTierBytes = 1L << 20)
    assert(survivors.size == 2 && survivors.last.endsWith("seg=3"),
      s"expected {survivor, tail}: $survivors")
    assert(StreamingSegments.retiredIds(spark, root) == Set(0L, 1L, 2L))
    // rewind to the SURVIVOR's id: seg=0 absorbed batches 1-2, so a
    // re-promote of batch 0 would lose their rows — must no-op
    assert(!StreamingSegments.processBatchBm25(spark, slice(0L), "text",
      "doc_id", root, 0L))
    // rewind TWO batches: batch 2 was absorbed (must no-op), batch 3
    // is the tail (must overwrite its own segment, stats un-doubled)
    assert(!StreamingSegments.processBatchBm25(spark, slice(2L), "text",
      "doc_id", root, 2L))
    assert(StreamingSegments.processBatchBm25(spark, slice(3L), "text",
      "doc_id", root, 3L))
    assert(StreamingSegments.segmentRoots(spark, root).size == 2)
    val got = graft.pipeline.Bm25.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect().map(_.toSeq).toSet
    val one = java.nio.file.Files.createTempDirectory("ssegs_bmrw1")
      .resolve("index").toString
    graft.pipeline.Bm25.writeIndex(spark, docs, "text", "doc_id", one)
    val want = graft.pipeline.Bm25.searchIndex(spark, one, queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("bm25: tiered maintenance protects the tail; replay == one-shot") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_bmtail")
      .resolve("segments").toString
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    def slice(i: Long) = docs.where(
      col("doc_id") >= i * (mx + 1) / 4 && col("doc_id") < (i + 1) * (mx + 1) / 4)
    (0L until 4L).foreach(i =>
      StreamingSegments.processBatchBm25(spark, slice(i), "text", "doc_id",
        root, i))
    val survivors = StreamingSegments.maintainTieredBm25(spark, root,
      fanout = 2, minTierBytes = 1L << 20)
    assert(survivors.size == 2 && survivors.last.endsWith("seg=3"),
      s"the uncommitted tail must survive tiered maintenance: $survivors")
    // crash → replay of batch 3 (stats/df must not double)
    StreamingSegments.processBatchBm25(spark, slice(3L), "text", "doc_id",
      root, 3L)
    val got = graft.pipeline.Bm25.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect().map(_.toSeq).toSet
    val one = java.nio.file.Files.createTempDirectory("ssegs_bmtail1")
      .resolve("index").toString
    graft.pipeline.Bm25.writeIndex(spark, docs, "text", "doc_id", one)
    val want = graft.pipeline.Bm25.searchIndex(spark, one, queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("segmentRoots orders by numeric batch id, not lexicographically") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ssegs_order")
      .resolve("segments").toString
    val sample = emb.where(col("vec_id") < 20)
    Seq(2L, 10L, 1L).foreach(b =>
      StreamingSegments.processBatch(spark, sample, "embedding", root,
        model, b))
    val ids = StreamingSegments.segmentRoots(spark, root)
      .map(p => p.substring(p.lastIndexOf("seg=") + 4).toLong)
    assert(ids == Seq(1L, 2L, 10L), s"got $ids")
  }

  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select(col("doc_id"), col("text"))

  private val queries = Seq(0L -> "hash join", 1L -> "fast table scan")

  test("bm25 segment-per-microbatch: replay idempotent, mergeAll " +
    "equivalent, both == one-shot") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_bm")
      .resolve("segments").toString
    val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    StreamingSegments.processBatchBm25(spark,
      docs.where(col("doc_id") <= half), "text", "doc_id", root, 0L)
    StreamingSegments.processBatchBm25(spark,
      docs.where(col("doc_id") > half), "text", "doc_id", root, 1L)
    // replay batch 1: overwrites its own segment (no double stats/df)
    StreamingSegments.processBatchBm25(spark,
      docs.where(col("doc_id") > half), "text", "doc_id", root, 1L)
    def serveSegs() = graft.pipeline.Bm25.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect()
      .map(_.toSeq).toSet
    // one-shot golden: a single index over the whole corpus
    val one = java.nio.file.Files.createTempDirectory("ssegs_bm1")
      .resolve("index").toString
    graft.pipeline.Bm25.writeIndex(spark, docs, "text", "doc_id", one)
    val want = graft.pipeline.Bm25.searchIndex(spark, one, queries, k = 5)
      .select("qid", "doc", "score_fp", "rk").collect()
      .map(_.toSeq).toSet
    assert(serveSegs() == want && want.nonEmpty,
      "streamed bm25 segments must serve the one-shot results " +
        "(global N/T/df merge)")
    StreamingSegments.mergeAllBm25(spark, root, protectTail = false)
    assert(StreamingSegments.segmentRoots(spark, root).size == 1)
    assert(serveSegs() == want, "post-mergeAll serve must be unchanged")
    // empty batch guard
    StreamingSegments.processBatchBm25(spark, docs.limit(0), "text",
      "doc_id", root, 7L)
    assert(StreamingSegments.segmentRoots(spark, root).size == 1)
  }

  test("sparse segment-per-microbatch == one-shot, before and after " +
    "mergeAll") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_sp")
      .resolve("segments").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    StreamingSegments.processBatchSparse(spark,
      emb.where(col("vec_id") <= half), "embedding", "vec_id", root, 0L,
      tau = 0.05, scale = graft.pipeline.Sparse.DefaultScale)
    StreamingSegments.processBatchSparse(spark,
      emb.where(col("vec_id") > half), "embedding", "vec_id", root, 1L,
      tau = 0.05, scale = graft.pipeline.Sparse.DefaultScale)
    val q = graft.pipeline.Sparse.sparsify(emb.where(col("vec_id") < 2),
      "embedding", "vec_id")
    def serveSegs() = graft.pipeline.Sparse.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), q, k = 5)
      .select("qid", "nid", "score", "rk").collect().map(_.toSeq).toSet
    val one = java.nio.file.Files.createTempDirectory("ssegs_sp1")
      .resolve("index").toString
    graft.pipeline.Sparse.writeIndex(
      graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), one)
    val want = graft.pipeline.Sparse.searchIndex(spark, one, q, k = 5)
      .select("qid", "nid", "score", "rk").collect().map(_.toSeq).toSet
    assert(serveSegs() == want && want.nonEmpty)
    StreamingSegments.mergeAllSparse(spark, root, protectTail = false)
    assert(StreamingSegments.segmentRoots(spark, root).size == 1)
    assert(serveSegs() == want)
  }

  test("multivec segment-per-microbatch: docs never split across " +
    "segments, serve == one-shot before and after mergeAll") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_mv")
      .resolve("segments").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    StreamingSegments.ingestMultiVec(spark, sf(), root, model,
      nBatches = 3, vecsPerDoc = 4)
    val segs = StreamingSegments.segmentRoots(spark, root)
    assert(segs.size >= 2, "fixture must stage multiple batches")
    // the disjoint-docs contract: every doc's vectors live in ONE segment
    val homes = segs.zipWithIndex.map { case (r, i) =>
      spark.read.parquet(s"$r/docs").select(col("doc")).distinct()
        .withColumn("seg", lit(i))
    }.reduce(_ unionByName _)
    assert(homes.groupBy("doc").count().where(col("count") > 1).count() == 0,
      "a doc's vector set split across segments — per-segment max-sim " +
        "scores would be wrong")
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    def serveSegs() = graft.pipeline.MultiVector.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), queryVecs, model,
        k = 4, nprobe = 8)
      .select("qid", "doc", "score", "rk").collect().map(_.toSeq).toSet
    // one-shot golden over the same (doc, vec) corpus
    val one = java.nio.file.Files.createTempDirectory("ssegs_mv1")
      .resolve("pair").toString
    graft.pipeline.MultiVector.writeIndex(spark,
      emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec")), model, one)
    val want = graft.pipeline.MultiVector.searchIndex(spark, one,
        queryVecs, model, k = 4, nprobe = 8)
      .select("qid", "doc", "score", "rk").collect().map(_.toSeq).toSet
    assert(serveSegs() == want && want.nonEmpty)
    StreamingSegments.mergeAllMultiVec(spark, root, protectTail = false)
    assert(StreamingSegments.segmentRoots(spark, root).size == 1)
    assert(serveSegs() == want)
  }

  test("hybrid segment pairs: merged serve == across-segments serve; " +
    "a no-embeddings batch yields a lexical-only segment") {
    val root = java.nio.file.Files.createTempDirectory("ssegs_hy")
      .resolve("segments").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    def batchOf(pred: org.apache.spark.sql.Column) =
      StreamingSegments.processBatchHybrid(spark, docs.where(pred),
        "text", "doc_id", emb, "vec_id", "embedding", model, root, _: Long)
    batchOf(col("doc_id") <= half)(0L)
    batchOf(col("doc_id") > half)(1L)
    // a batch whose ids have NO embeddings → lexical-only segment
    StreamingSegments.processBatchHybrid(spark,
      docs.limit(3).select((col("doc_id") + 5000000L).as("doc_id"),
        col("text")),
      "text", "doc_id", emb, "vec_id", "embedding", model, root, 2L)
    val segs = StreamingSegments.segmentRoots(spark, root)
    assert(segs.size == 3)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Path.of(segs.last, "ivf")),
      "a no-embeddings batch must not write a dense side")
    val qv = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    def serveSegs() = graft.pipeline.Hybrid.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), queries, qv, model,
        "embedding", "vec_id", kCand = 10, k = 5, nprobe = 8)
      .select("qid", "doc", "rrf_fp", "rk").collect().map(_.toSeq).toSet
    val across = serveSegs()
    assert(across.nonEmpty)
    val dst = StreamingSegments.mergeAllHybrid(spark, root,
      protectTail = false)
    assert(dst.isDefined &&
      StreamingSegments.segmentRoots(spark, root) == Seq(dst.get))
    assert(serveSegs() == across,
      "post-mergeAll hybrid serve must be unchanged")
  }
}
