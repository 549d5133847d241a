package graft.streaming

import graft.SparkTestBase
import graft.pipeline.{Bm25, Hybrid, Ivf, MultiVector, Sparse}
import org.apache.spark.sql.functions._

/** Size-tiered segment maintenance ([[StreamingSegments.maintainTiered*]])
  * — the LSM compaction POLICY contracts: merges fire only when a size
  * tier fills, equal-size segments cascade, a lone higher-tier segment
  * is never touched, the pass is idempotent once no tier is full, and
  * the serve is row-identical before and after on every tier. These
  * cases model OFFLINE maintenance of a closed stream, so they pass
  * `protectTail = false` to assert the full fold; the live-stream
  * tail-protection contract is pinned in [[StreamingSegmentsSpec]].
  */
class TieredMaintenanceSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).resolve("segs").toString

  private def rset(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytes(root: String, p: String): Long =
    fsOf(root).getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength

  /** id-range slices of the embeddings as dense int8 segments. */
  private def denseSegs(root: String, model: graft.pipeline.IvfModel,
                        cuts: Seq[(Long, Long)]): Unit =
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingSegments.processBatch(spark,
        emb.where(col("vec_id") >= lo && col("vec_id") < hi),
        "embedding", root, model, i.toLong)
    }

  private def serveDense(root: String, model: graft.pipeline.IvfModel) =
    Ivf.searchCodes(
      Ivf.readSegmentsServing(spark,
        StreamingSegments.segmentRoots(spark, root), "vec_id", model), emb,
      emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
      k = 5, nprobe = 4)

  test("dense: equal segments cascade to one; masked serve is row-identical") {
    val root = tmp("tiered_casc")
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    denseSegs(root, model, (0L until 8L).map(i => (i * 63, (i + 1) * 63)))
    // a tombstoned decoy rides segment 7: the mask must survive merges
    val decoys = emb.where(col("vec_id") < 2)
      .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
    StreamingSegments.processBatch(spark, decoys, "embedding", root, model,
      8L)
    val segs0 = StreamingSegments.segmentRoots(spark, root)
    Ivf.tombstoneVectors(spark, segs0.last, decoys.select(col("vec_id")),
      "vec_id")
    val before = rset(serveDense(root, model), "qid", "nid", "sim", "rk")
    val survivors = StreamingSegments.maintainTiered(spark, root,
      fanout = 2, minTierBytes = 1L << 20, protectTail = false)
    assert(survivors.size == 1, s"expected full cascade, got $survivors")
    val after = rset(serveDense(root, model), "qid", "nid", "sim", "rk")
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("dense: a lone higher-tier segment is untouched; pass is idempotent") {
    val root = tmp("tiered_tiers")
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    // two tiny segments + one big one
    denseSegs(root, model, Seq((0L, 5L), (5L, 10L), (10L, 500L)))
    val segs0 = StreamingSegments.segmentRoots(spark, root)
    val tiny = segs0.take(2).map(p => bytes(root, p))
    val big = segs0.last
    val bigBytes = bytes(root, big)
    // tier separation premise: tinies land in tier 0, big strictly
    // above AND the merged tinies stay in tier 0 (sum < fanout·minTier)
    val minTier = tiny.max + 1
    assert(bigBytes >= 2 * minTier,
      s"fixture premise: big=$bigBytes tiny=$tiny — resize the slices")
    val bigStamp = fsOf(root).getFileStatus(
      new org.apache.hadoop.fs.Path(big)).getModificationTime
    val before = rset(serveDense(root, model), "qid", "nid", "sim", "rk")
    val s1 = StreamingSegments.maintainTiered(spark, root,
      fanout = 2, minTierBytes = minTier, protectTail = false)
    assert(s1.size == 2, s"tinies merge, big survives alone: $s1")
    assert(s1.contains(big))
    assert(fsOf(root).getFileStatus(new org.apache.hadoop.fs.Path(big))
      .getModificationTime == bigStamp, "big segment must not be touched")
    // idempotent: no tier is full anymore, nothing moves
    val stamps = s1.map(p => p -> fsOf(root).getFileStatus(
      new org.apache.hadoop.fs.Path(p)).getModificationTime).toMap
    val s2 = StreamingSegments.maintainTiered(spark, root,
      fanout = 2, minTierBytes = minTier, protectTail = false)
    assert(s2.toSet == s1.toSet)
    s2.foreach(p => assert(fsOf(root).getFileStatus(
      new org.apache.hadoop.fs.Path(p)).getModificationTime == stamps(p)))
    assert(rset(serveDense(root, model), "qid", "nid", "sim", "rk") == before)
  }

  test("dense: compact=true retires the merged destination's file debt") {
    val root = tmp("tiered_compact")
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    denseSegs(root, model, (0L until 4L).map(i => (i * 125, (i + 1) * 125)))
    def dataFiles(p: String): Long = {
      val it = fsOf(root).listFiles(new org.apache.hadoop.fs.Path(p), true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (name.endsWith(".parquet") &&
          f.getPath.toString.contains("cluster=")) n += 1
      }
      n
    }
    val filesBefore = StreamingSegments.segmentRoots(spark, root)
      .map(dataFiles).sum
    val before = rset(serveDense(root, model), "qid", "nid", "sim", "rk")
    val survivors = StreamingSegments.maintainTiered(spark, root,
      fanout = 4, minTierBytes = 1L << 20, compact = true,
      protectTail = false)
    assert(survivors.size == 1)
    assert(dataFiles(survivors.head) < filesBefore,
      "compaction must coalesce the moved files")
    assert(rset(serveDense(root, model), "qid", "nid", "sim", "rk") == before)
  }

  test("bm25: tiered fold preserves the global-stats serve") {
    val root = tmp("tiered_bm")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    (0L until 4L).foreach { i =>
      StreamingSegments.processBatchBm25(spark,
        docs.where(col("doc_id") >= i * (mx + 1) / 4 &&
          col("doc_id") < (i + 1) * (mx + 1) / 4),
        "text", "doc_id", root, i)
    }
    val qs = Seq(0L -> "hash join", 1L -> "fast table scan")
    def serve() = Bm25.searchSegments(spark,
      StreamingSegments.segmentRoots(spark, root), qs, k = 5)
    val before = rset(serve(), "qid", "doc", "score_fp", "rk")
    val survivors = StreamingSegments.maintainTieredBm25(spark, root,
      fanout = 2, minTierBytes = 1L << 20, protectTail = false)
    assert(survivors.size == 1)
    assert(rset(serve(), "qid", "doc", "score_fp", "rk") == before)
    assert(before.nonEmpty)
  }

  test("sparse: tiered fold preserves the serve") {
    val root = tmp("tiered_sp")
    (0L until 4L).foreach { i =>
      StreamingSegments.processBatchSparse(spark,
        emb.where(col("vec_id") >= i * 125 && col("vec_id") < (i + 1) * 125),
        "embedding", "vec_id", root, i, tau = 0.05, Sparse.DefaultScale)
    }
    val q = Sparse.sparsify(emb.where(col("vec_id") < 3),
      "embedding", "vec_id")
    def serve() = Sparse.searchSegments(spark,
      StreamingSegments.segmentRoots(spark, root), q, k = 5)
    val before = rset(serve(), "qid", "nid", "score", "rk")
    val survivors = StreamingSegments.maintainTieredSparse(spark, root,
      fanout = 2, minTierBytes = 1L << 20, protectTail = false)
    assert(survivors.size == 1)
    assert(rset(serve(), "qid", "nid", "score", "rk") == before)
    assert(before.nonEmpty)
  }

  test("multivec: tiered fold preserves the late-interaction serve") {
    val root = tmp("tiered_mv")
    val pairs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val model = Ivf.train(pairs, "vec", "doc", nlist = 8, iters = 2)
    (0L until 4L).foreach { i =>
      StreamingSegments.processBatchMultiVec(spark,
        pairs.where(col("doc") >= i * 32 && col("doc") < (i + 1) * 32),
        model, root, i)
    }
    val q = pairs.where(col("doc") < 2)
      .select(col("doc").as("qid"), col("vec"))
    def serve() = MultiVector.searchSegments(spark,
      StreamingSegments.segmentRoots(spark, root), q, model, k = 5,
      nprobe = 4)
    val before = rset(serve(), "qid", "doc", "score", "rk")
    val survivors = StreamingSegments.maintainTieredMultiVec(spark, root,
      fanout = 2, protectTail = false)
    assert(survivors.size == 1)
    assert(rset(serve(), "qid", "doc", "score", "rk") == before)
    assert(before.nonEmpty)
  }

  test("in-stream cadence on the sparse tier: ingestSparse(maintainEvery) " +
    "folds mid-stream with the tail protected; serve == one-shot") {
    val root = tmp("tiered_cadence_sp")
    StreamingSegments.ingestSparse(spark, sf(), root, nBatches = 4,
      maintainEvery = 1, fanout = 2, minTierBytes = 1L << 40)
    // cadence shape: pass after promote k can fold only segments
    // 0..k-2 (tail protected) — with fanout 2 each pass cascades the
    // foldable set to one, so the layout ends at {survivor, tail}
    val segs = StreamingSegments.segmentRoots(spark, root)
    assert(segs.size == 2, s"cadence shape {survivor, tail}: $segs")
    val q = Sparse.sparsify(emb.where(col("vec_id") < 3),
      "embedding", "vec_id")
    val got = rset(Sparse.searchSegments(spark, segs, q, k = 5),
      "qid", "nid", "score", "rk")
    val one = tmp("tiered_cadence_sp1")
    Sparse.writeIndex(Sparse.sparsify(emb, "embedding", "vec_id"), one)
    val want = rset(Sparse.searchIndex(spark, one, q, k = 5),
      "qid", "nid", "score", "rk")
    assert(got == want && want.nonEmpty)
  }

  test("hybrid: the merge destination must carry a dense side") {
    val root = tmp("tiered_hy")
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    // segment 0 is LEXICAL-ONLY (its doc ids are shifted outside the
    // embeddings id domain); segments 1 and 2 carry paired sides
    StreamingSegments.processBatchHybrid(spark,
      docs.where(col("doc_id") < 100)
        .select((col("doc_id") + 90000000L).as("doc_id"), col("text")),
      "text", "doc_id", emb, "vec_id", "embedding", model, root, 0L)
    Seq((100L, 300L), (300L, 500L)).zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingSegments.processBatchHybrid(spark,
        docs.where(col("doc_id") >= lo && col("doc_id") < hi),
        "text", "doc_id", emb, "vec_id", "embedding", model, root,
        (i + 1).toLong)
    }
    val qs = Seq(0L -> "hash join")
    val qv = emb.where(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    def serve() = Hybrid.searchSegments(spark,
      StreamingSegments.segmentRoots(spark, root), qs, qv, model,
      "embedding", "vec_id", kCand = 20, k = 5, nprobe = 4)
    val before = rset(serve(), "qid", "doc", "rk")
    val survivors = StreamingSegments.maintainTieredHybrid(spark, root,
      fanout = 3, minTierBytes = 1L << 20, protectTail = false)
    assert(survivors.size == 1)
    assert(fsOf(root).exists(
      new org.apache.hadoop.fs.Path(s"${survivors.head}/ivf")),
      "the survivor must be a paired segment")
    assert(rset(serve(), "qid", "doc", "rk") == before)
    assert(before.nonEmpty)
  }

  test("hybrid: a tail segment's tombstone stays folded under a non-default dense id column") {
    import spark.implicits._
    val root = tmp("tiered_hy_id")
    val embId = emb.select(col("vec_id").as("id"), col("embedding"))
    val model = Ivf.train(embId, "embedding", "id", nlist = 8, iters = 2)
    Seq((0L, 150L), (150L, 300L), (300L, 450L)).zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingSegments.processBatchHybrid(spark,
        docs.where(col("doc_id") >= lo && col("doc_id") < hi),
        "text", "doc_id", embId, "id", "embedding", model, root, i.toLong)
    }
    val gone = 400L
    Hybrid.tombstoneDocs(spark, StreamingSegments.segmentRoots(spark, root).last,
      Seq(gone).toDF("id"), "id")
    val qv = embId.where(col("id") === gone)
      .select(col("id").as("qid"), col("embedding").as("vec"))
    def served() = Hybrid.searchSegments(spark,
        StreamingSegments.segmentRoots(spark, root), Seq(gone -> "hash join"), qv,
        model, "embedding", "id", kCand = 20, k = 10, nprobe = 8)
      .select("doc").as[Long].collect().toSet
    assert(served().nonEmpty && !served().contains(gone))
    val survivors = StreamingSegments.maintainTieredHybrid(spark, root,
      fanout = 3, protectTail = false, vecIdCol = "id")
    assert(survivors.size == 1)
    assert(spark.read.parquet(s"${survivors.head}/ivf")
      .where(col("id") === gone).isEmpty, "the folded id is back in the dense side")
    assert(served().nonEmpty && !served().contains(gone))
  }
}
