package graft.streaming

import graft.SparkTestBase
import graft.pipeline.Ivf
import org.apache.spark.sql.functions._

/** Streaming IVF index maintenance against a frozen quantizer: the
  * stream-grown index searches identically to a one-shot build
  * whatever the batch boundaries, and mid-stream compaction changes
  * nothing.
  */
class StreamingIvfSpec extends SparkTestBase {

  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("batched appends equal the one-shot build; boundary-invariant") {
    val e = emb
    val model = Ivf.train(e, "embedding", "vec_id", nlist = 16, iters = 3)
    val qs = e.where(col("vec_id") < 10)
    val want = rows(Ivf.search(Ivf.assign(e, "embedding", model), qs,
      "embedding", "vec_id", model, k = 5, nprobe = 4))

    def grown(splits: Seq[(Long, Long)], compactAt: Int): Seq[(Long, Long, Int)] = {
      val idx = java.nio.file.Files.createTempDirectory("sivf")
        .resolve("index").toString
      splits.zipWithIndex.foreach { case ((lo, hi), i) =>
        StreamingIvf.processBatch(
          e.where(col("vec_id") >= lo && col("vec_id") < hi),
          "embedding", model, idx)
        if (i == compactAt) Ivf.compactIndex(spark, idx)
      }
      // grown postings are exactly the one-shot assignment's rows
      assert(spark.read.parquet(idx).count() == e.count())
      rows(Ivf.search(Ivf.readIndex(spark, idx), qs, "embedding",
        "vec_id", model, k = 5, nprobe = 4))
    }

    assert(grown(Seq(0L -> 250L, 250L -> 100000L), compactAt = 0) == want)
    assert(grown(Seq(0L -> 120L, 120L -> 240L, 240L -> 360L,
      360L -> 100000L), compactAt = 2) == want)
  }

  test("stream-grown cluster layout still partition-prunes probes") {
    val e = emb
    val model = Ivf.train(e, "embedding", "vec_id", nlist = 16, iters = 3)
    val idx = java.nio.file.Files.createTempDirectory("sivf_pr")
      .resolve("index").toString
    // two appends, no compaction: multiple file sets per cluster dir
    Seq(0L -> 250L, 250L -> 100000L).foreach { case (lo, hi) =>
      StreamingIvf.processBatch(
        e.where(col("vec_id") >= lo && col("vec_id") < hi),
        "embedding", model, idx)
    }
    val postings = Ivf.readIndex(spark, idx)
    val one = postings.where(col("cluster") === 0)
    val planStr = one.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(cluster"),
      s"cluster filter not pushed on the grown layout:\n$planStr")
  }

  test("self-maintaining ingest: drift fires the alarm, serve stays exact, model persisted") {
    val e = emb
    val off = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val drifted = e.select((col("vec_id") + off).as("vec_id"),
      transform(col("embedding"), v => abs(v)).as("embedding"))
    val stage = java.nio.file.Files.createTempDirectory("sivf_auto_s")
    val staged = stage.resolve("embeddings.parquet").toString
    e.unionByName(drifted).write.parquet(staged)
    // frozen on the PRE-drift world — the stale quantizer the alarm
    // exists to catch
    val frozen = Ivf.train(e, "embedding", "vec_id", nlist = 16, iters = 3)
    val idx = stage.resolve("index").toString
    // threshold 2.0: measured clean separation at every SF —
    // pre-drift imbalance ≤ 1.31, half-drifted ≥ 2.35
    val fin = StreamingIvf.ingest(spark, stage.toString, frozen, idx,
      nBatches = 4, reclusterImbalance = 2.0)
    // the alarm fired: the serving model is no longer the frozen one
    assert(!fin.centroids.zip(frozen.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    // the persisted pair round-trips the serving model exactly —
    // written atomically WITH the reclustered layout's swap
    val loaded = Ivf.loadModel(spark, Ivf.modelPath(idx))
    assert(loaded.centroids.length == fin.centroids.length)
    assert(loaded.centroids.zip(fin.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    assert(loaded.l1.length == fin.l1.length)
    // exhaustive serve over the healed layout ≡ brute force over the
    // staged corpus — nothing lost or duplicated by the mid-stream
    // rewrite
    val all = spark.read.parquet(staged)
    val qs = e.where(col("vec_id") < 5)
    val got = rows(Ivf.search(Ivf.readIndex(spark, idx), qs, "embedding",
      "vec_id", fin, k = 5, nprobe = fin.nlist))
    val want = graft.pipeline.Similarity.bruteForceTopK(
        all.select(col("vec_id").as("id"), col("embedding").as("v")),
        qs.select(col("vec_id").as("id"), col("embedding").as("v")),
        "v", "id", 5)
      .select(col("qid"), col("nid"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == want)
  }

  test("codes ingest: stream-grown quantized layout ≡ one-shot; pair recoverable") {
    val e = emb
    val ivfM = Ivf.train(e, "embedding", "vec_id", nlist = 8, iters = 2)
    val pq = Ivf.trainPqResidual(e, "embedding", "vec_id", ivfM,
      m = 8, ksub = 16, iters = 2)
    def serve(idx: String, m: graft.pipeline.IvfModel,
              p: graft.pipeline.Pq.PqModel) =
      Ivf.searchCodes(Ivf.readIndex(spark, idx), e,
          e.where(col("vec_id") < 3), "embedding", "vec_id",
          Ivf.Codec.PqResidual(p), m,
          k = 5, nprobe = 8)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val oneShot = java.nio.file.Files.createTempDirectory("sivfc_os")
      .resolve("index").toString
    Ivf.writeIndexCodes(Ivf.assign(e, "embedding", ivfM),
      "embedding", Ivf.Codec.PqResidual(pq), oneShot, model = Some(ivfM))
    val grown = java.nio.file.Files.createTempDirectory("sivfc_gr")
      .resolve("index").toString
    StreamingIvf.ingestCodes(spark, sf(), ivfM, pq, grown,
      nBatches = 3, compactEvery = 2)
    // the persisted pair round-trips and serves identically
    val m2 = Ivf.loadModel(spark, Ivf.modelPath(grown))
    val p2 = Ivf.loadPq(spark, grown)
    assert(serve(grown, m2, p2) == serve(oneShot, ivfM, pq))
    assert(spark.read.parquet(grown).count() == e.count())
    // a second ingest under a DIFFERENT pair must fail loudly, not
    // silently invalidate the codes already encoded under the first
    val other = Ivf.train(e, "embedding", "vec_id", nlist = 4, iters = 1)
    val ex = intercept[IllegalArgumentException] {
      StreamingIvf.ingestCodes(spark, sf(), other, pq, grown, nBatches = 2)
    }
    assert(ex.getMessage.contains("DIFFERENT coarse quantizer"))
  }

  test("file-count alarm: measured debris triggers compaction, results invariant") {
    val e = emb
    val model = Ivf.train(e, "embedding", "vec_id", nlist = 16, iters = 3)
    val qs = e.where(col("vec_id") < 5)
    def ingested(threshold: Double): (Double, Seq[(Long, Long, Int)]) = {
      val idx = java.nio.file.Files.createTempDirectory("sivf_fc")
        .resolve("index").toString
      StreamingIvf.ingest(spark, sf(), model, idx, nBatches = 4,
        compactFilesPerDir = threshold)
      (graft.core.ParquetCompact.meanFilesPerDir(spark, idx),
        rows(Ivf.search(Ivf.readIndex(spark, idx), qs, "embedding",
          "vec_id", model, k = 5, nprobe = 4)))
    }
    val (debrisOff, wantRows) = ingested(0.0)    // alarm off: debris piles up
    val (debrisOn, gotRows) = ingested(1.5)      // alarm on: compacted away
    assert(debrisOn < debrisOff,
      s"alarm never compacted: $debrisOn vs $debrisOff files/dir")
    assert(gotRows == wantRows) // compaction is contents-invariant
  }

  test("foreachBatch ingest end-to-end matches the one-shot build") {
    val e = emb
    val model = Ivf.train(e, "embedding", "vec_id", nlist = 16, iters = 3)
    val qs = e.where(col("vec_id") < 10)
    val want = rows(Ivf.search(Ivf.assign(e, "embedding", model), qs,
      "embedding", "vec_id", model, k = 5, nprobe = 4))
    val idx = java.nio.file.Files.createTempDirectory("sivf_e2e")
      .resolve("index").toString
    StreamingIvf.ingest(spark, sf(), model, idx, nBatches = 4,
      compactEvery = 2)
    assert(rows(Ivf.search(Ivf.readIndex(spark, idx), qs, "embedding",
      "vec_id", model, k = 5, nprobe = 4)) == want)
    assert(spark.read.parquet(idx).count() == e.count())
  }
}
