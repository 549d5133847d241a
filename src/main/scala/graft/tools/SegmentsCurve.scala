package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serve-cost curve for the MULTI-SEGMENT read path: the same sf0.1
  * corpus split into 1/2/4/8/16/64/128 int8 segment roots under one
  * frozen quantizer, served through `Ivf.readSegmentsServing` +
  * searchCodes — against the single merged layout as the floor. The
  * claim under test: serve cost is bounded by PROBE WORK (total
  * postings in the probed cells), not by segment count — the union
  * adds only per-segment scan tasks and driver-side model-witness
  * loads (O(N) driver parquet reads, the knob a serving deployment
  * controls via merge cadence). A flat curve here is what makes
  * "serve before the merge" a safe default rather than a performance
  * cliff. The 64/128 points (r16) stress the transient shape a
  * bursty 100 TB ingest day can hold before tiered folds catch up.
  *
  * Segments land as `root/seg=<i>` — the streamed layout's own
  * naming — so the curve also prices what the WRITE path pays per
  * microbatch event at that segment count: the [[StreamingSegments
  * .segmentRoots]] listing and the `_retired` sidecar read (seeded
  * with nSegs entries) that every processBatch and fold performs.
  * `sbt "runMain graft.tools.SegmentsCurve [sfDir]"`.
  */
object SegmentsCurve {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.pipeline.Ivf
    import graft.streaming.StreamingSegments

    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 64, iters = 3)
    val queries = emb.where(col("vec_id") < 10).localCheckpoint(true)
    val baselinePins = spark.sparkContext.getPersistentRDDs.keySet

    Seq(1, 2, 4, 8, 16, 64, 128).foreach { nSegs =>
      val base = java.nio.file.Files.createTempDirectory(s"segc_$nSegs")
      val root = base.toString
      (0 until nSegs).foreach { i =>
        Ivf.writeIndexCodes(
          Ivf.assign(emb.where(pmod(col("vec_id"), lit(nSegs.toLong)) === i),
            "embedding", model), "embedding", Ivf.Codec.Int8,
          base.resolve(s"seg=$i").toString, model = Some(model))
      }
      // a realistic sidecar at this segment count: as many retired
      // ids as live segments (a fold history of the same magnitude)
      java.nio.file.Files.writeString(base.resolve("_retired"),
        (100000 until 100000 + nSegs).mkString("", "\n", "\n"))
      val segs = StreamingSegments.segmentRoots(spark, root)
      require(segs.size == nSegs, s"expected $nSegs segs, got ${segs.size}")
      def once(): Double = {
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => baselinePins.contains(id) }
          .values.foreach(_.unpersist(true))
        val t0 = System.nanoTime()
        Ivf.searchCodes(
          Ivf.readSegmentsServing(spark, segs, "vec_id", model), emb,
          queries, "embedding", "vec_id", Ivf.Codec.Int8, model, k = 5,
          nprobe = 4).count()
        (System.nanoTime() - t0) / 1e9
      }
      // the write path's per-batch fixed cost at this count: one
      // segment listing + one sidecar read (what every processBatch*
      // pays before touching data)
      def batchEvent(): Double = {
        val t0 = System.nanoTime()
        StreamingSegments.segmentRoots(spark, root)
        StreamingSegments.retiredIds(spark, root)
        (System.nanoTime() - t0) / 1e9
      }
      once(); batchEvent()
      val reps = Seq(once(), once(), once()).sorted
      val ev = Seq(batchEvent(), batchEvent(), batchEvent()).sorted
      println(f"[segc] segments=$nSegs%3d rows=$n%8d " +
        f"serve median=${reps(1)}%6.3f s " +
        f"reps=[${reps.map(t => f"$t%.3f").mkString(", ")}] " +
        f"batch-event median=${ev(1) * 1000}%7.2f ms")
    }
    spark.stop()
  }
}
