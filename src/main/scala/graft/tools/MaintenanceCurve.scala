package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Maintenance-cost curve for the segment WRITE path: the same sf0.1
  * corpus arriving as 12 equal batches, maintained after every batch
  * under three policies —
  *
  *  - `none`:     segments accumulate, serve pays the per-segment tax;
  *  - `mergeall`: fold everything into one segment and COMPACT it
  *                after every batch (the "always one segment" policy:
  *                per-batch maintenance rewrites the WHOLE corpus, so
  *                total maintenance work is quadratic in batch count);
  *  - `tiered`:   StreamingSegments.maintainTiered(fanout=4,
  *                compact=true) — merges only when a size tier fills,
  *                so each row is rewritten O(log_fanout(batches))
  *                times in total and most batches do NOTHING.
  *
  * Reported per policy: per-batch maintenance seconds (sum and max),
  * final segment/file counts, and the serve median — the three-way
  * trade a deployment picks with the policy knob. The claim under
  * test: tiered maintenance keeps total maintenance near-linear while
  * holding the serve within the near-flat segment-curve envelope.
  * `sbt "runMain graft.tools.MaintenanceCurve [sfDir]"`.
  */
object MaintenanceCurve {
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
    val nBatches = 12
    val cut = n / nBatches + 1
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 64, iters = 3)
    val queries = emb.where(col("vec_id") < 10).localCheckpoint(true)

    def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(root: String): Long = {
      val fs = fsOf(root)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var c = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
          f.getPath.toString.contains("cluster=")) c += 1
      }
      c
    }

    Seq("none", "mergeall", "tiered").foreach { policy =>
      val root = java.nio.file.Files
        .createTempDirectory(s"maint_$policy").resolve("segs").toString
      var minTier = 0L
      val maint = (0 until nBatches).map { i =>
        StreamingSegments.processBatch(spark,
          emb.where(col("vec_id") >= i * cut && col("vec_id") < (i + 1) * cut),
          "embedding", root, model, i.toLong)
        if (i == 0) minTier = fsOf(root).getContentSummary(
          new org.apache.hadoop.fs.Path(s"$root/seg=0")).getLength
        val t0 = System.nanoTime()
        policy match {
          case "none" => ()
          case "mergeall" =>
            // protectTail=false: this loop is synchronous processBatch
            // calls with no checkpoint — no replay can occur — and the
            // documented policy is "fold EVERYTHING" (the r13 curves'
            // semantics, which round-over-round comparisons rely on)
            StreamingSegments.mergeAll(spark, root, protectTail = false)
              .foreach(dst => Ivf.compactIndex(spark, dst))
          case "tiered" =>
            StreamingSegments.maintainTiered(spark, root, fanout = 4,
              minTierBytes = minTier, compact = true, protectTail = false)
        }
        (System.nanoTime() - t0) / 1e9
      }
      val segs = StreamingSegments.segmentRoots(spark, root)
      def serveOnce(): Double = {
        val t0 = System.nanoTime()
        Ivf.searchCodes(
          Ivf.readSegmentsServing(spark, segs, "vec_id", model), emb,
          queries, "embedding", "vec_id", Ivf.Codec.Int8, model, k = 5,
          nprobe = 4).count()
        (System.nanoTime() - t0) / 1e9
      }
      serveOnce()
      val reps = Seq(serveOnce(), serveOnce(), serveOnce()).sorted
      println(f"[maint] policy=$policy%-8s " +
        f"maint_sum=${maint.sum}%7.2f s maint_max=${maint.max}%6.2f s " +
        f"segments=${segs.size}%2d files=${dataFiles(root)}%4d " +
        f"serve_median=${reps(1)}%6.3f s")
    }
    spark.stop()
  }
}
