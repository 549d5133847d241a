package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale curve for the QUANTIZED serving path: grow the residual
  * codes layout 1×/2×/4×/8× (replicated embeddings, offset ids, same
  * frozen models) and time `Ivf.searchCodes` at fixed nprobe —
  * the claim under test is that probe cost tracks the PROBED cells'
  * rows (≈ nprobe/nlist of the corpus) and the candidate path reads
  * m bytes per posting, so the fitted growth exponent should sit
  * well below 1 at fixed work share and the absolute times stay
  * small. `sbt "runMain graft.tools.CodesProbeCurve [sfDir]"`.
  */
object CodesProbeCurve {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.pipeline.Ivf

    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 64, iters = 3)
    val pq = Ivf.trainPqResidual(emb, "embedding", "vec_id", ivf,
      m = 8, ksub = 16, iters = 3)
    val qs = emb.where(col("vec_id") < 10)

    val times = Seq(1, 2, 4, 8).map { factor =>
      val corpus = (0 until factor).map(i =>
          emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
      val idx = java.nio.file.Files.createTempDirectory(s"cpc_$factor")
        .resolve("index").toString
      Ivf.writeIndexCodes(Ivf.assign(corpus, "embedding", ivf),
        "embedding", Ivf.Codec.PqResidual(pq), idx, model = Some(ivf))
      val vecs = corpus.localCheckpoint(true)
      // warm + 3 timed probes; median
      def once(): Double = {
        val t0 = System.nanoTime()
        Ivf.searchCodes(Ivf.readIndex(spark, idx), vecs, qs,
          "embedding", "vec_id", Ivf.Codec.PqResidual(pq), ivf, k = 5,
          nprobe = 4).count()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val reps = Seq(once(), once(), once()).sorted
      graft.core.Pinned.release(vecs)
      println(f"[cpc] rows=${factor * n}%8d probe median=${reps(1)}%6.3f s " +
        f"reps=[${reps.map(t => f"$t%.3f").mkString(", ")}]")
      (factor.toDouble, reps(1))
    }
    // fitted log-log slope
    val lx = times.map(t => math.log(t._1))
    val ly = times.map(t => math.log(t._2))
    val mx = lx.sum / lx.size
    val my = ly.sum / ly.size
    val k = lx.zip(ly).map { case (x, y) => (x - mx) * (y - my) }.sum /
      lx.map(x => (x - mx) * (x - mx)).sum
    println(f"[cpc] fitted growth exponent k=$k%.2f (1.0 = linear in index size)")
    spark.stop()
  }
}
