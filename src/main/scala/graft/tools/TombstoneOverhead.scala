package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serve-cost overhead of the tombstone mask vs mask size — the
  * number that sets the fold cadence: the mask is a broadcast anti
  * hash join above the pruned postings scan, so cost should be flat
  * in index size and near-flat in mask size until the broadcast
  * itself matters. Corpus replicated 16× (offset ids), masks of
  * 0 / 1k / 8k / 32k ids.
  * `sbt "runMain graft.tools.TombstoneOverhead [sfDir]"`.
  */
object TombstoneOverhead {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.pipeline.Ivf

    val emb0 = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n0 = emb0.count()
    val corpus = (0 until 16).map(i =>
        emb0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    val n = corpus.count()
    val model = Ivf.train(emb0, "embedding", "vec_id", nlist = 64, iters = 3)
    val idx = java.nio.file.Files.createTempDirectory("tomb_oh")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(corpus, "embedding", model), idx)
    val qs = emb0.where(col("vec_id") < 10).localCheckpoint(true)

    Seq(0, 1000, 8000, 32000).foreach { m =>
      val tp = new org.apache.hadoop.fs.Path(graft.core.Tombstones.path(idx))
      val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(tp, true)
      // mask ids that are the corpus's ACTUAL ids (replica r = id/n0,
      // base b = id%n0 -> r*10^7 + b — a BIJECTION onto the first m
      // corpus rows), so every mask row masks a live posting; masking
      // nonexistent ids would measure only the anti-join build cost
      // floor-div, NOT SQL's float '/': fractional replica numbers
      // would build mask ids that match no live posting and the tool
      // would measure only the mask-miss path
      if (m > 0)
        Ivf.tombstoneVectors(spark, idx,
          spark.range(m).select(
            (floor(col("id") / n0).cast("long") * 10000000L +
              col("id") % n0).as("vec_id")),
          "vec_id")
      def once(): Double = {
        val t0 = System.nanoTime()
        Ivf.search(Ivf.readIndexServing(spark, idx, "vec_id"), qs,
          "embedding", "vec_id", model, k = 5, nprobe = 4).count()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val reps = Seq(once(), once(), once()).sorted
      println(f"[toh] rows=$n%8d mask=$m%6d serve median=${reps(1)}%6.3f s " +
        f"reps=[${reps.map(t => f"$t%.3f").mkString(", ")}]")
    }
    spark.stop()
  }
}
