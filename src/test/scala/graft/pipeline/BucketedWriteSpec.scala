package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Bucketed writers spread their rows over
  * `min(bucket count, shuffle partitions)` tasks
  * ([[graft.core.KeyedWrite.spread]]). The layout must not depend on
  * that count: a build at 4 shuffle partitions and one at 64 (one
  * task per bucket, the plan every bucketed writer used before) write
  * one file per bucket dir per pass, with the same rows — in the same
  * order where the writer sorts — and the first runs no write stage
  * wider than 4 tasks.
  */
class BucketedWriteSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** Task count of every stage that wrote output rows. */
  private final class WriteStages extends SparkListener {
    private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    private val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    private val barriers = new java.util.concurrent.atomic.AtomicInteger
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null &&
          e.taskMetrics.outputMetrics.recordsWritten > 0)
        writers.add(e.stageId)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.stageInfos.exists(_.rddInfos.exists(_.name == "write-barrier")))
        barriers.incrementAndGet()
    /** Write-stage task counts of every job run so far: one marker
      * job, then wait until the bus has delivered its start (events
      * reach a listener in order, so every earlier one is in).
      */
    def widths(): Seq[Int] = {
      val want = barriers.get + 1
      spark.sparkContext.parallelize(Seq(1), 1).setName("write-barrier")
        .count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (barriers.get < want && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(barriers.get >= want, "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      writers.asScala.toSeq.map(s => tasks.get(s): Int)
    }
  }

  /** Every data file under `root`, with its rows in file order
    * (a small file is one split, so one task reads it front to back).
    */
  private def files(root: String): Map[String, Seq[String]] = {
    val df = spark.read.parquet(root)
    df.select(input_file_name().as("f"),
        monotonically_increasing_id().as("i"),
        to_json(struct(df.columns.map(col): _*)).as("r"))
      .collect().toSeq
      .groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.sortBy(_.getLong(1)).map(_.getString(2)) }
  }

  /** One build's layouts, pass by pass: for each pass, the files it
    * added, keyed by (layout, bucket dir). Asserts each pass added at
    * most one file per dir.
    */
  private def passes(roots: Seq[String],
                     runs: Seq[() => Unit]): Seq[Map[String, Seq[String]]] = {
    var seen = Set.empty[String]
    runs.map { run =>
      run()
      val now = roots.flatMap(r => files(r).toSeq.map { case (f, rows) =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        (s"${r.split('/').last}/${p.getParent.getName}", f, rows)
      })
      val added = now.filterNot(x => seen(x._2))
      seen ++= now.map(_._2)
      val byDir = added.groupBy(_._1)
      byDir.foreach { case (dir, fs) =>
        assert(fs.size == 1, s"$dir got ${fs.size} files in one pass")
      }
      byDir.map { case (dir, fs) => dir -> fs.head._3 }
    }
  }

  private def build(
      partitions: Int): (Seq[Map[String, Seq[String]]], Seq[Int]) = {
    val base = java.nio.file.Files.createTempDirectory(s"bucketed$partitions")
    def at(n: String) = base.resolve(n).toString
    val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val sp = Sparse.sparsify(emb, "embedding", "vec_id")
    val roots = Seq(at("bm25/postings"), at("bm25/df"), at("sparse"),
      at("dedup"))
    val listener = new WriteStages
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = passes(roots, Seq(
        () => {
          Bm25.writeIndex(spark, docs.where(col("doc_id") <= half), "text",
            "doc_id", at("bm25"))
          Sparse.writeIndex(sp.where(col("doc") % 2 === 0), at("sparse"))
          DedupIndex.writeIndex(spark, docs.where(col("doc_id") <= half),
            "text", "doc_id", at("dedup"))
        },
        () => {
          Bm25.appendToIndex(spark, docs.where(col("doc_id") > half), "text",
            "doc_id", at("bm25"))
          Sparse.appendToIndex(spark, sp.where(col("doc") % 2 === 1),
            at("sparse"))
          DedupIndex.appendNovel(spark, docs.where(col("doc_id") > half),
            "text", "doc_id", at("dedup"))
        }))
      (out, listener.widths())
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("bucketed writes: the same files, rows and row order at 4 and 64 " +
    "shuffle partitions; at 4 no write stage runs more than 4 tasks") {
    val (narrow, narrowWidths) = build(4)
    val (wide, wideWidths) = build(64)
    assert(narrow.map(_.size).sum > 0)
    assert(narrow.size == wide.size)
    narrow.zip(wide).zipWithIndex.foreach { case ((a, b), pass) =>
      assert(a.keySet == b.keySet, s"pass $pass wrote other dirs")
      a.keys.toSeq.sorted.foreach { dir =>
        // dedup writes its fp aggregation unsorted, and that
        // aggregation's own shuffle follows the session's partition
        // count, so only its row SET is a property of the layout
        if (dir.startsWith("dedup/"))
          assert(a(dir).sorted == b(dir).sorted,
            s"pass $pass: $dir rows differ")
        else assert(a(dir) == b(dir), s"pass $pass: $dir rows or order differ")
      }
    }
    assert(narrowWidths.nonEmpty && narrowWidths.forall(_ <= 4),
      s"write stages at 4 shuffle partitions ran $narrowWidths tasks")
    // 64 shuffle partitions is the one-task-per-bucket plan: bm25 and
    // dedup spread over their 64 buckets, sparse over its 16
    assert(wideWidths.contains(Bm25.IndexBuckets) &&
      wideWidths.contains(Sparse.DimBuckets) &&
      wideWidths.forall(_ <= Bm25.IndexBuckets), s"wide widths $wideWidths")
  }
}
