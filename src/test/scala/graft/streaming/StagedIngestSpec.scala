package graft.streaming

import graft.SparkTestBase
import graft.pipeline.Ivf
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The staged-ingest skeleton leaves no scratch behind on any exit:
  * a completed run, a refusal at open (a mismatched model pair), and
  * a per-batch function that throws all delete the stage dir (under
  * `java.io.tmpdir`) and the checkpoint dir (under the configured
  * scratch dir). The events streams' staged copy follows the same
  * rule.
  */
class StagedIngestSpec extends SparkTestBase {

  private def entries(dir: java.nio.file.Path): Set[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def tmpGraft(): Set[String] =
    entries(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(_.startsWith("graft_"))

  /** Run `body` with a fresh scratch dir; assert it and the temp dir
    * hold no new `graft_*` entry afterwards.
    */
  private def leavesNoScratch(body: => Unit): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory("staged_scratch")
    val before = tmpGraft()
    spark.conf.set("spark.graft.streaming.scratchDir", scratch.toString)
    try body finally spark.conf.unset("spark.graft.streaming.scratchDir")
    assert(tmpGraft() -- before == Set.empty)
    assert(entries(scratch) == Set.empty)
  }

  test("completed ingests delete their staged copy and checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("staged_ok")
    leavesNoScratch {
      StreamingExactDedup.ingest(spark, sf(), root.resolve("index").toString,
        root.resolve("kept").toString)
      assert(spark.read.parquet(root.resolve("kept").toString).count() > 0)
    }
    leavesNoScratch {
      assert(StreamingTopTerms.summarize(spark, sf(), 64).count() > 0)
    }
  }

  test("an events stream deletes its staged copy of the events table") {
    leavesNoScratch {
      val served = EventStream.withEvents(spark, sf()) { events =>
        EventStream.runToMemory(spark, events.select(col("user_id")),
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      // the memory sink holds the rows: readable after the copy is gone
      assert(served.count() > 0)
    }
  }

  test("a refusal at open leaks neither the stage nor the checkpoint") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val ivfM = Ivf.train(e, "embedding", "vec_id", nlist = 8, iters = 1)
    val pq = Ivf.trainPqResidual(e, "embedding", "vec_id", ivfM,
      m = 8, ksub = 16, iters = 1)
    val idx = java.nio.file.Files.createTempDirectory("staged_pair")
      .resolve("index").toString
    StreamingIvf.ingestCodes(spark, sf(), ivfM, pq, idx, nBatches = 2)
    val other = Ivf.train(e, "embedding", "vec_id", nlist = 4, iters = 1)
    leavesNoScratch {
      val ex = intercept[IllegalArgumentException] {
        StreamingIvf.ingestCodes(spark, sf(), other, pq, idx, nBatches = 2)
      }
      assert(ex.getMessage.contains("DIFFERENT coarse quantizer"))
    }
  }

  test("a throwing per-batch function propagates and leaks nothing") {
    leavesNoScratch {
      val ex = intercept[Exception] {
        StagedIngest.run(spark, s"${sf()}/documents.parquet",
            StagedIngest.Split("doc_id", 2), "boom") { (_, _) =>
          (_, _) => throw new IllegalStateException("boom in batch")
        }
      }
      val causes = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "boom in batch"), causes)
    }
  }
}
