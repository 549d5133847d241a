package perfbench

import graft.pipeline.{Hybrid, Ivf}
import graft.streaming.StreamingSegments
import org.apache.spark.sql.SparkSession

/** Records the two `core.Par`'d calls under a tracer, for run.py's
  * self-test to attribute. The Par pool's threads are created first,
  * under the job description `selftest.stale`; they keep it for later
  * calls, so attribution by description would charge both calls' side
  * jobs to it. Attribution by submit time must charge them to the call.
  */
object SelfTest {
  val Stale = "selftest.stale"

  def run(spark: SparkSession, work: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, new RunLog, s"$work/selftest", 7L)
    sc.setJobDescription(Stale)
    graft.core.Par.all(() => spark.range(8).count(), () => spark.range(8).count())
    sc.setJobDescription(null)
    val gen = new Corpus(7L)
    val rows = (0 until 2000).map(i => (i.toLong, gen.paragraph(gen.nextTopic(), 16)))
    tracer.attach()
    val st = ctx.stage(rows.take(1500), s"${ctx.work}/staged")
    val model = ctx.call("ivf.train")(_ => Ivf.train(st, "embedding", "vec_id", nlist = 16))._1
    ctx.call("hybrid.writeIndex") { _ =>
      sc.setJobDescription("hybrid.writeIndex")
      Hybrid.writeIndex(spark, st.select("doc_id", "text"), "text", "doc_id",
        st.select("vec_id", "embedding"), "vec_id", "embedding", model, s"${ctx.work}/hybrid")
    }
    val inc = ctx.stage(rows.drop(1500), s"${ctx.work}/staged-inc")
    ctx.call("segments.processBatchHybrid") { _ =>
      sc.setJobDescription("segments.processBatchHybrid")
      StreamingSegments.processBatchHybrid(spark, inc.select("doc_id", "text"), "text", "doc_id",
        inc.select("vec_id", "embedding"), "vec_id", "embedding", model, s"${ctx.work}/segments",
        0L, knownNonEmpty = true)
    }
    sc.setJobDescription(null)
    tracer.detach()
    Map("stale" -> Stale, "trace" -> tracer.toJson)
  }
}
