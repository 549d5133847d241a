package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One call into a layer: its wall window (epoch ms, for attributing
  * jobs) and duration, plus counts the benchmark notes at the boundary.
  */
final class SpanRec(val name: String, val startMs: Long) {
  var endMs: Long = startMs
  var ns: Long = 0L
  val extras: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def note(key: String, v: Double): Unit = extras(key) = extras.getOrElse(key, 0.0) + v
}

/** Per-job counters summed from task-end events. */
final class JobRec(val id: Int, val submitMs: Long, val description: String,
                   val callSite: String) {
  var endMs: Long = -1L
  var tasks, cpuNs, readBytes, recordsRead, writtenBytes, shuffleBytes = 0L
}

/** Records every job and its tasks' metrics. Stages are charged to the
  * first job that lists them: a later job that lists the same stage
  * only skips it.
  */
final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  private val stageOwner = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage, created last, is named after the action's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val rec = new JobRec(e.jobId, e.time, prop("spark.job.description"), site)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.readBytes += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.writtenBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Times the benchmark's calls into the engine. While attached, it
  * also keeps each call's window and a [[JobListener]]; jobs are later
  * attributed to the window their submit time falls in (never by job
  * description or group: `core.Par` worker threads carry stale ones).
  * Windows on the single client thread are made disjoint at
  * millisecond resolution, so a job's submit time names one span.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var listener: Option[JobListener] = None
  private var lastEndMs = 0L
  val spans: mutable.ArrayBuffer[SpanRec] = mutable.ArrayBuffer.empty
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty

  def attached: Boolean = listener.isDefined

  def attach(): Unit = if (listener.isEmpty) {
    val l = new JobListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  /** Drains the bus so every started job's end and task events are in,
    * then stops listening.
    */
  def detach(): Unit = listener.foreach { l =>
    org.apache.spark.perfbench.BusDrain.drain(sc)
    sc.removeSparkListener(l)
    l.synchronized(jobs ++= l.jobs.values)
    listener = None
  }

  /** Runs `body` as a call named `name`; returns its value and seconds. */
  def span[A](name: String)(body: SpanRec => A): (A, Double) = {
    if (attached) while (System.currentTimeMillis() <= lastEndMs) Thread.onSpinWait()
    val rec = new SpanRec(name, System.currentTimeMillis())
    val t0 = System.nanoTime()
    try {
      val out = body(rec)
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      rec.ns = System.nanoTime() - t0
      rec.endMs = System.currentTimeMillis()
      if (attached) { lastEndMs = rec.endMs; spans += rec }
    }
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Seq(s.name, s.startMs, s.endMs, s.ns, s.extras.toMap)).toSeq,
    "jobs" -> jobs.map(j => Seq(j.id, j.submitMs, j.endMs, j.tasks, j.cpuNs, j.readBytes,
      j.recordsRead, j.writtenBytes, j.shuffleBytes, j.description, j.callSite)).toSeq)
}
