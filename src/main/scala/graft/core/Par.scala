package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import scala.concurrent.Future
import scala.util.Try

/** Run independent DRIVER-SIDE actions concurrently — the
  * [[graft.pipeline.Hybrid]] bothSides discipline as a shared core
  * helper, for query compositions whose phases are independent jobs
  * over disjoint layouts (the shard-parallel build topology the
  * *_merged / *_segments rows model: "index each corpus shard in
  * parallel, then merge"). Spark's scheduler fills idle cores across
  * concurrently-submitted jobs, so k independent builds cost
  * ~max(build) wall instead of sum(build).
  *
  * ALL actions are awaited before any failure propagates (rethrowing
  * on the first would abandon a still-running sibling whose unmarked
  * write could then race its own retry — the Hybrid.bothSides
  * argument); with every side settled, the post-failure state is one
  * the sequential form could also leave. Callers must pass actions
  * that are independent: disjoint output paths, no session-conf
  * mutation (the conf is session-global — probe wrappers that raise
  * pushdown thresholds stay sequential).
  */
object Par {

  // DEDICATED cached daemon pool, not the global ExecutionContext:
  // the actions are blocking Spark calls, and a Par'd action whose
  // internals Par again (a hybrid segment build Par-ing its two
  // sides) would compete for the global pool's cores-sized thread
  // budget — Await's managed blocking makes outright deadlock
  // unlikely there, but a cached pool makes nesting starvation-free
  // BY CONSTRUCTION: every submitted action gets a thread. Thread
  // count is bounded in practice by the call sites (≤ ~16 concurrent
  // actions per query, nesting ≤ 2 deep) and idle threads retire
  // after 60 s; daemon threads never hold the JVM open.
  private lazy val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  // Spark's job description, group, interrupt flag and scheduler pool
  // live in inheritable thread-locals, so a pooled thread keeps the
  // values of whichever caller created it and would attribute a later
  // caller's jobs to it. They are copied from the caller at submit
  // time instead. `spark.sql.execution.id` is never copied: a worker
  // inheriting its caller's execution id would nest its queries under
  // a running one.
  private val CallerProperties = Seq("spark.job.description",
    "spark.jobGroup.id", "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Start `a` on the pool under the caller's job properties, which
    * are restored on the worker once `a` settles.
    */
  private def submit[A](a: () => A): Future[Try[A]] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    def current = sc.toSeq.flatMap(c => CallerProperties.map(k => (c, k, c.getLocalProperty(k))))
    def set(ps: Seq[(SparkContext, String, String)]): Unit =
      ps.foreach { case (c, k, v) => c.setLocalProperty(k, v) }
    val caller = current
    Future {
      val saved = current
      set(caller)
      try Try(a()) finally set(saved)
    }(ec)
  }

  def all(actions: (() => Unit)*): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val settled = actions.map(submit(_)).map(Await.result(_, Duration.Inf))
    settled.foreach(_.get)
  }

  /** [[all]] for two actions whose RESULTS the caller needs (e.g. a
    * pair of buildWithPairs calls returning pinned pair frames). Same
    * await-all-then-rethrow settlement.
    */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val fa = submit(a)
    val fb = submit(b)
    val ra = Await.result(fa, Duration.Inf)
    val rb = Await.result(fb, Duration.Inf)
    (ra.get, rb.get)
  }
}
