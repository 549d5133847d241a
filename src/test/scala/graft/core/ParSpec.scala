package graft.core

import graft.SparkTestBase

/** The await-all-then-rethrow settlement contract of [[Par]] — every
  * action runs to completion (no sibling abandoned mid-write) before
  * the first failure propagates — and the attribution of a Par'd
  * action's jobs to the caller that submitted it.
  */
class ParSpec extends SparkTestBase {

  test("all runs every action and rethrows the first failure") {
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException] {
      Par.all(
        () => { Thread.sleep(50); ran.incrementAndGet(); () },
        () => { ran.incrementAndGet(); throw new RuntimeException("boom") },
        () => { Thread.sleep(20); ran.incrementAndGet(); () })
    }
    assert(e.getMessage == "boom")
    // the failing action must NOT have aborted its siblings
    assert(ran.get == 3)
  }

  test("all of disjoint actions completes; both returns both values") {
    var a = 0
    Par.all(() => { a += 1; () })
    assert(a == 1)
    val (x, y) = Par.both(() => { Thread.sleep(30); 7 }, () => "ok")
    assert(x == 7 && y == "ok")
  }

  test("both settles the slow side before rethrowing the fast failure") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.both(
        () => throw new IllegalStateException("fast fail"),
        () => { Thread.sleep(80); done.set(true); 1 })
    }
    assert(done.get, "slow side must have been awaited to completion")
  }

  test("Par'd jobs carry the submitting caller's description and group") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "par-second")))
          seen.add((e.properties.getProperty("spark.job.description"),
            e.properties.getProperty("spark.jobGroup.id")))
    }
    def run(name: String): Unit = Par.all((1 to 4).map(_ => () => {
      sc.parallelize(1 to 8, 2).setName(name).count(); ()
    }): _*)
    sc.addSparkListener(listener)
    try {
      // the first call's pool threads are reused by the second one
      sc.setJobGroup("par-first", "first")
      run("par-first")
      sc.setJobGroup("par-group", "second")
      run("par-second")
      assert(sc.getLocalProperty("spark.job.description") == "second")
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.size < 4 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    assert(jobs.size == 4, s"saw ${jobs.size} jobs of the second call")
    assert(jobs.forall(_ == ("second", "par-group")), s"jobs reported $jobs")
  }
}
