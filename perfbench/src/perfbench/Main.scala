package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload and writes what it measured as JSON for run.py:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file>
  *   Main --selftest --work <dir> --out <file>
  *
  * Set-up runs `SetupReps` times (each from scratch); after an untimed
  * warm-up round 0, the timed loop runs whole cycles of rounds until
  * `seconds` have passed. With `--trace 1` a listener records jobs
  * during set-up and during half the timed rounds; the untraced rounds
  * give the tracing overhead.
  */
object Main {
  /** Set-ups per run: the first pays the JVM's start-up, the second
    * runs warm; `setup_s` is their median. More would not fit the
    * benchmark's time budget for all runs.
    */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts("work")
    val out = opts("out")
    val spark = session(work)
    try {
      val json =
        if (args.contains("--selftest")) SelfTest.run(spark, work)
        else run(spark, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", work)
      Files.write(Paths.get(out), JsonMapper.builder().addModule(DefaultScalaModule).build()
        .writeValueAsBytes(json))
    } finally spark.stop()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the repo's own setting for a local filesystem (Bench.scala):
      // the Spark driver lists partition directories, not a Spark job
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** (steal, total) jiffies from the first line of /proc/stat, if any. */
  def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
    } catch { case _: Exception => None }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          work: String): Map[String, Any] = {
    val tracer = new Tracer(spark)
    val log = new RunLog
    val ctx = new Ctx(spark, tracer, log, s"$work/data", seed)
    val w = Workloads(name, ctx)
    val setup = mutable.ArrayBuffer.empty[Double]
    if (trace) tracer.attach()
    (0 until SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      w.setup()
      setup += (System.nanoTime() - t0) / 1e9
    }
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var error: Option[String] = None
    def round(r: Int): Option[Round] =
      try Some(w.round(r)) catch { case e: Exception => error = Some(s"round $r: $e"); None }
    tracer.detach()
    round(0)
    val cpu0 = cpuTimes()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // trace runs trace rounds 1 and 2 of every 4 (untraced, traced,
    // traced, untraced), so a trend across rounds, such as the JIT
    // still warming, cancels out of the overhead comparison
    val minRounds = if (trace) math.max(4, w.cycle) else w.cycle
    var n = 0
    while (error.isEmpty && (n < minRounds || n % w.cycle != 0 || elapsed < seconds)) {
      // round 1 holds a periodic call: lifecycle_mix makes its calls every
      // round, rag_session its store adds every second round
      val traced = trace && (n % 4 == 1 || n % 4 == 2)
      if (traced) tracer.attach() else tracer.detach()
      round(1 + n).foreach { rd =>
        rounds += Map("wall" -> rd.wall, "steps" -> rd.steps, "items" -> rd.items,
          "background" -> rd.background, "traced" -> traced)
      }
      n += 1
    }
    val loop = elapsed
    val cpu1 = cpuTimes()
    tracer.detach()
    if (error.isEmpty)
      try w.finish() catch { case e: Exception => error = Some(s"checks: $e") }
    error.foreach(e => log.failures(log.op()) = e)
    val rt = Runtime.getRuntime
    Map(
      "workload" -> name,
      "setup_s" -> setup.toSeq,
      "rounds" -> rounds.toSeq,
      "loop_s" -> loop,
      "stored_bytes" -> (if (error.isEmpty) w.storedBytes else 0L),
      "input_bytes" -> w.inputBytes,
      "attempted" -> log.attempted,
      "failures" -> log.failures.values.toSeq,
      "report" -> log.report.toMap,
      "witness" -> Map(
        "seed" -> seed,
        "sizes" -> w.sizes,
        "nproc" -> rt.availableProcessors(),
        "driver_heap_mb" -> rt.maxMemory() / (1L << 20),
        "spark_version" -> spark.version,
        "cpu_jiffies" -> Seq(cpu0, cpu1).flatten.map { case (s, t) => Seq(s, t) }),
      "trace" -> tracer.toJson)
  }
}
