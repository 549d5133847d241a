package graft.mapreduce

import graft.SparkTestBase
import graft.core.Wrap

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Counts calls per `key` in a JVM-wide table, so the calls that
  * local-mode executor tasks make are visible to the test.
  */
final case class CountingFunctor(inner: TextFunctor, key: String) extends TextFunctor {
  override def apply(prompt: String): String = {
    CountingFunctor.calls.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
    inner(prompt)
  }
}

object CountingFunctor {
  val calls = new ConcurrentHashMap[String, AtomicLong]()
  def count(key: String): Long = Option(calls.get(key)).fold(0L)(_.get)
}

/** Fails every reduce prompt, so a fold dies after its map level. */
case object ThrowOnReduce extends TextFunctor {
  override def apply(prompt: String): String =
    if (prompt.contains("contents and aggregate them"))
      throw new IllegalStateException("functor failed")
    else prompt
}

/** Ports the reference mapreduce invariants (tests/test_mapreduce.py:
  * 30-100) with the LossyEcho functor, and checks distributed ≡ local
  * byte-for-byte across all four mode combinations.
  */
class MapReduceSpec extends SparkTestBase {

  private def fixtureChunks(n: Int): Seq[(String, String, String)] =
    (0 until n).map(i => (s"path$i", Wrap.FileChunk,
      s"content $i " + ("lorem ipsum dolor sit amet " * (i % 5 + 1)).trim))

  test("1-chunk short-circuit returns the wrapped chunk (mapreduce.py:489-490)") {
    val eng = new MapReduceEngine(EchoFunctor, chunkSize = 1 << 20)
    val chunks = eng.chunkEntries(Seq(("p", Wrap.FileChunk, "hello\nworld")))
    assert(chunks.length == 1)
    val expected = Wrap.wrapChunk(Wrap.FileChunk, "p", 0, 2, "hello\nworld")
    assert(eng.runLocal(chunks) == expected)
    import spark.implicits._
    assert(eng.run(spark, spark.createDataset(chunks)) == expected)
  }

  test("binary reduce converges; n-in produces nonempty out") {
    val eng = new MapReduceEngine(LossyEchoFunctor(2), chunkSize = 64,
      compactMap = false, compactReduce = false)
    val chunks = eng.chunkEntries(fixtureChunks(10))
    val out = eng.runLocal(chunks)
    assert(out.nonEmpty)
    assert(out.endsWith("\n\n"))
  }

  test("distributed ≡ local for all mode combinations (LossyEcho)") {
    import spark.implicits._
    for {
      compactMap <- Seq(false, true)
      compactReduce <- Seq(false, true)
      n <- Seq(2, 7, 10, 64)
    } {
      val mode = s"compactMap=$compactMap compactReduce=$compactReduce n=$n"
      def engine(side: String) = new MapReduceEngine(
        CountingFunctor(LossyEchoFunctor(2), s"$side $mode"), chunkSize = 96,
        compactMap = compactMap, compactReduce = compactReduce)
      val chunks = engine("chunk").chunkEntries(fixtureChunks(n))
      val local = engine("local").runLocal(chunks)
      val dist = engine("dist").run(spark, spark.createDataset(chunks).repartition(4))
      assert(dist == local, s"mode mismatch $mode")
      assert(CountingFunctor.count(s"dist $mode") == CountingFunctor.count(s"local $mode"),
        s"run and runLocal call the functor a different number of times: $mode")
    }
  }

  test("run releases every level it persisted, also when the functor throws") {
    import spark.implicits._
    val sc = spark.sparkContext
    val chunks = new MapReduceEngine(EchoFunctor, chunkSize = 96)
      .chunkEntries(fixtureChunks(64))
    for (compactReduce <- Seq(false, true)) {
      val before = sc.getPersistentRDDs.size
      new MapReduceEngine(LossyEchoFunctor(2), chunkSize = 96,
        compactReduce = compactReduce).run(spark, spark.createDataset(chunks))
      assert(sc.getPersistentRDDs.size == before, s"compactReduce=$compactReduce")
      intercept[org.apache.spark.SparkException] {
        new MapReduceEngine(ThrowOnReduce, chunkSize = 96,
          compactReduce = compactReduce).run(spark, spark.createDataset(chunks))
      }
      assert(sc.getPersistentRDDs.size == before,
        s"a failed fold left levels persisted (compactReduce=$compactReduce)")
    }
  }

  test("oversized-first-chunk leading empty group matches local semantics") {
    import spark.implicits._
    val entries = Seq(
      ("big", Wrap.FileChunk, "x" * 500), // single line — can't split below budget
      ("small", Wrap.FileChunk, "tiny"))
    for (compactReduce <- Seq(false, true)) {
      val eng = new MapReduceEngine(LossyEchoFunctor(2), chunkSize = 100,
        compactMap = true, compactReduce = compactReduce)
      val chunks = eng.chunkEntries(entries)
      val local = eng.runLocal(chunks)
      val dist = eng.run(spark, spark.createDataset(chunks))
      assert(dist == local)
    }
  }

  test("distributed chunking equals the driver-side chunker") {
    import spark.implicits._
    val eng = new MapReduceEngine(EchoFunctor, chunkSize = 64)
    val entries = fixtureChunks(8)
    val viaDriver = eng.chunkEntries(entries)
    // input partition order defines spec order (zipWithIndex contract)
    val viaCluster = eng.chunkEntriesDistributed(spark,
      spark.createDataset(entries)).collect().sortBy(_.ord)
    assert(viaCluster.toSeq == viaDriver)
  }

  test("hierarchical scale mode: P=1 equals the reference-exact compact fold; any P converges deterministically") {
    import spark.implicits._
    val eng = new MapReduceEngine(LossyEchoFunctor(2), chunkSize = 96,
      compactMap = true, compactReduce = true)
    val chunks = eng.chunkEntries(fixtureChunks(10))
    val ds = spark.createDataset(chunks)
    val local = eng.runLocal(chunks)
    assert(eng.runHierarchical(spark, ds, numPartitions = 1) == local)
    val p3a = eng.runHierarchical(spark, ds.repartition(7), numPartitions = 3)
    val p3b = eng.runHierarchical(spark, ds.repartition(2), numPartitions = 3)
    assert(p3a == p3b, "scale mode must be deterministic given P")
    assert(p3a.nonEmpty && p3a.endsWith("\n\n"))
  }

  test("map prompt templates match the reference layout verbatim") {
    val chunk = MrChunk("spec.txt", Wrap.FileChunk, 0, 2, "a\nb", 0)
    val p = MrTemplates.padChunkBeforeMap(chunk, "what is this?")
    assert(p.startsWith(
      "Extract any information that is relevant to question 'what is this?' " +
        "from the following file part. Note, if there is no relevant " +
        "information, just briefly say nothing.\n\n\n"))
    assert(p.contains("Here is the contents of file spec.txt (lines 0-2):\n```\na\nb\n```\n"))
    val r = MrTemplates.padTwoResultsForReduce("A", "B", "q?")
    assert(r.endsWith("```\nA\n```\n\n```\nB\n```\n\n"))
  }
}
