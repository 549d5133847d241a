package graft.mapreduce

import graft.core.{BinPack, Chunker, PyText, Wrap}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.annotation.tailrec
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.reflect.ClassTag

/** The map/reduce functor — the engine's X2 extension point: a
  * stateless `String => String` text transform standing in for "the
  * LLM" (reference frontend.py:129-139 `AbstractFrontend.oneshot`).
  */
trait TextFunctor extends Serializable {
  def apply(prompt: String): String
}

/** Echo functor for tests (reference frontend.py:272-308). */
case object EchoFunctor extends TextFunctor {
  override def apply(prompt: String): String = prompt
}

/** Lossy echo: Python `text[::rate]` (reference frontend.py:289-293) —
  * the deterministic LLM stand-in used by the reference's own
  * mapreduce tests (tests/test_mapreduce.py:30-100).
  */
final case class LossyEchoFunctor(rate: Int = 2) extends TextFunctor {
  override def apply(prompt: String): String = PyText.everyNth(prompt, rate)
}

/** X3: the rate-limit retry decorator (reference embeddings.py:28-59,
  * frontend.py:61-84 `retry_ratelimit`): unbounded retries at a fixed
  * interval when the wrapped functor signals a rate limit. Runs
  * executor-side inside the functor — task-level retries are the
  * wrong granularity for a per-call 429 (they'd replay the whole
  * partition).
  */
final case class RetryOnRateLimit(
    inner: TextFunctor,
    isRateLimit: Throwable => Boolean,
    waitMs: Long = 15000L, // reference: fixed 15 s
    sleep: Long => Unit = Thread.sleep) extends TextFunctor {
  override def apply(prompt: String): String = {
    while (true) {
      try return inner(prompt)
      catch {
        case t: Throwable if isRateLimit(t) => sleep(waitMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** X4: the named functor registry (reference
  * vector_service/backends.py:122-139 `generate_with_backend`) —
  * pluggable name → functor resolution; deterministic test functors
  * registered by default.
  */
object FunctorRegistry {
  private var registry: Map[String, TextFunctor] = Map(
    "echo" -> EchoFunctor,
    "lossy-echo" -> LossyEchoFunctor(2))

  def register(name: String, f: TextFunctor): Unit =
    synchronized { registry += name -> f }

  def apply(name: String): TextFunctor =
    registry.getOrElse(name,
      throw new NoSuchElementException(
        s"unknown backend $name; known: ${registry.keys.toSeq.sorted.mkString(", ")}"))
}

/** One chunk as fed to the fold: carries its own chunk-wrap template
  * so prompts are reconstructible anywhere (the reference's closures
  * become data + a pure function; SURVEY.md §1.1).
  */
final case class MrChunk(spec: String, chunkTemplate: String, start: Int,
                         end: Int, content: String, ord: Long) {
  def wrapped: String = Wrap.wrapChunk(chunkTemplate, spec, start, end, content)
}

/** Prompt templates of the map/reduce phases, verbatim
  * (reference mapreduce.py:41-50 `pad_chunk_before_map`,
  * 94-105 `pad_chunks_before_map`, 232-239
  * `pad_two_results_for_reduce`, 260-267 `pad_many_results_for_reduce`).
  */
object MrTemplates {
  private def header(question: String, what: String): String =
    "Extract any information that is relevant to question " +
      s"${PyText.pyRepr(question)} from the following $what. " +
      "Note, if there is no relevant information, just briefly say nothing." +
      "\n\n\n"

  def padChunkBeforeMap(chunk: MrChunk, question: String): String =
    header(question, "file part") + chunk.wrapped

  def padChunksBeforeMap(chunks: Seq[MrChunk], question: String): String =
    header(question, "file parts") + chunks.map(_.wrapped + "\n\n").mkString

  def padTwoResultsForReduce(a: String, b: String, question: String): String =
    header(question, "contents and aggregate them") +
      "```\n" + a + "\n```\n\n" + "```\n" + b + "\n```\n\n"

  def padManyResultsForReduce(results: Seq[String], question: String): String =
    header(question, "contents and aggregate them") +
      results.map(r => "```\n" + r + "\n```\n\n").mkString

  /** Default question (reference mapreduce.py:475). */
  val DefaultQuestion = "summarize the provided contents."
}

/** Hierarchical map-reduce fold over any-length context
  * (reference mapreduce.py:434-550 `mapreduce_super_long_context`).
  *
  * Semantics reproduced exactly:
  *  - 1-chunk short-circuit returns the wrapped chunk (`:489-490`);
  *  - map phase: one functor call per chunk, or per greedy byte-packed
  *    group in compact mode (`:127-145`, groups via
  *    [[graft.core.BinPack.groupChunks]] incl. the leading-empty-group
  *    edge case);
  *  - reduce phase: repeat until one result — binary mode pairs
  *    (r0,r1),(r2,r3)… with an odd leftover passing through at the end
  *    (`:329-351`), compact mode greedily packs ≥2 per group
  *    (`:353-372`);
  *  - final result gets a trailing "\n\n" (`:549-550`).
  *
  * Spark shape: the functor calls (the expensive part — "the LLM") run
  * data-parallel on executors; only per-item BYTE LENGTHS are collected
  * to the driver to compute order-preserving group boundaries (the
  * bin-pack is inherently a sequential prefix scan — SURVEY.md §7.4.1;
  * thousands of longs, never contents). Each reduce round is a small
  * shuffle keyed by group id. Parallel/serial parity holds by
  * construction: grouping is order-based, not scheduler-based.
  */
final class MapReduceEngine(
    functor: TextFunctor,
    chunkSize: Long = 65536L, // reference defaults.py:67
    compactMap: Boolean = true,
    compactReduce: Boolean = true) extends Serializable {

  /** Chunk wrapped entries into the fold's input, assigning the global
    * order (`read_and_chunk`, reference reader.py:1139-1158).
    */
  def chunkEntries(entries: Seq[(String, String, String)]): Seq[MrChunk] = {
    // entries: (spec, chunkTemplate, content), in spec order
    val out = Vector.newBuilder[MrChunk]
    var ord = 0L
    entries.foreach { case (spec, tmpl, content) =>
      Chunker.chunkContent(content, chunkSize).foreach { case (s, e, c) =>
        out += MrChunk(spec, tmpl, s, e, c, ord)
        ord += 1
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------- local
  /** Pure-Scala execution — the semantic reference for tests, and the
    * driver-side path for small chunk counts.
    */
  def runLocal(chunks: Seq[MrChunk], question: String = MrTemplates.DefaultQuestion): String = {
    require(chunks.nonEmpty, "no chunks to fold")
    if (chunks.length == 1) return chunks.head.wrapped
    var results: Seq[String] =
      if (compactMap)
        BinPack.groupChunks(chunks, chunkSize)(c => PyText.utf8Len(c.content))
          .map(g => functor(MrTemplates.padChunksBeforeMap(g, question)))
      else chunks.map(c => functor(MrTemplates.padChunkBeforeMap(c, question)))
    while (results.length > 1) {
      results =
        if (compactReduce)
          BinPack.groupStrings(results, chunkSize)(PyText.utf8Len)
            .map(g => functor(MrTemplates.padManyResultsForReduce(g, question)))
        else {
          val paired = results.grouped(2).toVector
          paired.map {
            case Seq(a, b) => functor(MrTemplates.padTwoResultsForReduce(a, b, question))
            case Seq(last) => last
          }
        }
    }
    results.head + "\n\n"
  }

  /** Distributed chunking: documents chunk inside `flatMap` (each
    * document's bisection is independent), then the global `ord`
    * comes from one order-preserving `zipWithIndex` pass over the
    * spec-ordered chunks — same output as [[chunkEntries]], but the
    * content never passes through the driver.
    */
  def chunkEntriesDistributed(
      spark: SparkSession,
      entries: Dataset[(String, String, String)] /* (spec, tmpl, content) in spec order */)
      : Dataset[MrChunk] = {
    import spark.implicits._
    val cs = chunkSize
    val perDoc = entries.rdd.zipWithIndex().flatMap { case ((spec, tmpl, content), docOrd) =>
      Chunker.chunkContent(content, cs).zipWithIndex.map { case ((s, e, c), i) =>
        ((docOrd, i.toLong), MrChunk(spec, tmpl, s, e, c, -1L))
      }
    }
    val globallyOrdered = perDoc.sortBy(_._1).map(_._2)
      .zipWithIndex().map { case (c, ord) => c.copy(ord = ord) }
    spark.createDataset(globallyOrdered)
  }

  // ---------------------------------------------------------- scale mode
  /** 100 TB mode (SURVEY.md §7.4.1): no driver-side boundary scan at
    * all. Chunks are range-partitioned by `ord` (contiguous runs per
    * partition), each partition folds ITS run to one string locally
    * (pack → map → compact-reduce, pure reference semantics over the
    * partition's chunks), and the ≤numPartitions partials then go
    * through the normal reduce rounds in partition order.
    *
    * The fold hierarchy differs from [[runLocal]] (group boundaries
    * are per-partition), which the reference itself allows — binary vs
    * compact modes already produce different hierarchies; the contract
    * is "a hierarchical fold of all chunks in order", preserved here.
    * With `numPartitions = 1` this IS `runLocal` exactly.
    */
  def runHierarchical(spark: SparkSession, chunks: Dataset[MrChunk],
                      numPartitions: Int,
                      question: String = MrTemplates.DefaultQuestion): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val f = functor
    val q = question
    val cs = chunkSize
    val n = chunks.count()
    require(n > 0, "no chunks to fold")
    if (n == 1) return chunks.orderBy("ord").head().wrapped
    val parted = chunks.repartitionByRange(numPartitions, col("ord"))
      .sortWithinPartitions("ord")
    val partials: Dataset[(Long, String)] = parted.mapPartitions { it =>
      val local = it.toVector
      if (local.isEmpty) Iterator.empty
      else {
        var results: Seq[String] =
          BinPack.groupChunks(local, cs)(c => PyText.utf8Len(c.content))
            .map(g => f(MrTemplates.padChunksBeforeMap(g, q)))
        while (results.length > 1) {
          results = BinPack.groupStrings(results, cs)(PyText.utf8Len)
            .map(g => f(MrTemplates.padManyResultsForReduce(g, q)))
        }
        Iterator.single((local.head.ord, results.head))
      }
    }
    val ordered = partials.collect().sortBy(_._1).map(_._2)
    var results: Seq[String] = ordered.toSeq
    while (results.length > 1) {
      results = BinPack.groupStrings(results, cs)(PyText.utf8Len)
        .map(g => functor(MrTemplates.padManyResultsForReduce(g, q)))
    }
    results.head + "\n\n"
  }

  // ----------------------------------------------------------- distributed
  /** Distributed execution: functor calls on executors, bin-pack
    * boundaries from collected lengths only. Byte-identical to
    * [[runLocal]] for a deterministic functor, and calls the functor
    * exactly as often: once per group of every level.
    *
    * Each level is evaluated once. One pass over the input collects
    * `(ord, byteLen)` (its length is `n`); every later level is
    * persisted, its `(key, byteLen)` pairs are read from that one
    * materialization, and the level it supersedes is then released
    * with its group-id broadcast. A level whose bin-pack yields a
    * single group — always the last — folds in one task
    * (`coalesce(1)`: no shuffle) and its string is collected
    * directly. The driver holds lengths and group ids, never
    * contents, which bounds one fold at about 1e6 chunks.
    */
  def run(spark: SparkSession, chunks: Dataset[MrChunk],
          question: String = MrTemplates.DefaultQuestion): String = {
    import spark.implicits._
    val f = functor
    val q = question
    val lens = chunks.select($"ord", $"content")
      .map(r => (r.getLong(0), PyText.utf8Len(r.getString(1))))
      .collect().sortBy(_._1)
    require(lens.nonEmpty, "no chunks to fold")
    if (lens.length == 1) return chunks.head().wrapped

    val sc = spark.sparkContext
    val input = chunks.rdd.map(c => (c.ord, c))
    // persisted levels, each with the group-id broadcast that built it
    val held = mutable.Queue.empty[(RDD[(Long, String)], Option[Broadcast[Map[Long, Int]]])]
    /** Group `items` (`keys` in key order) by `ids` and fold each
      * group in key order; the result is keyed by group id. */
    def foldLevel[T: ClassTag](items: RDD[(Long, T)], keys: Array[Long],
                               ids: Array[Int])(fold: Seq[T] => String)
        : (RDD[(Long, String)], Broadcast[Map[Long, Int]]) = {
      val bc = sc.broadcast(keys.iterator.zip(ids.iterator).toMap)
      val level = items.map { case (k, v) => (bc.value(k).toLong, (k, v)) }
        .groupByKey(math.min(ids.last + 1, sc.defaultParallelism))
        .mapValues(g => fold(g.toVector.sortBy(_._1).map(_._2)))
      (level, bc)
    }
    val reduceGroup: Seq[String] => String =
      if (compactReduce) g => f(MrTemplates.padManyResultsForReduce(g, q))
      else {
        case Seq(a, b) => f(MrTemplates.padTwoResultsForReduce(a, b, q))
        case Seq(last) => last
        case other => throw new IllegalStateException(s"bad pair $other")
      }
    @tailrec def reduce(level: RDD[(Long, String)],
                        bc: Option[Broadcast[Map[Long, Int]]]): String = {
      level.persist(StorageLevel.MEMORY_AND_DISK)
      held.enqueue((level, bc))
      val lens = level.mapValues(PyText.utf8Len).collect().sortBy(_._1)
      if (held.size > 1) {
        val (done, doneBc) = held.dequeue()
        done.unpersist(blocking = false)
        doneBc.foreach(_.unpersist(blocking = false))
      }
      val ids =
        if (compactReduce)
          BinPack.groupIds(ArraySeq.unsafeWrapArray(lens.map(_._2)), chunkSize,
            minPerGroup = 2)
        else Array.tabulate(lens.length)(_ / 2)
      if (ids.last == 0) foldOne(level)(reduceGroup)
      else {
        val (next, nextBc) = foldLevel(level, lens.map(_._1), ids)(reduceGroup)
        reduce(next, Some(nextBc))
      }
    }
    val folded =
      try {
        if (!compactMap) reduce(input.mapValues(c => f(MrTemplates.padChunkBeforeMap(c, q))), None)
        else {
          val mapGroup = (g: Seq[MrChunk]) => f(MrTemplates.padChunksBeforeMap(g, q))
          val ids = BinPack.groupIds(ArraySeq.unsafeWrapArray(lens.map(_._2)),
            chunkSize, minPerGroup = 0)
          if (ids.last == 0) foldOne(input)(mapGroup)
          else {
            // reference edge case: oversized first chunk ⇒ leading empty
            // group gets its own functor call (mapreduce.py:70-76)
            val leading = if (ids(0) == 1) Seq((0L, mapGroup(Nil))) else Nil
            val (grouped, bc) = foldLevel(input, lens.map(_._1), ids)(mapGroup)
            reduce(if (leading.isEmpty) grouped else grouped.union(sc.parallelize(leading, 1)),
              Some(bc))
          }
        }
      } finally held.foreach { case (level, bc) =>
        level.unpersist(blocking = false)
        bc.foreach(_.destroy())
      }
    folded + "\n\n"
  }

  /** Fold all of `items` as one group, in key order, in one task. */
  private def foldOne[T](items: RDD[(Long, T)])(fold: Seq[T] => String): String =
    items.coalesce(1)
      .mapPartitions(it => Iterator.single(fold(it.toVector.sortBy(_._1).map(_._2))))
      .collect().head
}
