package perfbench

import graft.cache.TtlCache
import graft.core.Wrap
import graft.embed.Embed
import graft.ingest.SourceRegistry
import graft.mapreduce.{LossyEchoFunctor, MapReduceEngine, MrChunk, MrTemplates}
import graft.memory.MessageLog
import graft.pipeline.{Bm25, Hybrid, Ivf, IvfModel}
import graft.retrieve.Retrieval
import graft.store.VectorStore
import graft.streaming.StreamingSegments
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import Gen.{Batch, K, KCand, Nlist, Nprobe}

/** What a run did and whether the engine's answers were right. An
  * operation is one call into the engine or one end-of-run check of
  * the layout; it fails when it raises or its answer is wrong.
  */
final class RunLog {
  var attempted = 0L
  val failures: mutable.LinkedHashMap[Long, String] = mutable.LinkedHashMap.empty
  val report: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def op(): Long = { attempted += 1; attempted }
  def check(opId: Long, ok: Boolean, what: => String): Unit =
    if (!ok && !failures.contains(opId)) failures(opId) = what
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val log: RunLog,
                val work: String, val seed: Long) {
  val model: TopicEmbedding = new TopicEmbedding

  /** One engine call: counted as an operation and timed as a span. */
  def call[A](name: String)(body: SpanRec => A): (A, Double, Long) = {
    val id = log.op()
    val (out, s) = tracer.span(name)(body)
    (out, s, id)
  }

  /** The harness's own Spark work (input staging, checks): spanned so
    * its jobs are attributed, but never part of a layer's figures.
    */
  def harness[A](body: => A): A = tracer.span("bench.harness")(_ => body)._1

  /** Writes (doc_id, text, vec_id, embedding) rows, vec_id = doc_id:
    * the engine's segment merge expects the dense id column `vec_id`.
    */
  def stage(rows: Seq[(Long, String)], path: String): DataFrame = harness {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, id, model.embed(t)) }
      .toDF("doc_id", "text", "vec_id", "embedding").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** A closed loop of rounds: one client, each call waits for the last.
  * `steps` holds, for each of the three calls whose medians the
  * benchmark reports, the seconds of each time the round made it;
  * `wall` is every engine call the round made, `background` the
  * periodic part of it (maintenance, store adds) that runs after the
  * round's requests.
  */
final case class Round(wall: Double, steps: Seq[Seq[Double]], items: Long,
                       background: Double = 0.0)

trait Workload {
  /** Rounds per cycle: a run measures whole cycles only, so every run
    * does the same rounds and the same mix of periodic work. A periodic
    * call runs in the cycle's last round.
    */
  def cycle: Int
  def sizes: Map[String, Any]
  /** Builds the workload's starting state from scratch. */
  def setup(): Unit
  def round(r: Int): Round
  /** End-of-run checks of the layout against what was generated. */
  def finish(): Unit
  def storedBytes: Long
  def inputBytes: Long

  protected def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "serve_mix" => new ServeMix(c)
    case "lifecycle_mix" => new LifecycleMix(c)
    case "rag_session" => new RagSession(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Exactly `k` rows for every query id in `qids`. */
  def kPerQuery(rows: Seq[(Long, Long)], qids: Seq[Long], k: Int): Boolean = {
    val by = rows.groupBy(_._1)
    qids.forall(q => by.get(q).exists(r => r.size == k && r.map(_._2).distinct.size == k))
  }
}

/** Bulk build, then read-only serving. Set-up is the ingest path:
  * read and chunk a directory of text and HTML files, embed, train the
  * quantizer, write the hybrid layout. Each round then serves one
  * dense, one lexical and one hybrid batch of 16 queries.
  */
final class ServeMix(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val files = 40
  private val linesPerFile = 50
  private val tokens = 24
  private val corpusDir = s"${c.work}/corpus"
  private val root = s"${c.work}/hybrid"
  private val engine = new MapReduceEngine(LossyEchoFunctor(), chunkSize = 1L)
  private var texts: Array[Set[String]] = Array.empty
  private var exact = new ExactIndex
  private var model: IvfModel = _
  private var queries: Corpus = _
  private var input = 0L
  private val dense = mutable.ArrayBuffer.empty[(Long, Seq[(Long, Array[Float])], Seq[(Long, Long)])]
  private val lexical = mutable.ArrayBuffer.empty[(Long, Seq[(Long, String)], Seq[(Long, Long)])]
  private val hybrid = mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(Long, Long)])]

  // a round is three calls of about 1 s: the median of one round moved
  // with every burst on the host, the median of three moves less
  val cycle = 3
  def sizes: Map[String, Any] = Gen.sizes ++ Map("files" -> files, "docs" -> texts.length)

  /** Writes the corpus; returns its lines in chunk order (files sort by
    * name, lines keep their order). chunkSize 1 makes every line its
    * own chunk, HTML tag lines included.
    */
  private def writeCorpus(): Seq[String] = {
    c.rm(corpusDir)
    Files.createDirectories(Paths.get(corpusDir))
    val gen = new Corpus(c.seed)
    input = 0L
    (0 until files).flatMap { f =>
      val html = f % 4 == 3
      val paras = (0 until linesPerFile).map(_ => gen.paragraph(gen.nextTopic(), tokens))
      val lines = if (html) ("<html><body>" +: paras) :+ "</body></html>" else paras
      val text = lines.mkString("\n")
      Files.write(Paths.get(corpusDir, f"doc$f%04d.${if (html) "html" else "txt"}"),
        text.getBytes("UTF-8"))
      input += utf8(text)
      lines
    }
  }

  def setup(): Unit = {
    c.rm(root)
    val lines = writeCorpus()
    texts = lines.map(_.split(' ').toSet).toArray
    exact = new ExactIndex
    lines.zipWithIndex.foreach { case (t, i) => exact.add(i.toLong, c.model.embed(t)) }
    queries = new Corpus(c.seed ^ 0x51L)
    dense.clear(); lexical.clear(); hybrid.clear()
    val staged = s"${c.work}/staged"
    c.call("ingest.stage") { _ =>
      val entries = new SourceRegistry(c.spark).readDirectory(corpusDir)
        .map(e => (e.path, e.chunkTemplate, e.content)).orderBy(col("_1"))
      val chunks = engine.chunkEntriesDistributed(c.spark, entries)
        .select(col("ord").as("doc_id"), col("content").as("text"), col("ord").as("vec_id"))
      Embed.embedColumn(chunks, c.model, "text", "embedding")
        .write.mode("overwrite").parquet(staged)
    }
    val st = c.harness(c.spark.read.parquet(staged))
    model = c.call("ivf.train") { _ =>
      Ivf.train(st, "embedding", "vec_id", nlist = Nlist, iters = 5, seed = c.seed)
    }._1
    c.call("hybrid.writeIndex") { _ =>
      Hybrid.writeIndex(c.spark, st.select("doc_id", "text"), "text", "doc_id",
        st.select("vec_id", "embedding"), "vec_id", "embedding", model, root)
    }
  }

  private def batchQueries(r: Int): Seq[(Long, String)] =
    (0 until Batch).map(i => ((r * Batch + i).toLong, queries.paragraph(queries.nextTopic(), 8)))

  def round(r: Int): Round = {
    val qd = batchQueries(3 * r).map { case (q, t) => (q, c.model.embed(t)) }
    val ql = batchQueries(3 * r + 1)
    val qh = batchQueries(3 * r + 2)
    val (dRows, tDense, dId) = c.call("ivf.search") { s =>
      val out = Ivf.search(Ivf.readIndexServing(c.spark, s"$root/ivf", "vec_id"),
          qd.toDF("vec_id", "embedding"), "embedding", "vec_id", model, K, nprobe = Nprobe,
          excludeSelf = false)
        .select(col("qid").cast("long"), col("nid").cast("long")).as[(Long, Long)].collect().toSeq
      s.note("results", out.size)
      out
    }
    dense += ((dId, qd, dRows))
    val (lRows, tLex, lId) = c.call("bm25.searchIndex") { s =>
      val out = Bm25.searchIndex(c.spark, s"$root/bm25", ql, K)
        .select(col("qid").cast("long"), col("doc").cast("long")).as[(Long, Long)].collect().toSeq
      s.note("results", out.size)
      out
    }
    lexical += ((lId, ql, lRows))
    val qv = qh.map { case (q, t) => (q, c.model.embed(t)) }.toDF("qid", "vec")
    val (hRows, tHyb, hId) = c.call("hybrid.searchIndex") { _ =>
      Hybrid.searchIndex(c.spark, root, qh, qv, model, "embedding", "vec_id",
          kCand = KCand, k = K, nprobe = Nprobe)
        .select(col("qid").cast("long"), col("doc").cast("long")).as[(Long, Long)].collect().toSeq
    }
    hybrid += ((hId, qh.map(_._1), hRows))
    Round(tDense + tLex + tHyb, Seq(Seq(tDense), Seq(tLex), Seq(tHyb)), 3L * Batch)
  }

  def finish(): Unit = {
    var hits = 0L
    var total = 0L
    dense.foreach { case (id, qs, rows) =>
      c.log.check(id, Workloads.kPerQuery(rows, qs.map(_._1), K), "ivf.search: not k rows per query")
      val by = rows.groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
      var batchHits = 0
      qs.foreach { case (q, v) =>
        val want = exact.topK(v, K).map(_._1)
        batchHits += want.count(by.getOrElse(q, Set.empty[Long]).contains)
      }
      hits += batchHits
      total += qs.size.toLong * K
      // an approximate index still finds most true neighbours; half
      // is far below this layout's measured recall
      c.log.check(id, batchHits >= qs.size * K / 2, s"ivf.search: recall@$K $batchHits/${qs.size * K}")
    }
    c.log.report("recall_at_10") = if (total > 0) hits.toDouble / total else 0.0
    lexical.foreach { case (id, qs, rows) =>
      val terms = qs.map { case (q, t) => q -> t.split(' ').toSet }.toMap
      // BM25 returns only docs sharing a term with the query
      val by = rows.groupBy(_._1)
      c.log.check(id, qs.forall { case (q, _) =>
        val got = by.getOrElse(q, Nil).map(_._2)
        got.distinct.size == got.size &&
          got.size == math.min(K, texts.count(t => (t & terms(q)).nonEmpty))
      }, "bm25.searchIndex: not min(k, matching docs) rows per query")
      c.log.check(id, rows.forall { case (q, d) => (texts(d.toInt) & terms(q)).nonEmpty },
        "bm25.searchIndex: a result shares no term with its query")
    }
    hybrid.foreach { case (id, qs, rows) =>
      c.log.check(id, Workloads.kPerQuery(rows, qs, K), "hybrid.searchIndex: not k rows per query")
      c.log.check(id, rows.forall { case (_, d) => d >= 0 && d < texts.length },
        "hybrid.searchIndex: unknown doc")
    }
    c.harness {
      val id = c.log.op()
      val st = c.spark.read.parquet(s"${c.work}/staged")
      val staged = st.select("doc_id").distinct().count()
      val lex = Hybrid.countDocs(c.spark, root).head().getLong(0)
      val den = c.spark.read.parquet(s"$root/ivf").count()
      c.log.check(id, Seq(staged, lex, den).forall(_ == texts.length),
        s"serve_mix: staged $staged distinct ids, layout holds $lex lexical and $den dense " +
          s"docs; generated ${texts.length} chunks")
    }
  }

  def storedBytes: Long = c.bytesUnder(root)
  def inputBytes: Long = input
}

/** Writes beside reads over a segmented hybrid layout: per round append
  * a segment, tombstone live ids and serve a hybrid batch over every
  * live segment; tiered maintenance and a tombstone fold of the base
  * segment then run in the round's background slot.
  */
final class LifecycleMix(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val base = 1000
  private val append = 250
  private val tombstones = 50
  private val tokens = 24
  private val root = s"${c.work}/segments"
  private var model: IvfModel = _
  private var gen: Corpus = _
  private var queries: Corpus = _
  private var input = 0L
  private var nextId = 0L
  private val live = mutable.LinkedHashSet.empty[Long]

  val cycle = 1
  def sizes: Map[String, Any] = Gen.sizes ++ Map("base_docs" -> base, "append_docs" -> append,
    "tombstones_per_round" -> tombstones, "maintain_fanout" -> 2)

  private def docs(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
    val id = nextId
    nextId += 1
    (id, gen.paragraph(gen.nextTopic(), tokens))
  }

  def setup(): Unit = {
    c.rm(root)
    gen = new Corpus(c.seed)
    queries = new Corpus(c.seed ^ 0x51L)
    nextId = 0L
    live.clear()
    val rows = docs(base)
    input = rows.map(r => utf8(r._2)).sum
    val st = c.stage(rows, s"${c.work}/staged")
    model = c.call("ivf.train") { _ =>
      Ivf.train(st, "embedding", "vec_id", nlist = Nlist, iters = 5, seed = c.seed)
    }._1
    c.call("segments.processBatchHybrid") { _ =>
      StreamingSegments.processBatchHybrid(c.spark, st.select("doc_id", "text"), "text",
        "doc_id", st.select("vec_id", "embedding"), "vec_id", "embedding", model, root, 0L,
        knownNonEmpty = true)
    }
    live ++= rows.map(_._1)
  }

  def round(r: Int): Round = {
    val seg = r + 1L
    val rows = docs(append)
    input += rows.map(x => utf8(x._2)).sum
    val df = c.stage(rows, s"${c.work}/batch-$seg")
    val (promoted, tAppend, aId) = c.call("segments.processBatchHybrid") { _ =>
      StreamingSegments.processBatchHybrid(c.spark, df.select("doc_id", "text"), "text",
        "doc_id", df.select("vec_id", "embedding"), "vec_id", "embedding", model, root, seg,
        knownNonEmpty = true)
    }
    c.log.check(aId, promoted, s"segments.processBatchHybrid: batch $seg not promoted")
    live ++= rows.map(_._1)
    // half from the base segment (always the merge destination, so it
    // stays live), half from the segment just promoted (the protected
    // tail, not yet merged anywhere)
    val baseIds = live.iterator.takeWhile(_ < base).toIndexedSeq
    val fromBase = Iterator.continually(baseIds(gen.nextInt(baseIds.size)))
      .distinct.take(tombstones / 2).toSeq
    val fromTail = new scala.util.Random(c.seed + seg).shuffle(rows.map(_._1))
      .take(tombstones - fromBase.size)
    // one call per segment: each call is one sample
    val tTomb = Seq(s"$root/seg=0" -> fromBase, s"$root/seg=$seg" -> fromTail).map {
      case (segRoot, ids) => c.call("hybrid.tombstoneDocs") { _ =>
        Hybrid.tombstoneDocs(c.spark, segRoot, ids.toDF("vec_id"), "vec_id")
      }._2
    }
    live --= fromBase ++ fromTail
    val qh = (0 until Batch).map(i => ((r * Batch + i).toLong, queries.paragraph(queries.nextTopic(), 8)))
    val qv = qh.map { case (q, t) => (q, c.model.embed(t)) }.toDF("qid", "vec")
    val (hRows, tServe, sId) = c.call("hybrid.searchSegments") { s =>
      val roots = StreamingSegments.segmentRoots(c.spark, root)
      s.note("live_segments", roots.size)
      Hybrid.searchSegments(c.spark, roots, qh, qv, model, "embedding", "vec_id",
          kCand = KCand, k = K, nprobe = Nprobe)
        .select(col("qid").cast("long"), col("doc").cast("long")).as[(Long, Long)].collect().toSeq
    }
    c.log.check(sId, Workloads.kPerQuery(hRows, qh.map(_._1), K),
      "hybrid.searchSegments: not k rows per query")
    c.log.check(sId, hRows.forall { case (_, d) => live.contains(d) },
      "hybrid.searchSegments: served a tombstoned or unknown id")
    val background = c.call("segments.maintainTieredHybrid") { _ =>
      StreamingSegments.maintainTieredHybrid(c.spark, root, fanout = 2)
    }._2 + c.call("hybrid.foldTombstones") { _ =>
      // the base segment absorbs the merged tails and their tombstones;
      // the newest tail keeps its tombstones as masks until it is merged
      Hybrid.foldTombstones(c.spark, s"$root/seg=0", "vec_id")
    }._2
    Round(tAppend + tTomb.sum + tServe + background, Seq(Seq(tAppend), tTomb, Seq(tServe)),
      append.toLong, background)
  }

  def finish(): Unit = c.harness {
    val id = c.log.op()
    val roots = StreamingSegments.segmentRoots(c.spark, root)
    val served = Ivf.readSegmentsServing(c.spark, roots.map(r => s"$r/ivf"), "vec_id", model)
      .select(col("vec_id").cast("long")).as[Long].collect()
    val lexical = roots.map(r => Hybrid.countDocs(c.spark, r).head().getLong(0)).sum
    c.log.check(id, served.length == live.size && served.toSet == live.toSet &&
      lexical == live.size,
      s"lifecycle_mix: dense side serves ${served.length} ids, lexical $lexical docs, " +
        s"expected the ${live.size} live ids")
  }

  def storedBytes: Long = c.bytesUnder(root)
  def inputBytes: Long = input
}

/** Counts the fetches the cache makes, per key. Executors run in the
  * driver JVM in local mode, so a static map sees every call.
  */
object Fetch {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def value(key: String): String = s"value-of-$key"
  val fn: String => String = { key =>
    counts.merge(key, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    value(key)
  }
}

/** The interactive surface: per turn, log the user message, fetch
  * conversation context, retrieve from the vector store, memoize the
  * turn's prompt keys, fold the snippets with map-reduce, log the
  * reply. Every second turn then adds documents to the store in the
  * background slot.
  */
final class RagSession(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val storeDocs = 2000
  private val conversations = 4
  private val seedMessages = 24
  private val hotKeys = 3
  private val freshPerTurn = 3
  private val addEvery = 2
  private val addDocs = 16
  private val dir = s"${c.work}/store"
  private val engine = new MapReduceEngine(LossyEchoFunctor(), chunkSize = 400L)
  private var gen: Corpus = _
  private var store: VectorStore = _
  private var retrieval: Retrieval = _
  private var memory: MessageLog = _
  private var cache: TtlCache = _
  private var exact = new ExactIndex
  private val storedTexts = mutable.ArrayBuffer.empty[String]
  private var input = 0L
  private var lookups = 0L
  private var setupFetches = 0L

  val cycle: Int = addEvery
  def sizes: Map[String, Any] = Map("store_docs" -> storeDocs, "conversations" -> conversations,
    "seed_messages" -> seedMessages, "hot_keys" -> hotKeys, "fresh_per_turn" -> freshPerTurn,
    "add_every" -> addEvery, "add_docs" -> addDocs, "topk" -> 3, "dim" -> Gen.Dim)

  private def add(texts: Seq[String]): Unit = {
    texts.foreach { t =>
      exact.add(storedTexts.size.toLong, c.model.embed(t))
      storedTexts += t
      input += utf8(t)
    }
  }

  def setup(): Unit = {
    c.rm(dir)
    gen = new Corpus(c.seed)
    exact = new ExactIndex
    storedTexts.clear()
    input = 0L
    lookups = 0L
    Fetch.counts.clear()
    store = new VectorStore(c.spark, dir, Gen.Dim)
    retrieval = new Retrieval(c.spark, c.model, store)
    memory = new MessageLog(c.spark, c.model)
    cache = new TtlCache(c.spark)
    val docs = (0 until storeDocs).map(_ => gen.paragraph(gen.nextTopic(), 24))
    c.call("retrieve.batchAdd") { _ => retrieval.batchAdd(docs.zipWithIndex.map { case (t, i) => (s"doc$i", t) }) }
    add(docs)
    c.call("memory.append") { _ =>
      (0 until seedMessages * conversations).foreach { i =>
        memory.append(s"m$i", s"c${i % conversations}", if (i % 2 == 0) "user" else "assistant",
          gen.paragraph(gen.nextTopic(), 12), i.toLong)
      }
    }
    c.call("cache.memoize") { _ =>
      cache.memoize((0 until hotKeys).map(i => s"k$i").toDF("key"), Fetch.fn).collect()
    }
    setupFetches = hotKeys
  }

  def round(t: Int): Round = {
    val conv = s"c${t % conversations}"
    val text = gen.paragraph(gen.nextTopic(), 12)
    val ts = 1000000L + 2L * t
    val (_, tIn, _) = c.call("memory.append") { _ => memory.append(s"u$t", conv, "user", text, ts) }
    val (ctx, tCtx, ctxId) = c.call("memory.context") { _ =>
      memory.context(text, Some(conv), 5).select("conversationId", "text").as[(String, String)].collect().toSeq
    }
    c.log.check(ctxId, ctx.nonEmpty && ctx.forall(_._1 == conv), s"memory.context: rows outside $conv")
    val (hits, tRet, retId) = c.call("retrieve.retrieveFromDb") { _ => retrieval.retrieveFromDb(text, 3) }
    val want = exact.topK(c.model.embed(text), 3)
    c.log.check(retId, hits.size == 3 && hits.zip(want).forall { case (h, (id, s)) =>
      h.text == storedTexts(id.toInt) || math.abs(h.sim - s) < 1e-5 },
      "retrieve.retrieveFromDb: differs from the exact top-3")
    // the hot keys set-up cached all hit, the turn's fresh keys all
    // miss: half of every turn's lookups hit, whatever the seed
    val keys = (0 until hotKeys).map(i => s"k$i") ++ (0 until freshPerTurn).map(i => s"f$t-$i")
    lookups += keys.size
    val (memo, tMemo, memoId) = c.call("cache.memoize") { _ =>
      cache.memoize(keys.toDF("key"), Fetch.fn).as[(String, String)].collect().toSeq
    }
    c.log.check(memoId, memo.size == keys.size && memo.map(_._1).toSet == keys.toSet &&
      memo.forall { case (k, v) => v == Fetch.value(k) }, "cache.memoize: wrong values")
    c.log.check(memoId, keys.forall(k => Option(Fetch.counts.get(k)).forall(_ <= 1)),
      "cache.memoize: a cached key was fetched again")
    val chunks = (ctx.map(_._2) ++ hits.map(_.text)).zipWithIndex.map { case (s, i) =>
      MrChunk(s"turn-$t", Wrap.FileChunk, i, i + 1, s, i.toLong)
    }
    val (answer, tMr, mrId) = c.call("mapreduce.run") { _ =>
      engine.run(c.spark, c.spark.createDataset(chunks), MrTemplates.DefaultQuestion)
    }
    c.log.check(mrId, answer == engine.runLocal(chunks, MrTemplates.DefaultQuestion),
      "mapreduce.run: differs from runLocal")
    val (_, tOut, _) = c.call("memory.append") { _ =>
      memory.append(s"a$t", conv, "assistant", answer.take(400), ts + 1)
    }
    var background = 0.0
    if (t % addEvery == 0) {
      val docs = (0 until addDocs).map(_ => gen.paragraph(gen.nextTopic(), 24))
      val base = storedTexts.size
      background = c.call("retrieve.batchAdd") { _ =>
        retrieval.batchAdd(docs.zipWithIndex.map { case (d, i) => (s"doc${base + i}", d) })
      }._2
      add(docs)
    }
    Round(tIn + tCtx + tRet + tMemo + tMr + tOut + background,
      Seq(Seq(tRet), Seq(tMemo), Seq(tMr)), 1L, background)
  }

  def finish(): Unit = {
    val fetches = Fetch.counts.values().stream().mapToLong(_.longValue).sum() - setupFetches
    c.log.report("cache_hit_ratio") = if (lookups > 0) 1.0 - fetches.toDouble / lookups else 0.0
    c.log.report("cache_lookups") = lookups
    c.log.report("cache_fetches") = fetches
    c.harness {
      val id = c.log.op()
      val n = store.count()
      c.log.check(id, n == storedTexts.size, s"rag_session: store holds $n rows, added ${storedTexts.size}")
    }
  }

  def storedBytes: Long = c.bytesUnder(dir)
  def inputBytes: Long = input
}
