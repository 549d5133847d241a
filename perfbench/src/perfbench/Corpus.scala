package perfbench

import graft.embed.EmbeddingModel

/** The generator's and the engine calls' shared sizes: one place, so
  * the corpus, the embedder, the calls and the witness agree.
  */
object Gen {
  val Topics = 200
  val Vocab = 20000
  /** Share of a paragraph's tokens drawn from its own topic. */
  val PTopic = 0.5
  val Dim = 64
  /** Weight of each token's own direction against its topic centroid. */
  val TermNoise = 2.0
  val Nlist = 64
  val Nprobe = 8
  val KCand = 50
  val K = 10
  val Batch = 16

  def sizes: Map[String, Any] = Map("topics" -> Topics, "vocab" -> Vocab, "p_topic" -> PTopic,
    "dim" -> Dim, "nlist" -> Nlist, "nprobe" -> Nprobe, "kCand" -> KCand, "k" -> K,
    "batch" -> Batch)
}

/** Seeded topic-mixture text: the only input the engine sees.
  *
  * Terms are `w<id>` (five digits) for id in [0, Vocab); term `id` belongs to topic
  * `id % Topics`. A paragraph of topic z draws each token from z's
  * terms with probability `PTopic`, otherwise from the whole
  * vocabulary, so paragraphs of one topic share terms (BM25 has
  * matches) and their embeddings cluster (IVF probing matters) while
  * the background share keeps the clusters overlapping (recall < 1).
  */
final class Corpus(seed: Long) {
  import Gen._
  private val rng = new java.util.Random(seed)
  private val termsPerTopic = Vocab / Topics

  def nextTopic(): Int = rng.nextInt(Topics)

  def paragraph(topic: Int, len: Int): String = {
    val sb = new java.lang.StringBuilder(len * 7)
    var i = 0
    while (i < len) {
      val term =
        if (rng.nextDouble() < PTopic) rng.nextInt(termsPerTopic) * Topics + topic
        else rng.nextInt(Vocab)
      if (i > 0) sb.append(' ')
      // fixed-width terms: text lengths, and so chunk packing, depend
      // on the token count only, not on which terms the seed drew
      sb.append(f"w$term%05d")
      i += 1
    }
    sb.toString
  }

  def nextInt(n: Int): Int = rng.nextInt(n)
}

/** Deterministic topic-aware embedding: each `w<id>` token adds its
  * topic's centroid plus a per-term direction; other tokens add only a
  * per-token direction. The model is fixed (independent of the run
  * seed), like an external embedding model would be.
  */
final class TopicEmbedding extends EmbeddingModel {
  import Gen.{Dim, TermNoise, Topics}
  val dim: Int = Dim
  @transient private lazy val centroids: Array[Array[Double]] =
    Array.tabulate(Topics)(t => TopicEmbedding.unit(0x5eedL * 1000003L + t, Dim))

  override def embed(text: String): Array[Float] = {
    val acc = new Array[Double](Dim)
    text.split(' ').foreach { tok =>
      if (tok.nonEmpty) {
        val id = TopicEmbedding.termId(tok)
        if (id >= 0) {
          val c = centroids(id % Topics)
          var i = 0
          while (i < Dim) { acc(i) += c(i); i += 1 }
        }
        val h = TopicEmbedding.unit(TopicEmbedding.fnv(tok), Dim)
        var i = 0
        while (i < Dim) { acc(i) += TermNoise * h(i); i += 1 }
      }
    }
    val norm = math.sqrt(acc.map(x => x * x).sum)
    acc.map(x => (if (norm > 0) x / norm else 0.0).toFloat)
  }
}

object TopicEmbedding {
  /** `w<digits>` → digits, else -1. */
  def termId(tok: String): Int =
    if (tok.length > 1 && tok.charAt(0) == 'w' && tok.substring(1).forall(_.isDigit))
      tok.substring(1).toInt
    else -1

  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
    h
  }

  /** splitmix64 stream from `seed` → uniform [-1, 1) components → unit vector. */
  def unit(seed: Long, dim: Int): Array[Double] = {
    var s = seed
    val v = Array.fill(dim) {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}

/** Exact cosine top-k over unit vectors, in plain JVM code: the
  * reference the approximate and exact engine paths are checked
  * against. Ties break on the smaller id, as the engine's searches do.
  */
final class ExactIndex {
  private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]

  def add(id: Long, v: Array[Float]): Unit = { ids += id; vecs += v }

  def topK(q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < ids.size) {
      val v = vecs(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j).toDouble * q(j); j += 1 }
      heap.enqueue((s, ids(i)))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    val best: Seq[(Double, Long)] = heap.dequeueAll
    best.reverse.map { case (s, id) => (id, s) }
  }
}
