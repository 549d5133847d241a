package graft.memory

import graft.core.Schemas
import graft.core.Schemas.Message
import graft.embed.EmbeddingModel
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.math.{MathContext, RoundingMode}

/** Conversation memory: one message DataFrame replacing the
  * reference's SQLite+Qdrant dual store
  * (reference vector_service/app.py:38-48,127-139; the dual-write
  * consistency problem disappears by construction — SURVEY.md §7.4.4).
  *
  * Operators:
  *  - M1 `append` = `save_message` (app.py:189-237): role-validated,
  *    embeds the text, single append;
  *  - M2 `context` = `/context` (app.py:239-277): embed the query,
  *    optional conversation filter applied BEFORE the top-k (the
  *    pushdown Qdrant does internally, P6), cosine-desc top-k with
  *    payload columns;
  *  - A5 `lastN` = the last-20 history window (app.py:341-349);
  *  - P5 `history`, S18 `export`, M5 `deleteConversation`
  *    (app.py:279-331);
  *  - M3 `contextPrompt`/`injectContext` = the context-injection
  *    assembly (frontend.py:223-269): snippets newline-flattened,
  *    truncated at 512 chars ("509 + ..."), scores formatted `.3f`,
  *    system message placed at position [-2].
  */
final class MessageLog(val spark: SparkSession, val embedder: EmbeddingModel) {
  import spark.implicits._

  // the log is `base` (the pinned snapshot, plus any later deletes
  // as lazy filters) followed by `tail`, the messages appended since
  // the last compact, held on the driver
  private var base: DataFrame = spark.emptyDataset[Message].toDF()
  private val tail = scala.collection.mutable.ArrayBuffer.empty[Message]
  private var view: Option[DataFrame] = None
  // the live compact snapshot — released when the NEXT compact
  // supersedes it, or a long-lived log accumulates one dead
  // log-sized block set per 32 appends (the Pinned.scala leak
  // class). Only this internal snapshot is ever released; frames
  // handed out between compacts keep their own lineage. A caller
  // holding [[df]] across 32+ appends must re-read it.
  private var compactPin: Option[DataFrame] = None

  /** The whole log: `base ∪ one LocalRelation(tail)`, built once per
    * change and reused by every reader until the next append, delete
    * or load — so a query's plan has two children whatever the
    * number of appends since the last compact. Synchronized with the
    * writers, so a reader never copies a tail being appended to (the
    * streaming ingest appends from its own thread).
    */
  def df: DataFrame = synchronized {
    view.getOrElse {
      val v = if (tail.isEmpty) base else base.unionByName(tail.toSeq.toDF())
      view = Some(v)
      v
    }
  }

  private def replace(b: DataFrame): Unit = {
    base = b
    tail.clear()
    view = None
  }

  /** When the driver-side tail reaches 32 messages, pin the whole log
    * with partitions sized by bytes ([[graft.core.Pinned.compact]])
    * and empty the tail: the plan stays two children deep and a scan
    * runs a few tasks however long the conversation, where a
    * per-append union would add a plan node and a partition per
    * message.
    */
  private def maybeCompact(): Unit =
    if (tail.size >= 32) {
      val fresh = graft.core.Pinned.compact(df)
      compactPin.foreach(graft.core.Pinned.release)
      compactPin = Some(fresh)
      replace(fresh)
    }

  /** M1: validate → embed → append (app.py:189-237). Role outside
    * {user, assistant} is an error (app.py:195-197). The message joins
    * the driver-side tail (at most 32 rows) — no Spark work until the
    * tail is compacted.
    */
  def append(id: String, conversationId: String, role: String, text: String,
             timestamp: Long): Unit = {
    require(Schemas.ServiceRoles.contains(role),
      s"role must be one of ${Schemas.ServiceRoles.mkString("/")}, got $role")
    val msg = Message(id, conversationId, role, text, timestamp, embedder.embed(text))
    synchronized {
      tail += msg
      view = None
      maybeCompact()
    }
  }

  /** M2: filtered cosine top-k with payload (app.py:239-277). */
  def context(query: String, conversationId: Option[String] = None,
              topK: Int = 5): DataFrame = {
    val qv = embedder.embed(query)
    conversationId.fold(df)(c => df.where($"conversationId" === c))
      .select(cosineSimD($"vector", vecLit(qv)).as("score"),
        $"id", $"conversationId", $"role", $"text", $"timestamp")
      .orderBy($"score".desc, $"timestamp".asc, $"id".asc)
      .limit(topK)
  }

  /** P5: history with limit (app.py:279-298, default limit 200). */
  def history(conversationId: String, limit: Int = 200): DataFrame =
    df.where($"conversationId" === conversationId)
      .orderBy($"timestamp".asc, $"id".asc).limit(limit)
      .select($"id", $"role", $"text", $"timestamp")

  /** A5: last-N window in chronological order (app.py:341-349). */
  def lastN(conversationId: String, n: Int = 20): DataFrame =
    df.where($"conversationId" === conversationId)
      .orderBy($"timestamp".desc, $"id".desc).limit(n)
      .orderBy($"timestamp".asc, $"id".asc)
      .select($"role", $"text", $"timestamp")

  /** S18: ordered export (app.py:316-331). */
  def export(conversationId: String): DataFrame =
    df.where($"conversationId" === conversationId)
      .orderBy($"timestamp".asc, $"id".asc)
      .select($"id", $"role", $"text", $"timestamp")

  /** M5/J2: conversation delete — a single anti-filter rewrite where
    * the reference needed a cross-store semi-join (app.py:300-314).
    * The filter covers the tail too, so the tail joins `base`.
    */
  def deleteConversation(conversationId: String): Unit = synchronized {
    replace(df.where($"conversationId" =!= conversationId))
  }

  /** M3: context-injection prompt (frontend.py:242-257), verbatim. */
  def contextPrompt(results: Seq[(String, Option[Double], String)]): Option[String] = {
    if (results.isEmpty) return None
    val lines = scala.collection.mutable.ArrayBuffer(
      "You have access to the following retrieved conversation snippets. " +
        "Use them to ground your response when relevant.")
    results.zipWithIndex.foreach { case ((role, score, text0), i) =>
      val flat = text0.replace('\n', ' ').trim
      val text = if (flat.length > 512) flat.substring(0, 509) + "..." else flat
      val header = role + score.fold("")(s => s" (score=${fmt3(s)})")
      lines += s"${i + 1}. $header: $text"
    }
    lines += "If none of the snippets apply, continue normally."
    Some(lines.mkString("\n"))
  }

  /** M3: place the synthetic system message at [-2]
    * (frontend.py:259-269).
    */
  def injectContext(session: Seq[(String, String)],
                    prompt: Option[String]): Seq[(String, String)] =
    prompt match {
      case Some(p) if session.nonEmpty && session.last._1 == Schemas.RoleUser =>
        session.init :+ (Schemas.RoleSystem -> p) :+ session.last
      case _ => session
    }

  /** Python `f'{x:.3f}'` (round-half-even). */
  private def fmt3(x: Double): String =
    new java.math.BigDecimal(x).setScale(3, RoundingMode.HALF_EVEN).toPlainString

  def load(path: String): Unit = synchronized { replace(spark.read.parquet(path)) }
  def save(path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** M4 `/generate` (app.py:333-356): last-20 history joined as
    * `role: text` lines + the user prompt, through the functor, the
    * reply persisted as an assistant message. NOTE the reference quirk
    * reproduced: the USER prompt itself is not persisted by /generate —
    * only the assistant reply is.
    */
  def generate(conversationId: String, prompt: String,
               functor: graft.mapreduce.TextFunctor,
               replyId: String, replyTimestamp: Long): String = {
    val hist = lastN(conversationId, 20).collect()
      .map(r => s"${r.getAs[String]("role")}: ${r.getAs[String]("text")}")
      .mkString("\n")
    val full = s"$hist\nuser: $prompt\nassistant:"
    val reply = functor(full)
    append(replyId, conversationId, Schemas.RoleAssistant, reply, replyTimestamp)
    reply
  }

  /** Structured Streaming ingestion (SURVEY.md §7.1 item 10): watch a
    * directory of message JSON-lines files, embed each message on
    * arrival, append into the log via `foreachBatch` — the streaming
    * twin of M1 `append`. Returns the query; stop it to finish.
    * Batch reads (`context`, `history`, `export`) work unchanged on
    * the accumulating table.
    */
  def streamIngest(dir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("conversationId", StringType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("timestamp", LongType)))
    val emb = embedder
    val self = this
    spark.readStream.schema(schema).json(dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect() // message batches are small (chat-rate)
        self.synchronized {
          rows.foreach { r =>
            self.append(r.getAs[String]("id"), r.getAs[String]("conversationId"),
              r.getAs[String]("role"), r.getAs[String]("text"),
              r.getAs[Long]("timestamp"))
          }
        }
      }
      .start()
  }
}
