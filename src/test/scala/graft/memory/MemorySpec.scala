package graft.memory

import graft.SparkTestBase
import graft.cache.TtlCache
import graft.embed.LengthEmbedding

/** Ports the conversation-memory fixtures (tests/test_vector_service.py:
  * 86-162) and the context-injection contract
  * (tests/test_frontend.py:86-120), plus cache dict-protocol coverage
  * (tests/test_cache.py:24-183).
  */
class MemorySpec extends SparkTestBase {

  test("save → context flow with FakeEmbedder semantics") {
    val log = new MessageLog(spark, LengthEmbedding)
    log.append("m1", "conv-1", "user", "hello world", 1700000000L)
    val ctx = log.context("hello", Some("conv-1"), topK = 5).collect()
    assert(ctx.length == 1)
    val row = ctx.head
    assert(row.getAs[String]("text") == "hello world")
    assert(row.getAs[String]("role") == "user")
    assert(row.getAs[String]("conversationId") == "conv-1")
  }

  test("role outside {user, assistant} rejected (app.py:195-197)") {
    val log = new MessageLog(spark, LengthEmbedding)
    intercept[IllegalArgumentException](
      log.append("m1", "c", "system", "x", 0L))
  }

  test("conversation filter applies before top-k (P6)") {
    val log = new MessageLog(spark, LengthEmbedding)
    log.append("m1", "conv-1", "user", "aaaaa", 1L)
    log.append("m2", "conv-2", "user", "aaaaa", 2L)
    val ctx = log.context("aaaaa", Some("conv-2"), topK = 10).collect()
    assert(ctx.map(_.getAs[String]("id")).toSeq == Seq("m2"))
  }

  test("lastN returns chronological tail (app.py:341-349)") {
    val log = new MessageLog(spark, LengthEmbedding)
    (1 to 30).foreach(i =>
      log.append(s"m$i", "c", if (i % 2 == 0) "assistant" else "user", s"t$i", i.toLong))
    val last = log.lastN("c", 20).collect()
    assert(last.length == 20)
    assert(last.head.getAs[Long]("timestamp") == 11L)
    assert(last.last.getAs[Long]("timestamp") == 30L)
  }

  test("deleteConversation removes only that conversation (M5/J2)") {
    val log = new MessageLog(spark, LengthEmbedding)
    log.append("m1", "c1", "user", "x", 1L)
    log.append("m2", "c2", "user", "y", 2L)
    log.deleteConversation("c1")
    assert(log.export("c1").count() == 0)
    assert(log.export("c2").count() == 1)
  }

  test("context injection: system message at [-2], 512-char truncation, cleared contract") {
    val log = new MessageLog(spark, LengthEmbedding)
    val longText = "z" * 600
    val prompt = log.contextPrompt(Seq(
      ("user", Some(0.87654), "hello\nworld"),
      ("assistant", None, longText))).get
    val lines = prompt.split("\n")
    assert(lines.head.startsWith("You have access to the following retrieved"))
    assert(lines(1) == "1. user (score=0.877): hello world")
    assert(lines(2).startsWith("2. assistant: " + "z" * 509 + "..."))
    assert(lines(2).length == "2. assistant: ".length + 512)
    assert(lines.last == "If none of the snippets apply, continue normally.")
    val session = Seq("system" -> "sys", "user" -> "q1",
      "assistant" -> "a1", "user" -> "q2")
    val injected = log.injectContext(session, Some(prompt))
    assert(injected.length == 5)
    assert(injected(injected.length - 2) == ("system" -> prompt))
    assert(injected.last == ("user" -> "q2"))
    // no injection when last turn isn't user
    assert(log.injectContext(session.init, Some(prompt)) == session.init)
  }

  test("long conversations stay responsive (plan compaction over 100 appends)") {
    val log = new MessageLog(spark, LengthEmbedding)
    (1 to 100).foreach(i => log.append(s"m$i", "long", "user", s"msg $i", i.toLong))
    val t0 = System.nanoTime()
    assert(log.lastN("long", 20).count() == 20)
    assert(log.context("msg", Some("long"), topK = 3).count() == 3)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"queries over a long log took ${secs}s — plan growth?")
  }

  test("M4 generate: last-20 history + prompt through functor, reply persisted") {
    val log = new MessageLog(spark, LengthEmbedding)
    log.append("m1", "c1", "user", "hi", 1L)
    log.append("m2", "c1", "assistant", "hello", 2L)
    var seen: String = null
    val reply = log.generate("c1", "how are you?",
      (p: String) => { seen = p; "fine" }, "m3", 3L)
    assert(reply == "fine")
    assert(seen == "user: hi\nassistant: hello\nuser: how are you?\nassistant:")
    val exported = log.export("c1").collect()
    assert(exported.length == 3)
    assert(exported.last.getAs[String]("role") == "assistant")
    assert(exported.last.getAs[String]("text") == "fine")
  }

  test("retrieve_onfly: temporary-source triples without touching the store (retrieval.py:59-83)") {
    val store = new graft.store.VectorStore(spark,
      java.nio.file.Files.createTempDirectory("onfly").toString + "/s", 32)
    val ret = new graft.retrieve.Retrieval(spark,
      graft.embed.HashEmbedding(32), store)
    val docs = Seq("spark joins", "cat memes", "spark joins again")
    val hits = ret.retrieveOnfly("spark joins", docs, topk = 2)
    assert(hits.length == 2)
    assert(hits.forall(_.source == "<temporary>"))
    assert(hits.head.text == "spark joins")
    assert(math.abs(hits.head.sim - 1.0) < 1e-5)
    assert(store.count() == 0)
  }

  test("streaming ingest: files appear → messages embedded + queryable (M1 streaming twin)") {
    val log = new MessageLog(spark, LengthEmbedding)
    val dir = java.nio.file.Files.createTempDirectory("msg_stream")
    java.nio.file.Files.writeString(dir.resolve("batch1.json"),
      """{"id":"m1","conversationId":"c1","role":"user","text":"hello world","timestamp":100}
        |{"id":"m2","conversationId":"c1","role":"assistant","text":"hi","timestamp":110}""".stripMargin)
    val q = log.streamIngest(dir.toString)
    try q.processAllAvailable() finally q.stop()
    assert(log.export("c1").count() == 2)
    val ctx = log.context("hello", Some("c1"), topK = 1).collect()
    assert(ctx.head.getAs[String]("id") == "m1")
  }

  test("cache: put/get/delete/contains/size/clear + TTL purge") {
    val c = new TtlCache(spark, ttlDays = 30)
    c.put("k1", "v1")
    c.put("k2", "v2")
    assert(c.size() == 2)
    assert(c.get("k1").contains("v1"))
    assert(c.contains("k2"))
    c.put("k1", "v1b") // upsert
    assert(c.size() == 2)
    assert(c.get("k1").contains("v1b"))
    c.delete("k2")
    assert(!c.contains("k2"))
    val old = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    c.put("stale", "x", old)
    c.purgeExpired()
    assert(!c.contains("stale"))
    assert(c.contains("k1"))
    c.clear()
    assert(c.size() == 0)
  }

  test("cache putAll: bulk last-wins upsert, stamped at insert") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.put("a", "old_a")
    c.putAll(spark.createDataset(Seq(
      ("a", "new_a"), ("b", "v_b"), ("b", "v_b"))).toDF("key", "value"))
    assert(c.size() == 2)
    assert(c.get("a").contains("new_a")) // bulk row wins over existing
    assert(c.get("b").contains("v_b"))
    // bulk-inserted entries expire like put ones
    c.purgeExpired(new java.sql.Timestamp(
      System.currentTimeMillis() + 100L * 24 * 3600 * 1000))
    assert(c.size() == 0)
  }

  test("cache memoize: misses fetched exactly once, hits served from table") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.put("a", "cached_a")
    val calls = spark.sparkContext.longAccumulator("fetches")
    val keys = spark.createDataset(Seq("a", "b")).toDF("key")
    val result = c.memoize(keys, k => { calls.add(1); s"fetched_$k" })
    val out = result.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "cached_a", "b" -> "fetched_b"))
    assert(c.get("b").contains("fetched_b"))
    // re-evaluating the returned frame and the table must NOT re-fetch
    result.collect()
    c.df.count()
    c.memoize(keys, k => { calls.add(1); s"refetched_$k" }).collect()
    assert(calls.value == 1, s"fetch ran ${calls.value} times")
    assert(c.get("b").contains("fetched_b"))
  }

  test("cache memoize: insert-time stamp is fixed, so entries can expire") {
    import spark.implicits._
    val c = new TtlCache(spark)
    val keys = spark.createDataset(Seq("m")).toDF("key")
    c.memoize(keys, k => s"v_$k")
    val stamp1 = c.df.where($"key" === "m")
      .select($"stamp").as[java.sql.Timestamp].head()
    Thread.sleep(30)
    val stamp2 = c.df.where($"key" === "m")
      .select($"stamp").as[java.sql.Timestamp].head()
    // a lazy current_timestamp() would drift between evaluations
    assert(stamp1 == stamp2, s"stamp drifted: $stamp1 -> $stamp2")
    // and a drifting stamp could never age past the TTL cutoff
    c.purgeExpired(new java.sql.Timestamp(
      System.currentTimeMillis() + 100L * 24 * 3600 * 1000))
    assert(!c.contains("m"))
  }

  test("cache memoize: hits never reach the fetch; duplicate keys give one row each") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.put("a", "cached_a")
    c.put("b", "cached_b")
    val keys = spark.createDataset(Seq("a", "b", "c", "a", "c", "b", "d")).toDF("key")
    val out = c.memoize(keys, k =>
      if (k == "a" || k == "b") throw new IllegalStateException(s"fetched cached key $k")
      else s"fetched_$k").as[(String, String)].collect()
    assert(out.sorted.toSeq == Seq("a" -> "cached_a", "b" -> "cached_b",
      "c" -> "fetched_c", "d" -> "fetched_d"))
    assert(c.size() == 4)
  }

  test("cache memoize: a cached null value is a hit") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.put("n", null)
    val calls = spark.sparkContext.longAccumulator("null_fetches")
    val out = c.memoize(Seq("n").toDF("key"), k => { calls.add(1); s"fetched_$k" })
      .as[(String, String)].collect()
    assert(out.toSeq == Seq("n" -> null))
    assert(calls.value == 0, s"fetch ran ${calls.value} times for a cached null")
  }

  test("cache memoize: re-reading the result and the table runs no further fetch") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.put("hot", "cached")
    val calls = spark.sparkContext.longAccumulator("reread_fetches")
    val result = c.memoize(Seq("hot", "x", "y").toDF("key"),
      k => { calls.add(1); s"fetched_$k" })
    val first = result.as[(String, String)].collect().sorted
    val second = result.as[(String, String)].collect().sorted
    val table = c.df.select($"key", $"value").as[(String, String)].collect().sorted
    assert(first.toSeq == second.toSeq)
    assert(table.toSeq == Seq("hot" -> "cached", "x" -> "fetched_x", "y" -> "fetched_y"))
    assert(calls.value == 2, s"fetch ran ${calls.value} times for 2 misses")
  }

  test("cache memoize: one call stamps its fetched rows once, and compaction keeps them") {
    import spark.implicits._
    val c = new TtlCache(spark)
    c.memoize(Seq("p", "q", "r").toDF("key"), k => s"v_$k")
    def stamps() = c.df.where($"key".isin("p", "q", "r"))
      .select($"key", $"stamp").as[(String, java.sql.Timestamp)].collect().toMap
    val before = stamps()
    assert(before.size == 3 && before.values.toSet.size == 1, s"stamps $before")
    Thread.sleep(30)
    (1 to 32).foreach(i => c.memoize(Seq(s"k$i").toDF("key"), k => s"v_$k"))
    assert(stamps() == before, "stamps drifted across reads and a compaction")
  }

  test("compaction: partitions stay few after 100 appends or memoizes; reads unchanged") {
    import spark.implicits._
    val bound = 1 + spark.sparkContext.defaultParallelism
    val log = new MessageLog(spark, LengthEmbedding)
    // equal text lengths tie the scores and paired timestamps tie the
    // time, so the id tie-breaks order the reads
    def msg(i: Int) = log.append(f"m$i%03d", "long",
      if (i % 2 == 0) "user" else "assistant", f"message $i%03d", (i / 2).toLong)
    def reads() = Seq(
      log.context("message 050", Some("long"), topK = 10),
      log.lastN("long", 20), log.history("long", 50), log.export("long"))
      .map(_.collect().toSeq)
    (1 to 63).foreach(msg)
    val before = reads()
    // the 64th append fills the tail and compacts; it joins another
    // conversation, so the reads over "long" must not change
    log.append("z", "other", "user", "elsewhere", 0L)
    assert(reads() == before)
    (64 to 99).foreach(msg)
    assert(log.df.count() == 100)
    assert(log.df.rdd.getNumPartitions <= bound,
      s"${log.df.rdd.getNumPartitions} partitions after 100 appends")

    val c = new TtlCache(spark)
    (1 to 100).foreach(i => c.memoize(Seq("hot", s"k$i").toDF("key"), k => s"v_$k"))
    assert(c.size() == 101)
    assert(c.df.rdd.getNumPartitions <= bound,
      s"${c.df.rdd.getNumPartitions} partitions after 100 memoizes")
    val all = c.memoize(((1 to 100).map(i => s"k$i") :+ "hot").toDF("key"),
      k => throw new IllegalStateException(s"refetched $k"))
    assert(all.as[(String, String)].collect().toMap ==
      ((1 to 100).map(i => s"k$i") :+ "hot").map(k => k -> s"v_$k").toMap)
  }
}
