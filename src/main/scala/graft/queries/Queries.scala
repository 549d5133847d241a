package graft.queries

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's query surface as (SparkSession, sfDir) => DataFrame
  * builders plus, for every SQL-expressible query, an equivalent
  * DuckDB oracle over the same parquet tables.
  *
  * Oracle-parity rules used throughout (so hashes match bit-for-bit):
  *  - money aggregates go through DECIMAL(18,2) → exact, summation
  *    order irrelevant;
  *  - integer-valued double sums (quantities, counts) are exact in
  *    double — no rounding needed;
  *  - vector math folds sequentially in double, mirroring
  *    `list_reduce(list_transform(...))` with explicit DOUBLE casts;
  *  - every query ends in a fully deterministic ORDER BY;
  *  - result column names and types are aligned (BIGINT for counts,
  *    sizes and row_numbers).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet's ts has shipped as TIMESTAMP(NANOS) (which
    // Spark's vectorized reader rejects — read nanos as long,
    // truncate to micros like DuckDB does) and as naive micros (which
    // Spark reads as TIMESTAMP_NTZ — no event-time arithmetic or
    // watermarks). Normalize both to TimestampType; the session runs
    // UTC, so the NTZ cast re-tags the same wall-clock instant the
    // oracle reads, identical to what the NANOS path produced.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else if (f.name == "ts" && f.dataType == TimestampNTZType) {
        // instant-preserving only under a UTC session — assert it
        graft.core.Schemas.requireUtcSession(spark)
        acc.withColumn("ts", col("ts").cast(TimestampType))
      } else acc
    }
  }

  /** Money arithmetic as scaled integers: `round(price·100)` are exact
    * cents, discount in percent points; products and sums stay in LONG
    * (codegen'd, order-independent, exact — vs. slow BigDecimal sums),
    * divided back once at the end. Both engines round half-away for
    * positive doubles, so the cents agree bit-for-bit. Scale boundary:
    * the long revenue sum overflows past ~9e18 (≈ 10^10 rows at these
    * prices) — shard the sum (e.g. per-group) or widen to DECIMAL then.
    */
  private def cents: Column = round(col("l_extendedprice") * 100).cast(LongType)
  private def discPts: Column = round(col("l_discount") * 100).cast(LongType)
  /** revenue in basis-point units: cents · (100 - discount%). */
  private def revenueBp: Column = cents * (lit(100L) - discPts)

  private val centsSql = "CAST(round(l_extendedprice * 100) AS BIGINT)"
  private val revenueBpSql =
    s"$centsSql * (100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** The span-surgery oracle (DuckDB replay of decontamSpanScrub at
    * w=8 over the %3 train/eval split) — shared by the one-shot and
    * streamed rows: the scrub is per-doc local, so the streamed
    * union must equal the one-shot pass byte-for-byte.
    */
  private val spanScrubSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |evw AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 6),
      |    i -> array_to_string(ws[i:i+7], ' '))) AS wnd
      |  FROM tok WHERE doc_id % 3 = 0 AND len(ws) >= 8),
      |tr AS (SELECT doc_id, ws FROM tok WHERE doc_id % 3 <> 0),
      |posts AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
      |    i -> struct_pack(pos := i - 1,
      |      wnd := array_to_string(ws[i:i+7], ' ')))) AS s
      |  FROM tr WHERE len(ws) >= 8),
      |dup AS (
      |  SELECT p.doc_id, p.s.pos AS pos
      |  FROM posts p JOIN evw e ON p.s.wnd = e.wnd),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |      <= 8 THEN 0 ELSE 1 END AS b
      |  FROM dup),
      |isl AS (SELECT doc_id, pos,
      |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
      |  FROM isl GROUP BY doc_id, island),
      |toks AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
      |    i -> struct_pack(pos := i - 1, tok := ws[i]))) AS t
      |  FROM tr),
      |kept AS (
      |  SELECT tk.doc_id, tk.t.pos AS pos, tk.t.tok AS tok FROM toks tk
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = tk.doc_id
      |      AND tk.t.pos >= sp.s AND tk.t.pos < sp.e)),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id AS doc, coalesce(r.cleaned, '') AS cleaned
      |FROM tr t LEFT JOIN reb r ON t.doc_id = r.doc_id
      |ORDER BY doc""".stripMargin

  /** DuckDB mirror of the sparse retrieval tier (Sparse.sparsify +
    * topK): active dims ≥ 0.05, fixed-point 1e4 weights, exact
    * integer dot-product scores, doc-id tie-breaks. `pred` restricts
    * the candidate side (the docFilter mirror); queries are
    * vec_id < 4, self-hits excluded, k = 10.
    */
  private def sparseTopkSql(pred: String = "TRUE"): String =
    s"""WITH expl AS (
       |  SELECT vec_id AS doc, unnest(embedding) AS val,
       |    unnest(range(1, len(embedding) + 1)) AS dim
       |  FROM embeddings),
       |sp AS (
       |  SELECT doc, dim,
       |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
       |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05)
       |SELECT qid, nid, score, rk FROM (
       |  SELECT q.doc AS qid, p.doc AS nid,
       |    CAST(sum(q.w * p.w) AS BIGINT) AS score,
       |    row_number() OVER (PARTITION BY q.doc
       |      ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
       |  FROM sp q JOIN sp p USING (dim)
       |  WHERE q.doc < 4 AND p.doc <> q.doc AND ($pred)
       |  GROUP BY q.doc, p.doc)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** DuckDB mirror of RangeSearch.search over the fixture: every
    * (qid < 4, nid) pair with cosine ≥ 0.3, self-hits excluded —
    * exact brute force, which is precisely the range-search contract.
    */
  private def rangeSearchSql(pred: String = "TRUE"): String =
    s"""WITH p AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS nid,
       |    ${cosSql("q.embedding", "e.embedding")} AS sim
       |  FROM embeddings q, embeddings e
       |  WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id AND ($pred))
       |SELECT qid, nid, round(sim, 6) AS sim FROM p
       |WHERE sim >= 0.3 ORDER BY qid, nid""".stripMargin

  /** DuckDB mirror of MultiVector.lateTopK over the fixture: docs =
    * vec_id // 4 groups, queries = the first four vectors as two
    * 2-vector groups, per-pair cosines fixed-pointed at 1e9 before
    * the integer max/sum, the query's own source doc excluded.
    */
  private def multivecSql(pred: String = "TRUE"): String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id // 2 AS qid, q.vec_id AS qv,
       |    e.vec_id // 4 AS doc,
       |    CAST(round(${cosSql("q.embedding", "e.embedding")}
       |      * 1000000000) AS BIGINT) AS c
       |  FROM embeddings q, embeddings e
       |  WHERE q.vec_id < 4),
       |mx AS (SELECT qid, qv, doc, max(c) AS m FROM pairs GROUP BY 1, 2, 3),
       |sc AS (SELECT qid, doc, CAST(sum(m) AS BIGINT) AS score FROM mx
       |       GROUP BY 1, 2 HAVING doc <> qid // 2 AND ($pred))
       |SELECT qid, doc, score,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc) AS rk
       |FROM sc QUALIFY rk <= 5 ORDER BY qid, rk""".stripMargin

  /** [[multivecSql]] replayed under both tombstone stages (masked
    * serve, post-fold serve) — the decoys never appear in the mirror,
    * so BOTH stages must equal the decoy-free brute force.
    */
  private def multivecStagedSql: String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id // 2 AS qid, q.vec_id AS qv,
       |    e.vec_id // 4 AS doc,
       |    CAST(round(${cosSql("q.embedding", "e.embedding")}
       |      * 1000000000) AS BIGINT) AS c
       |  FROM embeddings q, embeddings e
       |  WHERE q.vec_id < 4),
       |mx AS (SELECT qid, qv, doc, max(c) AS m FROM pairs GROUP BY 1, 2, 3),
       |sc AS (SELECT qid, doc, CAST(sum(m) AS BIGINT) AS score FROM mx
       |       GROUP BY 1, 2 HAVING doc <> qid // 2),
       |base AS (
       |  SELECT qid, doc, score,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc) AS rk
       |  FROM sc QUALIFY rk <= 5)
       |SELECT 'masked' AS stage, qid, doc, score, rk FROM base
       |UNION ALL
       |SELECT 'folded' AS stage, qid, doc, score, rk FROM base
       |ORDER BY stage, qid, rk""".stripMargin

  /** DuckDB fragment: cosine similarity of two FLOAT[] columns with
    * sequential double accumulation (bit-equal to CosineSimD).
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
       |  * sqrt(list_reduce(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))))""".stripMargin

  // ===================================================== analytics =====

  val analytics: Map[String, Q] = Map(
    "q1_agg" -> ((s, d) => {
      tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(cents) / lit(100.0)).as("sum_base_price"),
          (sum(revenueBp) / lit(10000.0)).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_topn_revenue" -> ((s, d) => {
      val c = tbl(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, d, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val l = tbl(s, d, "lineitem")
        .where(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(revenueBp) / lit(10000.0)).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_nation_revenue" -> ((s, d) => {
      val l = tbl(s, d, "lineitem")
      val o = tbl(s, d, "orders")
      val c = tbl(s, d, "customer")
      val n = tbl(s, d, "nation")
      val r = tbl(s, d, "region")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg((sum(revenueBp) / lit(10000.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_window_running" -> ((s, d) => {
      // restricted to half the suppliers: DuckDB's PARALLEL window
      // aggregation returns nondeterministically wrong cells on this
      // query above ~300k rows (single-threaded is always stable, and
      // Spark's result matches it) — keep the oracle below the bug's
      // threshold
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "lineitem")
        .where(col("l_suppkey") <= 50)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), sum(col("l_quantity")).over(w).as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    }),

    "q6_forecast" -> ((s, d) =>
      // TPC-H Q6 shape: single-scan filter + agg, fully codegen'd,
      // predicates pushed to the parquet reader
      tbl(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg((sum(cents * discPts) / lit(10000.0)).as("promo_revenue"),
          count(lit(1)).as("n"))),

    "q_window_range_frame" -> ((s, d) => {
      // trailing-7-day RANGE frame: peers included by value, so the
      // result is deterministic even with same-day ties
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("ship_us"))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      tbl(s, d, "lineitem")
        .where(col("l_suppkey") <= 3)
        .withColumn("ship_us",
          unix_micros(col("l_shipdate").cast(TimestampType)))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), sum(col("l_quantity")).over(w).as("qty_7d"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
    }),

    "q_topn_orders" -> ((s, d) =>
      tbl(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "events_json_agg" -> ((s, d) =>
      tbl(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"))
        .orderBy(col("event_type"))),

    "events_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
      val brk = when(gap.isNull || gap > lit(1800L * 1000000L), lit(1)).otherwise(lit(0))
      val sid = sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      tbl(s, d, "events")
        .withColumn("sid", sid)
        .groupBy(col("user_id"))
        .agg(countDistinct(col("sid")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    "events_hourly" -> ((s, d) =>
      tbl(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))),

    "cache_ttl_purge" -> ((s, d) => {
      val ev = tbl(s, d, "events")
      val mx = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .where(col("ts") >= col("mx") - expr("INTERVAL 7 DAYS"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    "cache_memoize" -> ((s, d) => {
      // the enable_cache read-through contract (reader.py:157-175 +
      // cache.py:66-142 dict protocol): seeded keys return their
      // cached value untouched, misses run the fetch and are APPENDED
      // to the cache. Pass 1 memoizes over half-seeded keys; pass 2
      // re-memoizes the same keys with a POISONING fetcher — if the
      // append didn't happen, pass 2's values read 'REFETCHED:' and
      // the oracle hash catches it.
      val docs = tbl(s, d, "documents")
      val cache = new graft.cache.TtlCache(s)
      cache.putAll(docs.where(col("doc_id") < 20 && col("doc_id") % 2 === 0)
        .select(concat(lit("k"), col("doc_id")).as("key"),
          concat(lit("cached:"), col("doc_id")).as("value")))
      val keys = docs.where(col("doc_id") < 20)
        .select(concat(lit("k"), col("doc_id")).as("key"))
      val pass1 = cache.memoize(keys, k => "fetched:" + k)
        .withColumn("pass", lit(1))
      val pass2 = cache.memoize(keys, k => "REFETCHED:" + k)
        .withColumn("pass", lit(2))
      pass1.unionByName(pass2).select(col("pass"), col("key"), col("value"))
        .orderBy(col("pass"), col("key"))
    }),

    "ingest_url" -> ((s, d) => {
      // S5 read_url through the main-scope FixtureFetcher (zero-egress
      // environment): HTML strip + entity decode + blank-line squeeze,
      // driver-oracled against the expected text
      val reg = new graft.ingest.SourceRegistry(s,
        graft.ingest.FixtureFetcher(Map(
          "https://example.test/doc" ->
            ("<html><head><title>T</title><style>p{}</style></head>" +
              "<body><h1>Header</h1><p>Hello &amp; goodbye.</p>" +
              "<p>Second &lt;para&gt;.</p></body></html>"))))
      reg.readUrl("https://example.test/doc").toDF()
        .select(col("path"), col("content"))
    }),

    "ingest_sbuild" -> ((s, d) => {
      // S14 read_sbuild: newest *.build by mtime (A6 max-by), sliced
      // between the Build/Changes box markers (F11)
      val dir = graft.core.Scratch.dir("sbuild_q")
      val old = dir.resolve("old.build")
      val newer = dir.resolve("new.build")
      java.nio.file.Files.writeString(old,
        "x\n+--+\n| Build |\n+--+\nOLD BODY\n+--+\n| Changes |\n+--+\n")
      java.nio.file.Files.writeString(newer,
        "x\n+--+\n| Build |\n+--+\nNEW BODY\n+--+\n| Changes |\n+--+\n")
      java.nio.file.Files.setLastModifiedTime(old,
        java.nio.file.attribute.FileTime.fromMillis(1000000L))
      new graft.ingest.SourceRegistry(s)
        .read(s"sbuild:$dir/*.build").toDF()
        .select(col("content"))
    }),

    "ingest_debian" -> ((s, d) => {
      // S7 (bts bug + src), S8/S9 (ldo thread fan-out with next-page
      // recursion), S11 (archwiki) through one FixtureFetcher — the
      // Debian source family driver-oracled in a single dispatch sweep
      val reg = new graft.ingest.SourceRegistry(s,
        graft.ingest.FixtureFetcher(Map(
          "https://bugs.debian.org/12345" ->
            ("<html><body><h1>Bug #12345</h1>\n" +
              "<p class=\"msgreceived\">system noise</p>\n" +
              "<p>real content line</p></body></html>"),
          "https://bugs.debian.org/src:foo" ->
            ("<html><body><p>src page header</p>\n<p>useful line</p>\n" +
              "<p>Options</p>\n<p>useless tail</p></body></html>"),
          "https://wiki.archlinux.org/title/Tar" ->
            "<html><body><p>tar archives   </p></body></html>",
          "https://lists.debian.org/debian-ai/2024/10/threads.html" ->
            "<html><body><a href=\"msg00009.html\">t0</a></body></html>",
          "https://lists.debian.org/debian-ai/2024/10/msg00009.html" ->
            "<html><body>october mail</body></html>",
          "https://lists.debian.org/debian-ai/2024/11/threads.html" ->
            ("<html><body><a href=\"msg00001.html\">t1</a>" +
              "<a href=\"threads2.html\">next page</a></body></html>"),
          "https://lists.debian.org/debian-ai/2024/11/threads2.html" ->
            "<html><body><a href=\"msg00002.html\">t2</a></body></html>",
          "https://lists.debian.org/debian-ai/2024/11/msg00001.html" ->
            "<html><body>mail one</body></html>",
          "https://lists.debian.org/debian-ai/2024/11/msg00002.html" ->
            "<html><body>mail two</body></html>")))
      // the ldo spec uses an F10 month RANGE (10:11) — expansion
      // fans out to both months' thread indexes
      Seq("bts:12345", "bts:src:foo", "archwiki:Tar",
          "ldo:debian-ai/2024/10:11")
        .map(sp => reg.read(sp).toDF().select(col("path"), col("content")))
        .reduce(_ unionByName _)
        .orderBy(col("path"))
    }),

    "chunks_union_lastwins" -> ((s, d) => {
      // U1: duplicate-spec chunk union with Python `dict |` semantics
      // — RIGHT (later specOrd) side wins on (path, start, end)
      import s.implicits._
      val a = Seq(
        ("f1", 0L, 10L, "old body", 0L),
        ("f2", 0L, 8L, "only in a", 0L)
      ).toDF("path", "start", "end", "text", "specOrd")
      val b = Seq(
        ("f1", 0L, 10L, "NEW body", 1L),
        ("f3", 0L, 5L, "only in b", 1L)
      ).toDF("path", "start", "end", "text", "specOrd")
      graft.core.SetOps.unionLastWins(Seq(a, b))
        .select(col("path"), col("start"), col("end"), col("text"))
        .orderBy(col("path"))
    }),

    "ingest_retry" -> ((s, d) => {
      // X3: the 3×5s tenacity policy — two failures then success must
      // yield the page with exactly 3 attempts (zero fixture wait)
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val flaky = new graft.ingest.HttpFetcher {
        override def fetch(url: String): String = {
          if (calls.incrementAndGet() < 3)
            throw new java.io.IOException("flaky")
          "<html><body>finally up</body></html>"
        }
        override def fetchWithRetry(url: String, attempts: Int,
                                    waitMs: Long): String =
          super.fetchWithRetry(url, attempts, 0L)
      }
      val reg = new graft.ingest.SourceRegistry(s, flaky)
      import s.implicits._
      val e = reg.readUrl("https://flaky.test/x").collect().head
      Seq((e.path, e.content, calls.get().toLong))
        .toDF("path", "content", "attempts")
    }),

    "gather_ordered" -> ((s, d) => {
      // U2 + the -f prompt assembly (cli.py:222-270): specs consumed
      // in CLI order, each wrapped with its F9 template, ask last —
      // fully deterministic via cmd: specs
      import s.implicits._
      val app = new graft.Graft(s,
        graft.core.Scratch.dir("gi_q").toString + "/store",
        embeddingDim = 32)
      val prompt = app.gatherInformation(
        Seq("cmd:echo one", "cmd:echo two"), ask = Some("what do these say?"))
      Seq(prompt.get).toDF("prompt")
    }),

    "ingest_google" -> ((s, d) => {
      // S10 google search: credential resolution (injected env), API
      // JSON parse via from_json, URL fan-out, HTML strip on results
      val key = "k123"; val cx = "cx456"
      val api = s"${graft.ingest.GoogleSearch.ApiUrl}?key=$key&cx=$cx&q=spark+tuning"
      val reg = new graft.ingest.SourceRegistry(s,
        graft.ingest.FixtureFetcher(Map(
          api -> """{"items": [{"link": "https://r.test/one"}, {"link": "https://r.test/two"}]}""",
          "https://r.test/one" -> "<html><body>first result</body></html>",
          "https://r.test/two" -> "plain text two")),
        env = Map("GOOGLE_SEARCH_API_KEY" -> key, "GOOGLE_CSE_ID" -> cx).get)
      reg.read("google:spark tuning").toDF()
        .select(col("path"), col("content")).orderBy(col("path"))
    }),

    "ingest_pdf" -> ((s, d) => {
      // S2 read_file_pdf through the dispatcher's default PureJvm
      // extractor: a two-page spec-assembled PDF, page-ordered text
      def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
      def streamObj(n: Int, content: String) =
        s"$n 0 obj\n<< /Length ${content.length} >>\n" +
          s"stream\n$content\nendstream\nendobj\n"
      // the high-byte comment line (every real PDF writer emits one)
      // makes the bytes non-UTF-8, which is what routes a .pdf to the
      // extractor instead of the plain-text path (fileContent tries
      // UTF-8 first, like the reference)
      val doc = ("%PDF-1.4\n%âãÏÓ\n" +
        obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
        obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>") +
        obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
        streamObj(4, "BT (Page one.) Tj ET") +
        obj(5, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>") +
        streamObj(6, "BT (Page two.) Tj ET") +
        "trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n9\n%%EOF\n")
        .getBytes("ISO-8859-1")
      val dir = graft.core.Scratch.dir("pdf_q")
      java.nio.file.Files.write(dir.resolve("doc.pdf"), doc)
      new graft.ingest.SourceRegistry(s)
        .read(dir.resolve("doc.pdf").toString).toDF()
        .select(col("content"))
    }),

    "ingest_cmd" -> ((s, d) => {
      // S6 read_cmd through the dispatcher, driver-oracled: command
      // output lines rstripped and joined (reader.py:544-549)
      val reg = new graft.ingest.SourceRegistry(s)
      reg.readCmd("seq 3").toDF().select(col("path"), col("content"))
    }),

    "session_roundtrip" -> ((s, d) => {
      // S16 session dump + F13 JSON encode/decode, driver-oracled:
      // append → dump → load must preserve roles, order, and content
      // bytes (quotes, newlines, unicode) exactly
      val sess = new graft.session.ChatSession(s)
      sess.append("system", "be terse")
      sess.append("user", "line one\nline \"two\" [x]")
      sess.append("assistant", "café \\ backslash")
      val p = graft.core.Scratch.dir("sess_rt")
        .resolve("s.json").toString
      sess.dump(p)
      graft.session.ChatSession.load(s, p)
        .withColumn("role_order",
          when(col("role") === "system", 0)
            .when(col("role") === "user", 1).otherwise(2))
        .orderBy(col("role_order")).drop("role_order")
    }),

    "history_window" -> ((s, d) =>
      tbl(s, d, "events")
        .where(col("user_id") === 7)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(20)
        .select(col("event_id"), col("ts"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))),

    "events_range_join" -> ((s, d) => {
      // range join: clicks within the 5 minutes before each error,
      // same user. Bucketed band join: both sides bucket by the band
      // width and equi-join on (user_id, bucket), with each error
      // expanded to its own and the previous bucket — every
      // band-eligible click is reachable through exactly one
      // equi-match (the click's own bucket), so nothing double-counts
      // and the join never materializes the per-user cross product
      // that a bare user_id equi-join + in-aggregate band filter
      // would (a skewed bot user scales linearly here, not
      // quadratically).
      val bandUs = 300L * 1000000L
      val ev = tbl(s, d, "events")
      val err = ev.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          unix_micros(col("ts")).as("err_us"))
        .withColumn("bkt", explode(array(
          expr(s"err_us div $bandUs"), expr(s"err_us div $bandUs") - 1L)))
      val clk = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("clk_us"))
        .withColumn("bkt", expr(s"clk_us div $bandUs"))
      err.join(clk, Seq("user_id", "bkt"), "left")
        .groupBy(col("err_id"))
        .agg(sum(when(col("clk_us") <= col("err_us") &&
          col("clk_us") > col("err_us") - lit(bandUs), 1L)
          .otherwise(0L)).as("n_recent_clicks"))
        .orderBy(col("err_id"))
    }),

    "q_cube" -> ((s, d) =>
      tbl(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q_asof_join" -> ((s, d) => {
      val ev = tbl(s, d, "events")
      val errors = ev.where(col("event_type") === "error")
      val clicks = ev.where(col("event_type") === "click")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("ts", "click_ts")
      graft.operators.AsOfJoin.asOfLeft(
          errors.select(col("event_id"), col("user_id"), col("ts")),
          clicks.select(col("user_id"), col("click_id"), col("click_ts")),
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "click_ts",
          rightCols = Seq("click_id", "click_ts"),
          // click_ts is tied within a (user_id, ts) group, so ordering
          // by click_id alone equals the full-struct order — same hash,
          // scalar compare.
          tiebreakCol = Some("click_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_id"), col("click_ts"))
        .orderBy(col("event_id"))
    }),

    "q_salted_join" -> ((s, d) => {
      // salted join ≡ plain join (oracle is the unsalted SQL): revenue
      // cents by order priority through a buckets=8 salted lineitem ⋈
      // orders — the explicit skew tool when AQE's thresholds don't
      // trigger
      val li = tbl(s, d, "lineitem").select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val ord = tbl(s, d, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, ord, "l_orderkey", buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue_cents"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_bucketed_join" -> ((s, d) => {
      // bucketed co-located join ≡ plain join (oracle is the plain
      // SQL): customer ⋈ orders on custkey through two
      // bucketBy(8).sortBy tables — at scale the bucketing happens
      // once at ingest and every later join on the key shuffles
      // nothing (BucketingSpec pins the zero-Exchange plan)
      val c = tbl(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = tbl(s, d, "orders").select(col("o_custkey").as("c_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.Bucketing.writeBucketed(c, "graft_bkt_customer",
        "c_custkey", 8)
      graft.operators.Bucketing.writeBucketed(o, "graft_bkt_orders",
        "c_custkey", 8)
      graft.operators.Bucketing.colocatedJoin(s, "graft_bkt_customer",
          "graft_bkt_orders", Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_salted_agg" -> ((s, d) =>
      graft.operators.Skew.saltedAgg(tbl(s, d, "events"),
        keys = Seq("event_type"), buckets = 8,
        aggs = Seq(
          graft.operators.Skew.AggSpec("value", "count", "n"),
          graft.operators.Skew.AggSpec("value", "min", "min_value"),
          graft.operators.Skew.AggSpec("value", "max", "max_value")))
        .orderBy(col("event_type"))),

    "q_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      tbl(s, d, "lineitem")
        .where(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).cast(LongType).as("rn"),
          rank().over(Window.partitionBy(col("l_suppkey"))
            .orderBy(col("l_quantity"))).cast(LongType).as("qty_rank"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          lag(col("l_orderkey"), 1).over(w).as("prev_order"),
          lead(col("l_orderkey"), 1).over(w).as("next_order"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    "q_argmax_supplier" -> ((s, d) => {
      // correlated-subquery shape (max acctbal per nation) as a
      // window max + filter — one shuffle instead of a rescan per row
      val w = Window.partitionBy(col("s_nationkey"))
      tbl(s, d, "supplier")
        .withColumn("mx", max(col("s_acctbal")).over(w))
        .where(col("s_acctbal") === col("mx"))
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    }),

    "q_date_funcs" -> ((s, d) =>
      tbl(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dd"),
        quarter(col("o_orderdate")).cast(LongType).as("q"),
        // Spark weekday(): Monday=0 == DuckDB isodow-1
        weekday(col("o_orderdate")).cast(LongType).as("wd"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
        datediff(col("o_orderdate"),
          lit("1995-01-01").cast(TimestampType)).cast(LongType).as("since"))
        .orderBy(col("o_orderkey"))
        .limit(2000)),

    "q_scalar_funcs" -> ((s, d) =>
      tbl(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("ub"),
        lower(col("p_type")).as("lt"),
        substring(col("p_name"), 1, 5).as("pre"),
        length(col("p_name")).cast(LongType).as("len"),
        regexp_replace(col("p_type"), " ", "_").as("rep"),
        lpad(col("p_size").cast(StringType), 4, "0").as("pad"),
        abs(col("p_retailprice") - 1000.0).as("diff"),
        floor(col("p_retailprice")).as("fl"),
        ceil(col("p_retailprice")).as("ce"),
        (col("p_partkey") % 7).as("md"),
        levenshtein(col("p_brand"), col("p_type")).cast(LongType).as("lev"))
        .orderBy(col("p_partkey"))),

    "q_rollup" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_string_agg" -> ((s, d) =>
      tbl(s, d, "nation")
        .join(broadcast(tbl(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("r_name"))),

    "q_outer_join" -> ((s, d) => {
      val c = tbl(s, d, "customer")
      val o = tbl(s, d, "orders").select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"))
        .orderBy(col("c_nationkey"))
    }),

    "q_semi_anti" -> ((s, d) => {
      val o = tbl(s, d, "orders")
      val l = tbl(s, d, "lineitem").where(col("l_quantity") >= 45)
      val withBig = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_big_items"))
      val withoutBig = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_big_items"))
      withBig.crossJoin(withoutBig)
    }),

    "q_setops" -> ((s, d) => {
      val cn = tbl(s, d, "customer").select(col("c_nationkey").as("nk")).distinct()
      val sn = tbl(s, d, "supplier").select(col("s_nationkey").as("nk")).distinct()
      val both = cn.intersect(sn).agg(count(lit(1)).as("n_both"))
      val custOnly = cn.except(sn).agg(count(lit(1)).as("n_cust_only"))
      val either = cn.union(sn).distinct().agg(count(lit(1)).as("n_either"))
      both.crossJoin(custOnly).crossJoin(either)
    }),

    "q_approx_distinct" -> ((s, d) => {
      // HLL sketch — the 100 TB cardinality path (fixed-size state vs
      // countDistinct's exact shuffle). HLL register values are
      // implementation-specific (DuckDB's sketch differs), so the
      // CHECKED output is the exact count; the approx path is
      // exercised and gated in-query: every group's HLL estimate must
      // land within 5% of exact (rsd=0.02) or the query throws.
      val both = tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n"))
      // the aggregate is one row per return flag — collect ONCE and
      // gate driver-side instead of running the full distinct shuffle
      // a second time for the bound-check action
      val rows = both.collect()
      val offBound = rows.count(r =>
        math.abs(r.getLong(1) - r.getLong(2)).toDouble / r.getLong(2) > 0.05)
      require(offBound == 0,
        s"approx_count_distinct out of 5% error bound for $offBound groups")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, both.schema)
        .select(col("l_returnflag"), col("n_parts"), col("n"))
        .orderBy(col("l_returnflag"))
    }),

    "q_distinct" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    "q_unpivot" -> ((s, d) =>
      tbl(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))),

    "events_pivot" -> ((s, d) =>
      tbl(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))),

    "latest_event" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      tbl(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("event_type"))
    }))

  val analyticsSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum($centsSql) AS BIGINT) / 100.0 AS sum_base_price,
         |  CAST(sum($revenueBpSql) AS BIGINT) / 10000.0 AS sum_disc_price,
         |  avg(l_quantity) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topn_revenue" ->
      s"""SELECT l_orderkey,
         |  CAST(sum($revenueBpSql) AS BIGINT) / 10000.0 AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q5_nation_revenue" ->
      s"""SELECT n_name, r_name,
         |  CAST(sum($revenueBpSql) AS BIGINT) / 10000.0 AS revenue
         |FROM lineitem, orders, customer, nation, region
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |GROUP BY n_name, r_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 50
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q6_forecast" ->
      s"""SELECT CAST(sum($centsSql * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000.0 AS promo_revenue,
         |  count(*) AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.03 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q_window_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY epoch_us(l_shipdate)
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS qty_7d
        |FROM lineitem
        |WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q_topn_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "events_json_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cache_ttl_purge" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // read-through memoize: hits keep the seeded value, misses take
    // the pass-1 fetcher's value — in BOTH passes (pass 2 must be all
    // hits; any 'REFETCHED:' value means the miss append was lost)
    "cache_memoize" ->
      """WITH t AS (
        |  SELECT 'k' || CAST(doc_id AS VARCHAR) AS key,
        |    CASE WHEN doc_id % 2 = 0 THEN 'cached:' || CAST(doc_id AS VARCHAR)
        |         ELSE 'fetched:k' || CAST(doc_id AS VARCHAR) END AS value
        |  FROM documents WHERE doc_id < 20)
        |SELECT CAST(1 AS INTEGER) AS pass, key, value FROM t
        |UNION ALL
        |SELECT CAST(2 AS INTEGER) AS pass, key, value FROM t
        |ORDER BY pass, key""".stripMargin,

    // reference read_cmd('seq 3') = '1\n2\n3\n' — the trailing
    // newline survives the per-line rstrip (reader.py:544-549)
    "ingest_cmd" ->
      """SELECT 'seq 3' AS path,
        |  '1' || chr(10) || '2' || chr(10) || '3' || chr(10) AS content""".stripMargin,

    // expected strip output; HtmlText's fidelity to the reference is
    // separately golden-tested (HtmlTextSpec), this row pins the
    // dispatcher path end to end
    "ingest_url" ->
      """SELECT 'https://example.test/doc' AS path,
        |  'THeaderHello & goodbye.Second <para>.' AS content""".stripMargin,

    "ingest_sbuild" ->
      "SELECT chr(10) || 'NEW BODY' || chr(10) AS content",

    // pypdf-shaped page walk: page texts in Kids order, double-newline
    // page separator (PdfTextSpec golden-checks the extractor itself)
    "ingest_pdf" ->
      """SELECT 'Page one.' || chr(10) || chr(10)
        |  || 'Page two.' || chr(10) AS content""".stripMargin,

    "ingest_google" ->
      """SELECT * FROM (VALUES
        |  ('https://r.test/one', 'first result'),
        |  ('https://r.test/two', 'plain text two')
        |) AS t(path, content) ORDER BY path""".stripMargin,

    // the verbatim -f prompt: wrapped blocks in spec order, blank line
    // between, ask last
    // cmd content keeps echo's trailing newline (reader.py:544-549),
    // and the F9 wrapper's content.split('\n') turns it into a blank
    // line before the closing fence — the reference's exact assembly
    "gather_ordered" ->
      """SELECT 'Here is the output of command `echo one`:' || chr(10)
        |  || '```' || chr(10) || 'one' || chr(10) || chr(10) || '```' || chr(10)
        |  || chr(10)
        |  || 'Here is the output of command `echo two`:' || chr(10)
        |  || '```' || chr(10) || 'two' || chr(10) || chr(10) || '```' || chr(10)
        |  || chr(10) || 'what do these say?' AS prompt""".stripMargin,

    "chunks_union_lastwins" ->
      """SELECT * FROM (VALUES
        |  ('f1', CAST(0 AS BIGINT), CAST(10 AS BIGINT), 'NEW body'),
        |  ('f2', CAST(0 AS BIGINT), CAST(8 AS BIGINT), 'only in a'),
        |  ('f3', CAST(0 AS BIGINT), CAST(5 AS BIGINT), 'only in b')
        |) AS t(path, start, "end", text) ORDER BY path""".stripMargin,

    "ingest_retry" ->
      """SELECT 'https://flaky.test/x' AS path, 'finally up' AS content,
        |  CAST(3 AS BIGINT) AS attempts""".stripMargin,

    // the injected session: system prompt lands at [-2], content is
    // the verbatim frontend.py:242-269 assembly
    "memory_inject" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'user', 'earlier q'),
        |  (1, 'assistant', 'earlier a'),
        |  (2, 'system',
        |   'You have access to the following retrieved conversation snippets. Use them to ground your response when relevant.'
        |   || chr(10) || '1. assistant (score=0.125): snippet one'
        |   || chr(10) || '2. user: ' || repeat('x', 509) || '...'
        |   || chr(10) || 'If none of the snippets apply, continue normally.'),
        |  (3, 'user', 'final question')
        |) AS t(idx, role, content) ORDER BY idx""".stripMargin,

    // conversation delete removes exactly conv-1; conv-2 survives
    "memory_delete" ->
      """SELECT * FROM (VALUES
        |  ('conv-2', 'm3', 'user', 'keep me', CAST(1700000020 AS BIGINT)),
        |  ('conv-2', 'm4', 'assistant', 'kept too', CAST(1700000030 AS BIGINT))
        |) AS t(conv, id, role, text, timestamp) ORDER BY id""".stripMargin,

    // the Debian source family end to end: bts system-message removal,
    // bts src: Options cut, archwiki rstrip, ldo thread fan-out with
    // F10 month-range expansion and next-page recursion
    "ingest_debian" ->
      """SELECT * FROM (VALUES
        |  ('12345', 'Bug #12345' || chr(10) || chr(10) || 'real content line'),
        |  ('Tar', 'tar archives'),
        |  ('https://lists.debian.org/debian-ai/2024/10/msg00009.html', 'october mail'),
        |  ('https://lists.debian.org/debian-ai/2024/11/msg00001.html', 'mail one'),
        |  ('https://lists.debian.org/debian-ai/2024/11/msg00002.html', 'mail two'),
        |  ('src:foo', 'src page header' || chr(10) || 'useful line')
        |) AS t(path, content) ORDER BY path""".stripMargin,

    "session_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('be terse', 'system'),
        |  ('line one' || chr(10) || 'line "two" [x]', 'user'),
        |  ('café \ backslash', 'assistant')) AS t(content, role)""".stripMargin,

    "history_window" ->
      """SELECT event_id, ts, event_type FROM (
        |  SELECT * FROM events WHERE user_id = 7
        |  ORDER BY ts DESC, event_id DESC LIMIT 20) t
        |ORDER BY ts, event_id""".stripMargin,

    "events_range_join" ->
      """SELECT e.err_id,
        |  CAST(sum(CASE WHEN c.clk_us <= e.err_us
        |                 AND c.clk_us > e.err_us - 300000000
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_recent_clicks
        |FROM (SELECT event_id AS err_id, user_id, epoch_us(ts) AS err_us
        |      FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, epoch_us(ts) AS clk_us
        |           FROM events WHERE event_type = 'click') c USING (user_id)
        |GROUP BY e.err_id ORDER BY e.err_id""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, c.click_id, c.click_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, event_id AS click_id, ts AS click_ts
        |                FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND e.ts >= c.click_ts
        |ORDER BY e.event_id""".stripMargin,

    "q_salted_join" ->
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bucketed_join" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_funcs" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER w AS rn,
        |  rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS qty_rank,
        |  ntile(4) OVER w AS quartile,
        |  lag(l_orderkey, 1) OVER w AS prev_order,
        |  lead(l_orderkey, 1) OVER w AS next_order
        |FROM lineitem
        |WHERE l_suppkey <= 5
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q_argmax_supplier" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier
        |WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = supplier.s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dd,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd,
        |  o_orderdate + INTERVAL 30 DAY AS plus30,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS since
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS ub,
        |  lower(p_type) AS lt,
        |  substr(p_name, 1, 5) AS pre,
        |  CAST(length(p_name) AS BIGINT) AS len,
        |  replace(p_type, ' ', '_') AS rep,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS pad,
        |  abs(p_retailprice - 1000.0) AS diff,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  p_partkey % 7 AS md,
        |  CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_outer_join" ->
      """SELECT c_nationkey, count(*) AS n_customers,
        |  CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_without_orders
        |FROM customer c
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_semi_anti" ->
      """SELECT
        |  (SELECT count(*) FROM orders WHERE EXISTS (
        |     SELECT 1 FROM lineitem WHERE l_quantity >= 45 AND l_orderkey = o_orderkey))
        |    AS n_with_big_items,
        |  (SELECT count(*) FROM orders WHERE NOT EXISTS (
        |     SELECT 1 FROM lineitem WHERE l_quantity >= 45 AND l_orderkey = o_orderkey))
        |    AS n_without_big_items""".stripMargin,

    "q_setops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT
        |  (SELECT count(*) FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn) t) AS n_both,
        |  (SELECT count(*) FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn) t) AS n_cust_only,
        |  (SELECT count(*) FROM (SELECT nk FROM cn UNION SELECT nk FROM sn) t) AS n_either""".stripMargin,

    "q_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the checked columns are exact; the HLL estimate is verified
    // in-query against these (within 5%) before the frame is returned
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_unpivot" ->
      """WITH src AS (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
        |                    p_retailprice FROM part)
        |SELECT p_partkey, attr, val
        |FROM (UNPIVOT src ON p_size, p_retailprice INTO NAME attr VALUE val)
        |ORDER BY p_partkey, attr""".stripMargin,

    "events_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "latest_event" ->
      """SELECT event_type, event_id, ts FROM (
        |  SELECT event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_type""".stripMargin)

  // ======================================================= vector ======

  val vector: Map[String, Q] = Map(
    "vdb_topk_cosine" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"), cosineSimD(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(3)
    }),

    "vdb_topk_int8" -> ((s, d) => {
      // int8-quantized cosine top-k: scales cancel in cosine, so the
      // scorer runs on integer codes — exact cross-engine arithmetic
      // (integer dots ≪ 2^53), quarter the scan bytes of float32
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Similarity.int8TopK(emb,
          emb.where(col("vec_id") === 0), "embedding", "vec_id",
          k = 3, excludeSelf = false)
        .select(col("nid").as("vec_id"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    "vdb_retrieve_docs" -> ((s, d) => {
      // the reference's full retrieve shape (vectordb.py:209-213):
      // top-k over vectors, then the J1 id→row back-join to fetch
      // (source, text) — here an actual broadcast join of 3 ids
      val emb = tbl(s, d, "embeddings")
      val docs = tbl(s, d, "documents")
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      val topk = emb.crossJoin(broadcast(q))
        .select(col("vec_id"), cosineSimD(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(3)
      broadcast(topk).join(docs, topk("vec_id") === docs("doc_id"))
        .select(col("doc_id"), col("sim"), col("source"),
          substring(col("text"), 1, 40).as("preview"))
        .orderBy(col("sim").desc, col("doc_id"))
    }),

    "vdb_get_byid" -> ((s, d) =>
      tbl(s, d, "embeddings").where(col("vec_id") === 42)
        .select(col("vec_id"), col("label"))),

    "vdb_ls" -> ((s, d) =>
      tbl(s, d, "embeddings")
        .select(col("vec_id").as("id"), size(col("embedding")).cast(LongType).as("dim"),
          col("label"))
        .orderBy(col("id"))),

    "vdb_delete_byid" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val del = emb.sparkSession.range(1, 2).select(col("id").as("vec_id"))
      emb.join(broadcast(del), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("n"))
    }),

    "vdb_dump" -> ((s, d) =>
      tbl(s, d, "embeddings")
        .where(col("vec_id").isin(1L, 2L, 3L, 5L, 8L, 13L))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))),

    "embed_norms" -> ((s, d) =>
      tbl(s, d, "embeddings")
        .select(col("vec_id"), l2NormD(col("embedding")).as("nrm"))
        .orderBy(col("vec_id"))),

    "ann_topk_batch" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val out = graft.pipeline.Similarity.bruteForceTopK(
        emb.select(col("vec_id"), col("embedding")),
        emb.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", k = 5)
      out.select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // ANN evaluation harness: recall@5 of the LSH index against the
    // exact brute-force ground truth, per query — the number a
    // deployment checks before trusting an approximate index
    "ann_recall_lsh" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            corpus, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Similarity.lshTopK(
            corpus, qs, "embedding", "vec_id", k = 5, dim = 64),
          k = 5)
        .orderBy(col("qid"))
    }),

    // the same harness over the IVF index — the coarse-quantized
    // family a deployment actually tunes (nlist/nprobe), so ITS
    // recall@k is the number that matters operationally
    "ann_recall_ivf" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.search(postings, qs, "embedding", "vec_id",
            model, k = 5, nprobe = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // the DISTRIBUTED-trained IVF (full-corpus fixed-point Lloyd's —
    // Ivf.trainDistributed): the same recall row shape as
    // ann_recall_ivf, pinning that the scale-path trainer's model is
    // bit-reproducible (the golden replays its order-independent
    // integer fold) AND serves comparable recall
    "ann_recall_ivf_dist" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Ivf.trainDistributed(emb, "embedding",
        "vec_id", nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.search(postings, qs, "embedding", "vec_id",
            model, k = 5, nprobe = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // and over the PCA two-stage path — with this row every
    // approximate family (LSH / IVF / IVF-PQ / PCA) carries a
    // recall@k row against the same brute-force truth
    "ann_recall_pca" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Pca.train(emb, "embedding", "vec_id", k = 16)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Similarity.pcaTopK(emb, qs, "embedding", "vec_id",
            k = 5, model, oversample = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // the DISTRIBUTED-trained PCA (full-corpus fixed-point moments —
    // Pca.trainDistributed): one ~16 KB buffer per partition is all
    // that shuffles, and the long sums make the basis bit-reproducible
    // (the golden replays the identical integer fold)
    "ann_recall_pca_dist" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Pca.trainDistributed(emb, "embedding",
        "vec_id", k = 16)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Similarity.pcaTopK(emb, qs, "embedding", "vec_id",
            k = 5, model, oversample = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // and over IVF-PQ — coarse pruning + ADC shortlist + exact
    // rescore; quantization loss makes this the list whose recall a
    // billion-scale deployment must verify before trusting the codes
    "ann_recall_ivfpq" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", ivf)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.searchPq(postings, qs, "embedding", "vec_id",
            ivf, pq, k = 5, nprobe = 4, oversample = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // the recall row that pins the residual win: same harness, same
    // truth, residual codes at the SAME m=8 — the number that must
    // beat the plain-code plateau (and does; sweep in PLANS.md)
    "ann_recall_ivfpqr" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", ivf)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.searchPqResidual(postings, qs, "embedding",
            "vec_id", ivf, pq, k = 5, nprobe = 4, oversample = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // recall@k of the sign-bit tier against the same brute-force
    // truth as its siblings — the number a deployment must check
    // before trading 8-byte codes for the PQ/int8 tiers
    "ann_recall_bq" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val codes = graft.pipeline.Ivf.assign(emb, "embedding", model)
        .withColumn("codes",
          graft.functions.VectorFunctions.signBits(col("embedding")))
        .drop("embedding")
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb, qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.searchBqIndex(codes, emb, qs, "embedding",
            "vec_id", model, k = 5, nprobe = 4, oversample = 4),
          k = 5)
        .orderBy(col("qid"))
    }),

    // GROUPED top-k (multi-tenant serving): top-k per (query, label)
    // in ONE probe pass — candidates join on (cluster, group), so
    // tenant isolation is join pruning. At nprobe0 = nlist every
    // tenant's rows are exact over its postings, so DuckDB's
    // windowed brute force per (query, label) is the direct oracle
    "ivf_topk_grouped" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.searchGrouped(postings,
          emb.where(col("vec_id") < 3), "embedding", "vec_id", model,
          k = 5, groupCol = "label",
          groups = emb.select(col("label")).distinct(),
          nprobe0 = 16)
        .select(col("qid"), col("label"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("label"), col("rk"))
    }),

    "ann_topk_mmr" -> ((s, d) => {
      // MMR-diversified retrieval: distributed candidate top-N +
      // bounded driver greedy rerank (relevance − λ-weighted
      // redundancy); golden from the independent Python mirror
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Similarity.mmrTopK(
        emb.select(col("vec_id"), col("embedding")),
        emb.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", k = 5, lambda = 0.7)
        .orderBy(col("qid"), col("rk"))
    }),

    "ann_topk_heap" -> ((s, d) => {
      // same result as ann_topk_batch, but via the bounded-heap
      // TypedImperativeAggregate — O(k) state per query, partial
      // heaps combined map-side, only k rows per query shuffled
      val emb = tbl(s, d, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          cosineSimD(col("embedding"), col("qv")).as("sim"))
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topKBy(col("sim"), col("nid"), 5).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), col("col.id").as("nid"), col("col.score").as("sim"),
          (col("pos") + 1).cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "embed_neardup_cosine" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Dedup.cosinePairsBlocked(
        emb.select(col("vec_id"), col("embedding"), col("label")),
        "embedding", "vec_id", "label", threshold = 0.4)
        .select(col("d1").as("v1"), col("d2").as("v2"), col("sim"))
        .orderBy(col("v1"), col("v2"))
    }))

  val vectorSql: Map[String, String] = Map(
    "vdb_topk_cosine" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim
         |FROM embeddings e, q
         |ORDER BY sim DESC, vec_id LIMIT 3""".stripMargin,

    "vdb_topk_int8" ->
      """WITH mx AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS m
        |  FROM embeddings),
        |codes AS (SELECT vec_id,
        |    CASE WHEN m = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |        x -> CAST(floor(CAST(x AS DOUBLE) / (m / 127.0) + 0.5) AS BIGINT))
        |    END AS c
        |  FROM mx),
        |n AS (SELECT vec_id, c,
        |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS nsq
        |  FROM codes),
        |q AS (SELECT c AS qc, nsq AS qn FROM n WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CASE WHEN e.nsq = 0 OR q.qn = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(range(1, len(e.c) + 1),
        |           i -> e.c[i] * q.qc[i])) AS DOUBLE)
        |      / (sqrt(CAST(e.nsq AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE)))
        |  END AS sim
        |FROM n e, q
        |ORDER BY sim DESC, vec_id LIMIT 3""".stripMargin,

    "vdb_get_byid" ->
      "SELECT vec_id, label FROM embeddings WHERE vec_id = 42",

    "vdb_retrieve_docs" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |topk AS (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e, q
         |  ORDER BY sim DESC, vec_id LIMIT 3)
         |SELECT d.doc_id, t.sim, d.source, substr(d.text, 1, 40) AS preview
         |FROM topk t JOIN documents d ON d.doc_id = t.vec_id
         |ORDER BY t.sim DESC, d.doc_id""".stripMargin,

    "vdb_ls" ->
      """SELECT vec_id AS id, CAST(len(embedding) AS BIGINT) AS dim, label
        |FROM embeddings ORDER BY id""".stripMargin,

    "vdb_delete_byid" ->
      "SELECT count(*) AS n FROM embeddings WHERE vec_id <> 1",

    // keyset pagination: three chained pages tile ids exactly once;
    // page 4 is the payload-filtered scroll
    "vdb_scroll" ->
      """WITH v AS (
        |  SELECT doc_id + 1 AS id, source, text FROM documents
        |  WHERE doc_id < 100)
        |SELECT 1 AS page, id, source FROM
        |  (SELECT * FROM v WHERE id > 0 ORDER BY id LIMIT 40)
        |UNION ALL
        |SELECT 2 AS page, id, source FROM
        |  (SELECT * FROM v WHERE id > 40 ORDER BY id LIMIT 40)
        |UNION ALL
        |SELECT 3 AS page, id, source FROM
        |  (SELECT * FROM v WHERE id > 80 ORDER BY id LIMIT 40)
        |UNION ALL
        |SELECT 4 AS page, id, source FROM
        |  (SELECT * FROM v WHERE id > 0 AND length(text) > 400
        |   ORDER BY id LIMIT 40)
        |ORDER BY page, id""".stripMargin,

    "vdb_dump" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE vec_id IN (1, 2, 3, 5, 8, 13) ORDER BY vec_id""".stripMargin,

    "embed_norms" ->
      """SELECT vec_id,
        |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "ann_topk_batch" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "ann_topk_heap" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "embed_neardup_cosine" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT v1, v2, sim FROM p WHERE sim >= 0.4 ORDER BY v1, v2""".stripMargin)

  // ========================================================= text ======

  private val stopwordsSqlList = "('the','a','of','and','to','in','is','for','on','with')"

  val text: Map[String, Q] = Map(
    "dedup_exact" -> ((s, d) =>
      graft.pipeline.Dedup.exactGroups(tbl(s, d, "documents"), "text", "doc_id")
        .orderBy(col("fp"))),

    // persisted fingerprint-index lifecycle: build on the %3==0 ids,
    // append the %3==1 increment's novel fps, compact, probe the
    // %3==2 increment — keepers must equal the staged min-id rule the
    // oracle replays in SQL
    "dedup_index_incremental" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      // fresh dir per run (not a fixed relative path): two gate runs
      // sharing a working directory must not interleave their
      // writeIndex/appendNovel passes into one corrupt index
      val path = graft.core.Scratch.dir("dedup_fp_idx")
        .resolve("index").toString
      graft.pipeline.DedupIndex.writeIndex(s,
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id", path)
      graft.pipeline.DedupIndex.appendNovel(s,
        docs.where(col("doc_id") % 3 === 1), "text", "doc_id", path)
      graft.pipeline.DedupIndex.compactIndex(s, path)
      graft.pipeline.DedupIndex.probe(s, path,
          docs.where(col("doc_id") % 3 === 2), "text", "doc_id")
        .select(col("doc"), col("keep_id"), col("dup"))
        .orderBy(col("doc"))
    }),

    // snapshot/restore for the exact-fingerprint dedup state: build
    // the first slice, snapshot, corrupt two ways (min-id decoys that
    // would flip keep_id/dup on every later probe, plus a dropped
    // bucket dir), restore, run the rest of the lifecycle — the probe
    // must equal the never-corrupted incremental oracle
    "dedup_index_restored" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = graft.core.Scratch.dir("dedup_fp_restore")
      val path = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      val decoys = docs.where(col("doc_id") % 3 === 2)
        .select((col("doc_id") - 100000000L).as("doc_id"), col("text"))
      graft.pipeline.DedupIndex.writeIndex(s,
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id", path)
      graft.core.DirSnapshot.create(s, path, snap)
      graft.pipeline.DedupIndex.appendNovel(s, decoys, "text", "doc_id", path)
      val b0 = new org.apache.hadoop.fs.Path(s"$path/bucket=0")
      b0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(b0, true)
      graft.core.DirSnapshot.restore(s, snap, path)
      graft.pipeline.DedupIndex.appendNovel(s,
        docs.where(col("doc_id") % 3 === 1), "text", "doc_id", path)
      graft.pipeline.DedupIndex.compactIndex(s, path)
      graft.pipeline.DedupIndex.probe(s, path,
          docs.where(col("doc_id") % 3 === 2), "text", "doc_id")
        .select(col("doc"), col("keep_id"), col("dup"))
        .orderBy(col("doc"))
    }),

    // DELETION for the dedup STATE (right-to-be-forgotten): decoys =
    // copies of the probe increment's docs at SMALLER ids, so if they
    // survive deletion they become min-id keepers and flip the probe's
    // keep_id/dup columns loudly. Build+append the real index, append
    // the decoys, delete them, compact — the probe must be
    // indistinguishable from the decoy-free lifecycle (the
    // dedup_index_incremental oracle verbatim)
    "dedup_index_deleted" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val path = graft.core.Scratch.dir("dedup_fp_del")
        .resolve("index").toString
      val decoys = docs.where(col("doc_id") % 3 === 2)
        .select((col("doc_id") - 100000000L).as("doc_id"), col("text"))
      graft.pipeline.DedupIndex.writeIndex(s,
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id", path)
      graft.pipeline.DedupIndex.appendNovel(s,
        docs.where(col("doc_id") % 3 === 1), "text", "doc_id", path)
      graft.pipeline.DedupIndex.appendNovel(s, decoys, "text", "doc_id", path)
      graft.pipeline.DedupIndex.deleteDocs(s, path,
        decoys.select(col("doc_id")))
      graft.pipeline.DedupIndex.compactIndex(s, path)
      graft.pipeline.DedupIndex.probe(s, path,
          docs.where(col("doc_id") % 3 === 2), "text", "doc_id")
        .select(col("doc"), col("keep_id"), col("dup"))
        .orderBy(col("doc"))
    }),

    // SEGMENT MERGE for the exact-dedup index — the shard-parallel
    // build topology: shards %3==0 and %3==1 fingerprinted into
    // independent indexes, mergeInto absorbs B into A index-to-index
    // (dst keeper wins = appendNovel's first-indexed-wins rule) and
    // returns the cross-shard duplicate report for B's keepers; a
    // later probe against the merged index must decide exactly like
    // one against the sequentially-grown index
    "dedup_index_merged" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = graft.core.Scratch.dir("dedup_fp_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      // parallel shard builds (disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.DedupIndex.writeIndex(s,
          docs.where(col("doc_id") % 3 === 0), "text", "doc_id", shardA),
        () => graft.pipeline.DedupIndex.writeIndex(s,
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id", shardB))
      val report = graft.pipeline.DedupIndex.mergeInto(s, shardA, shardB)
      graft.pipeline.DedupIndex.compactIndex(s, shardA)
      report.unionByName(
          graft.pipeline.DedupIndex.probe(s, shardA,
              docs.where(col("doc_id") % 3 === 2), "text", "doc_id")
            .select(col("doc"), col("keep_id"), col("dup")))
        .orderBy(col("doc"))
    }),

    // persisted MinHash-band near-dup index lifecycle: build on the
    // %3==0 ids (their internal pairs are the build-time one-shot),
    // probe the %3==1 increment (cross + internal pairs), append it,
    // compact, probe the %3==2 increment — the union of the three
    // pair sets must equal the one-shot LSH pass over the whole
    // corpus, so the oracle is the minhash_pairs golden verbatim
    "neardup_index_incremental" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val path = graft.core.Scratch.dir("neardup_idx")
        .resolve("index").toString
      val a = docs.where(col("doc_id") % 3 === 0)
      val b = docs.where(col("doc_id") % 3 === 1)
      val c = docs.where(col("doc_id") % 3 === 2)
      // each slice is shingled ONCE: build emits the within-build
      // pairs, probeAndAppend classifies then indexes the increment
      val p0 = graft.pipeline.NearDupIndex.buildWithPairs(s, a, "text",
        "doc_id", path, threshold = 0.2)
      val p1 = graft.pipeline.NearDupIndex.probeAndAppend(s, path, b,
        "text", "doc_id", threshold = 0.2)
      graft.pipeline.NearDupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.NearDupIndex.probe(s, path, c, "text",
        "doc_id", threshold = 0.2)
      p0.unionByName(p1).unionByName(p2).orderBy(col("d1"), col("d2"))
    }),

    // DELETION for the near-dup STATE: decoys = verbatim copies of
    // the last increment's docs (jac = 1.0 with their originals), so
    // any band row or shingle set surviving deletion emits loud
    // decoy-id pairs in the later probes. Lifecycle: build, index the
    // decoys, delete them, probe/append the real increments — the
    // union of pair sets must equal the one-shot LSH pass over the
    // clean corpus (the minhash_pairs golden verbatim)
    "neardup_index_deleted" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val path = graft.core.Scratch.dir("neardup_del")
        .resolve("index").toString
      val a = docs.where(col("doc_id") % 3 === 0)
      val b = docs.where(col("doc_id") % 3 === 1)
      val c = docs.where(col("doc_id") % 3 === 2)
      val decoys = c.select((col("doc_id") + 50000000L).as("doc_id"),
        col("text"))
      val p0 = graft.pipeline.NearDupIndex.buildWithPairs(s, a, "text",
        "doc_id", path, threshold = 0.2)
      graft.pipeline.NearDupIndex.append(s, decoys, "text", "doc_id", path)
      graft.pipeline.NearDupIndex.deleteDocs(s, path,
        decoys.select(col("doc_id")))
      val p1 = graft.pipeline.NearDupIndex.probeAndAppend(s, path, b,
        "text", "doc_id", threshold = 0.2)
      graft.pipeline.NearDupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.NearDupIndex.probe(s, path, c, "text",
        "doc_id", threshold = 0.2)
      p0.unionByName(p1).unionByName(p2).orderBy(col("d1"), col("d2"))
    }),

    // SEGMENT MERGE for the near-dup index — the shard-parallel build
    // topology: shards %3==0 and %3==1 minhashed into independent
    // indexes under the frozen params, mergeInto absorbs B into A by
    // file moves and emits the CROSS-SHARD pairs the parallel build
    // never saw (candidates from joining the two persisted band
    // layouts, verified from the persisted shingle sets — zero
    // re-minhashing); build-A ∪ build-B ∪ cross ∪ later probe must
    // equal the one-shot LSH pass — the minhash_pairs golden verbatim
    "neardup_index_merged" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = graft.core.Scratch.dir("neardup_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      val a = docs.where(col("doc_id") % 3 === 0)
      val b = docs.where(col("doc_id") % 3 === 1)
      val c = docs.where(col("doc_id") % 3 === 2)
      // shard builds concurrently (disjoint roots; probeShingled's
      // pushdown-threshold raise rides the ref-counted ConfLease, so
      // the two probes can no longer race the conf restore — the
      // blocker that kept this row sequential through r16)
      val (p0, p1) = graft.core.Par.both(
        () => graft.pipeline.NearDupIndex.buildWithPairs(s, a, "text",
          "doc_id", shardA, threshold = 0.2),
        () => graft.pipeline.NearDupIndex.buildWithPairs(s, b, "text",
          "doc_id", shardB, threshold = 0.2))
      val cross = graft.pipeline.NearDupIndex.mergeInto(s, shardA, shardB,
        threshold = 0.2)
      graft.pipeline.NearDupIndex.compactIndex(s, shardA)
      val p2 = graft.pipeline.NearDupIndex.probe(s, shardA, c, "text",
        "doc_id", threshold = 0.2)
      p0.unionByName(p1).unionByName(cross).unionByName(p2)
        .orderBy(col("d1"), col("d2"))
    }),

    // snapshot/restore for a DEDUP-index family (backup of a 100 TB
    // dedup state is a real operator — the reference's vdb file IS
    // its backup): build over the first slice, snapshot, corrupt the
    // live tree two ways (verbatim-decoy append — their jac-1.0
    // pairs would pollute every later probe — and a dropped band
    // dir), restore, then run the remaining lifecycle; the union of
    // pair reports must still equal the one-shot LSH pass
    "neardup_index_restored" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = graft.core.Scratch.dir("neardup_restore")
      val path = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      val a = docs.where(col("doc_id") % 3 === 0)
      val b = docs.where(col("doc_id") % 3 === 1)
      val c = docs.where(col("doc_id") % 3 === 2)
      val p0 = graft.pipeline.NearDupIndex.buildWithPairs(s, a, "text",
        "doc_id", path, threshold = 0.2)
      graft.core.DirSnapshot.create(s, path, snap)
      val decoys = c.select((col("doc_id") + 50000000L).as("doc_id"),
        col("text"))
      graft.pipeline.NearDupIndex.append(s, decoys, "text", "doc_id", path)
      val band0 = new org.apache.hadoop.fs.Path(s"$path/bands/band=0")
      band0.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(band0, true)
      graft.core.DirSnapshot.restore(s, snap, path)
      val p1 = graft.pipeline.NearDupIndex.probeAndAppend(s, path, b,
        "text", "doc_id", threshold = 0.2)
      graft.pipeline.NearDupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.NearDupIndex.probe(s, path, c, "text",
        "doc_id", threshold = 0.2)
      p0.unionByName(p1).unionByName(p2).orderBy(col("d1"), col("d2"))
    }),

    // Unicode-normalized dedup: the fixture fabricates two byte-
    // distinct spellings of every doc (composed á vs decomposed
    // a+́); the NFC fingerprint must merge each pair — every
    // group has exactly n=2, and a drifted normalization shows up as
    // a hash mismatch on fp itself
    "dedup_normalized" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val composed = docs.select(col("doc_id"),
        regexp_replace(col("text"), "a", "\u00E1").as("text"))
      val decomposed = docs.select((col("doc_id") + 10000L).as("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("text"))
      graft.pipeline.Dedup.normalizedGroups(
          composed.unionByName(decomposed), "text", "doc_id")
        .orderBy(col("keep_id"))
    }),

    // the registered SQL surface end-to-end: the same normalized
    // dedup expressed in PLAIN spark.sql — no Column API anywhere on
    // the query path, so the gate exercises the function registry
    "sql_dedup_normalized" -> ((s, d) => {
      graft.functions.GraftSql.register(s)
      tbl(s, d, "documents").createOrReplaceTempView("documents_sqlv")
      val comp = "\u00e1"
      val dec = "a\u0301"
      s.sql(
        s"""SELECT normalized_fingerprint(text) AS fp,
           |  min(doc_id) AS keep_id, count(*) AS n
           |FROM (
           |  SELECT doc_id, regexp_replace(text, 'a', '$comp') AS text
           |  FROM documents_sqlv
           |  UNION ALL
           |  SELECT doc_id + 10000 AS doc_id,
           |    regexp_replace(text, 'a', '$dec') AS text
           |  FROM documents_sqlv)
           |GROUP BY 1 ORDER BY keep_id""".stripMargin)
    }),

    "dedup_jaccard_pairs" -> ((s, d) =>
      graft.pipeline.Dedup.jaccardPairs(tbl(s, d, "documents"), "text", "doc_id",
        w = 3, threshold = 0.2, maxShingleDf = 128)
        .orderBy(col("d1"), col("d2"))),

    "decontam_pairs" -> ((s, d) => {
      // test-set decontamination: even doc_ids play the training
      // corpus, odd ones the eval set; which train docs near-dup an
      // eval doc? Cross-corpus inverted-index join, no self pairs.
      val docs = tbl(s, d, "documents")
      graft.pipeline.Dedup.crossJaccardPairs(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", "doc_id", w = 3, threshold = 0.2)
        .orderBy(col("left_doc"), col("right_doc"))
    }),

    "dedup_jaccard_prefix" -> ((s, d) =>
      // EXACT similarity join via AllPairs prefix filtering — no df
      // cap, no recall loss; the oracle is the uncapped true-Jaccard
      // pair set
      graft.pipeline.Dedup.jaccardPairsPrefix(
        tbl(s, d, "documents"), "text", "doc_id", w = 3, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))),

    "dedup_drop_neardups" -> ((s, d) => {
      // the full dedup pipeline: jaccard pairs → connected components
      // → keep the min-id representative per cluster
      val docs = tbl(s, d, "documents")
      val pairs = graft.pipeline.Dedup.jaccardPairs(docs, "text", "doc_id",
        w = 3, threshold = 0.2, maxShingleDf = 128)
      graft.pipeline.Dedup.dropNearDups(docs, pairs, "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "dedup_drop_neardups_best" -> ((s, d) => {
      // quality-aware representative selection: same pairs/clusters
      // as dedup_drop_neardups, but keep the LONGEST doc per cluster
      // (ties to the smallest id) — the curation-grade keep rule (of
      // a near-dup scrape family, keep the best copy, not whichever
      // crawled first)
      val docs = tbl(s, d, "documents")
      val pairs = graft.pipeline.Dedup.jaccardPairs(docs, "text", "doc_id",
        w = 3, threshold = 0.2, maxShingleDf = 128)
      graft.pipeline.Dedup.dropNearDupsBy(docs, pairs, "doc_id", "n_chars")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "dedup_url_canonical" -> ((s, d) => {
      // URL-canonicalization dedup — the pre-content dedup every web
      // pipeline runs (the same page crawled as http/https, with
      // www., with tracking queries, with a trailing slash): keep the
      // lowest id per canonical URL. The url column is synthesized
      // with exactly those crawl-variant decorations
      val docs = tbl(s, d, "documents").withColumn("url",
        concat(
          when(col("doc_id") % 4 === 0, lit("http://"))
            .otherwise(lit("https://")),
          when(col("doc_id") % 2 === 1, lit("www.")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".example.com/doc/"), (col("doc_id") % 100).cast("string"),
          when(col("doc_id") % 5 === 0, lit("?utm_source=feed"))
            .when(col("doc_id") % 5 === 1, lit("/"))
            .when(col("doc_id") % 5 === 2, lit("#frag"))
            .otherwise(lit(""))))
      graft.pipeline.UrlFilter.dropDupUrls(docs, "url", "doc_id")
        .select(col("doc_id"),
          graft.pipeline.UrlFilter.canonicalUrl(col("url")).as("curl"))
        .orderBy(col("doc_id"))
    }),

    "dedup_family_sizes" -> ((s, d) => {
      // duplicate-family size distribution: per near-dup cluster, how
      // many members — the corpus-health histogram a dedup run
      // reports (how much of the corpus is families of 2, of 3, …)
      val docs = tbl(s, d, "documents")
      val pairs = graft.pipeline.Dedup.jaccardPairs(docs, "text", "doc_id",
        w = 3, threshold = 0.2, maxShingleDf = 128)
      graft.pipeline.Dedup.nearDupClusters(pairs)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("cluster"))
    }),

    "text_tokens" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))),

    "text_quality" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          graft.pipeline.TextAnalysis.charsPerToken(col("text"), col("n_chars")).as("chars_per_token"),
          graft.pipeline.TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          graft.pipeline.TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          graft.pipeline.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "corpus_curation" -> ((s, d) => {
      // the end-to-end curation chain a pretraining pipeline runs:
      // quality features → exact-dup removal (keep-min per
      // fingerprint, semi-join) → length + repetition filters →
      // per-source quota. Every stage is the operator already oracled
      // individually; this checks the composition.
      val docs = tbl(s, d, "documents")
      // repetition signals are per-row column expressions
      // (codegen'd gram hashmap) — computed IN the projection, no
      // gram shuffles and no join back
      val enriched = docs.select(col("doc_id"), col("lang"), col("source"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.pipeline.TextAnalysis.topNgramFrac(col("text"), 2)
            .as("top_bigram_frac"),
          graft.pipeline.TextAnalysis.dupNgramFrac(col("text"), 3)
            .as("dup_trigram_frac"))
      val keepIds = enriched.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      val deduped = enriched.join(keepIds, Seq("fp", "doc_id"), "left_semi")
      val filtered = deduped
        .where(col("n_tokens") >= 30 && col("top_bigram_frac") <= 0.5)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      filtered.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 15)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "seq_packing" -> ((s, d) =>
      // LLM-pretraining sequence packing: distributed exact prefix sum
      // (range partitions + per-partition window + driver prefix of P
      // totals) — never a single-partition global window
      graft.pipeline.SeqPack.packOffsets(s, tbl(s, d, "documents"),
        "text", "doc_id", seqLen = 2048L)
        .orderBy(col("doc"))),

    "corpus_curriculum_pack" -> ((s, d) =>
      // curriculum-ordered packing: shortest documents first
      // (n_chars, then id) — early training sequences hold the
      // easy/short docs, the curriculum-learning shape; same
      // distributed prefix-sum plan as seq_packing, the range
      // partitioner and windows just lead with the order column
      graft.pipeline.SeqPack.packOffsetsBy(s, tbl(s, d, "documents"),
        "text", "doc_id", seqLen = 2048L, orderCols = Seq("n_chars"))
        .orderBy(col("doc"))),

    "corpus_pack_bpe" -> ((s, d) => {
      // packing under the REAL tokenizer: per-doc lengths from the
      // codegen broadcast-model BPE encoder (trained in-query, same
      // merges as bpe_token_count — its golden feeds the oracle's
      // prefix sum), budgets are model-tokenizer budgets
      val docs = tbl(s, d, "documents")
      val m = graft.pipeline.Bpe.train(docs, "text", numMerges = 60)
      graft.pipeline.SeqPack.packOffsetsCounted(s, docs,
          graft.pipeline.Bpe.bpeTokenCount(col("text"), m),
          "doc_id", seqLen = 1024L, orderCols = Seq.empty)
        .orderBy(col("doc"))
    }),

    "text_dup_lines" -> ((s, d) => {
      import s.implicits._
      // the line-level Gopher rule over an inline multiline corpus
      // (the parquet documents are single-line, so the fixture frame
      // carries the semantics — same pattern as policy_sections)
      Seq(
        (1L, "a b\nc d\na b\na b"),
        (2L, "only one line"),
        (3L, "x\ny\nz\nx\ny"),
        (4L, "dup\ndup\ndup\ndup")
      ).toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.dupLineFraction(col("text")).as("dup_line_frac"))
        .orderBy(col("doc_id"))
    }),

    "text_repetition" -> ((s, d) =>
      // Gopher-style n-gram repetition quality signals, relational (no
      // UDF): most-frequent-bigram share and duplicated-trigram share
      graft.pipeline.TextAnalysis.repetitionSignals(
        tbl(s, d, "documents"), "text", "doc_id")
        .orderBy(col("doc"))),

    "q_percentiles" -> ((s, d) =>
      tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25D)").as("q25"),
          expr("percentile(l_quantity, 0.5D)").as("q50"),
          expr("percentile(l_quantity, 0.75D)").as("q75"))
        .orderBy(col("l_returnflag"))),

    "q_approx_percentiles" -> ((s, d) => {
      // quantile sketch — the 100 TB path (bounded KLL-style state per
      // group vs exact percentile's full-sort/collect state). Sketch
      // internals are engine-specific, so the CHECKED output is the
      // exact percentile; the sketch is gated in-query: each group's
      // approx p50/p90 must land within the accuracy the 1000-row
      // sketch guarantees, or the query throws.
      val both = tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5D)").as("p50"),
          expr("percentile(l_quantity, 0.9D)").as("p90"),
          expr("approx_percentile(l_quantity, 0.5D, 1000)").as("a50"),
          expr("approx_percentile(l_quantity, 0.9D, 1000)").as("a90"),
          count(lit(1)).as("n"))
      val off = both.where(
        abs(col("a50") - col("p50")) / col("p50") > 0.05 ||
          abs(col("a90") - col("p90")) / col("p90") > 0.05).count()
      require(off == 0, s"approx_percentile out of 5% bound for $off groups")
      both.select(col("l_returnflag"),
          round(col("p50"), 2).as("p50"), round(col("p90"), 2).as("p90"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    "text_bpeish_tokens" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.bpeishTokenCount(col("text")).as("n_pieces"))
        .orderBy(col("doc_id"))),

    "text_fingerprint" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))))

  /** Cross-corpus contamination oracle — shared by decontam_pairs and
    * decontam_bloom (the Bloom path is exact by construction).
    */
  /** The drift replay's shared CTE chain over any staged CTE body
    * that exposes `doc_id` and `dim` (other columns ride along into
    * `bd`): Staging.stageWithKey's equal-width batching replayed
    * FAITHFULLY — span = max(1, (hi−lo) div n + 1) from the MIN id
    * (not 0), and empty ranges produce no staged file so the file
    * stream renumbers batch ids DENSELY over the non-empty ranges —
    * then per-batch/prefix counts and the value-sorted sequential TV
    * fold, bit-exact against the Scala foldLeft (0.0 + x = x in
    * IEEE, so the 0.0-seeded foldLeft and list_reduce are the same
    * left-assoc term sum). Ends with `al` (per-batch verdicts) and
    * `bd` (doc-level rows with their dense batch id). Staged CTE
    * bodies must `coalesce(dim, '<null>')` — the monitors count
    * null dim values as DriftState.NullDim's own category, and an
    * un-coalesced NULL would instead vanish through the equality
    * joins here.
    */
  private def driftCtes(stagedCte: String): String =
    s"""staged AS ($stagedCte),
       |bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM staged),
       |sp AS (SELECT lo, greatest(1, (hi - lo) // 4 + 1) AS span FROM bounds),
       |r0 AS (SELECT staged.*,
       |         least(3, CAST((doc_id - (SELECT lo FROM sp))
       |                       // (SELECT span FROM sp) AS INT)) AS rng
       |       FROM staged),
       |rmap AS (SELECT rng, CAST(row_number() OVER (ORDER BY rng) - 1 AS INT) AS bid
       |         FROM (SELECT DISTINCT rng FROM r0)),
       |bd AS (SELECT r0.*, m.bid FROM r0 JOIN rmap m ON m.rng = r0.rng),
       |cnt AS (SELECT bid, dim, CAST(count(*) AS BIGINT) AS c FROM bd GROUP BY 1, 2),
       |bids AS (SELECT bid FROM rmap),
       |dims AS (SELECT DISTINCT dim FROM cnt),
       |btot AS (SELECT bid, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
       |tot AS (SELECT bb.bid,
       |          CAST(coalesce((SELECT n FROM btot WHERE btot.bid = bb.bid), 0) AS BIGINT) AS nb,
       |          CAST(coalesce((SELECT sum(n) FROM btot WHERE btot.bid < bb.bid), 0) AS BIGINT) AS na
       |        FROM bids bb),
       |pc AS (
       |  SELECT bb.bid, l.dim,
       |    CAST(coalesce(c1.c, 0) AS BIGINT) AS cb,
       |    CAST(coalesce((SELECT sum(c) FROM cnt c2
       |                   WHERE c2.bid < bb.bid AND c2.dim = l.dim), 0) AS BIGINT) AS ca
       |  FROM bids bb CROSS JOIN dims l
       |  LEFT JOIN cnt c1 ON c1.bid = bb.bid AND c1.dim = l.dim),
       |tv0 AS (
       |  SELECT pc.bid,
       |    list(abs(CAST(pc.cb AS DOUBLE) / t.nb - CAST(pc.ca AS DOUBLE) / t.na)
       |         ORDER BY pc.dim) AS vals
       |  FROM pc JOIN tot t ON t.bid = pc.bid
       |  WHERE t.nb > 0 AND t.na > 0
       |  GROUP BY pc.bid),
       |al AS (SELECT t.bid, t.nb, t.na,
       |         CASE WHEN v.vals IS NULL THEN 0.0
       |              ELSE 0.5 * list_reduce(v.vals, (x, y) -> x + y) END AS tv
       |       FROM tot t LEFT JOIN tv0 v ON v.bid = t.bid)""".stripMargin

  /** The monitor rows from [[driftCtes]]'s verdicts. */
  private def driftMonitorSql(stagedCte: String): String =
    s"""WITH ${driftCtes(stagedCte)}
       |SELECT CAST(bid AS BIGINT) AS batch_id, nb AS n_batch, na AS n_prev,
       |  tv, tv > 0.3 AS alert
       |FROM al ORDER BY batch_id""".stripMargin

  /** The curation composition's replay (blocklist suffix match →
    * rounded quality gate → min-id-per-fingerprint) over any source
    * relation exposing (doc_id, text, source) — ONE definition
    * shared by the streamed-curation and quarantine oracles. Ends
    * with `k`; kept = rows where doc_id = keep.
    */
  private def curationKeptCtes(src: String): String =
    s"""u AS (SELECT doc_id, text,
       |    (CASE WHEN doc_id % 2 = 1 THEN 'cdn.' ELSE '' END) ||
       |      source || '.example.com' AS host
       |  FROM $src),
       |bl(h) AS (VALUES ('src3.example.com'), ('src7.example.com'),
       |                 ('cdn.src1.example.com')),
       |b1 AS (SELECT * FROM u WHERE NOT EXISTS(SELECT 1 FROM bl
       |    WHERE u.host = bl.h OR u.host LIKE '%.' || bl.h)),
       |b2 AS (SELECT doc_id, text FROM b1
       |  WHERE round(least(1.0, len(string_split(text, ' ')) / 100.0)
       |    * (0.5 + 0.5 * least(1.0,
       |        (CAST(len(list_filter(string_split(text, ' '),
       |            w -> w IN $stopwordsSqlList)) AS DOUBLE)
       |          / len(string_split(text, ' '))) * 5.0)), 4) >= 0.3),
       |k AS (SELECT doc_id, min(doc_id) OVER (
       |    PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
       |  FROM b2)""".stripMargin

  private val decontamSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
      |  FROM tok WHERE len(ws) >= 3),
      |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
      |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS left_doc, b.doc_id AS right_doc, count(*) AS c
      |  FROM e a JOIN e b ON a.sg = b.sg
      |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |  GROUP BY 1, 2)
      |SELECT left_doc, right_doc,
      |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
      |FROM inter
      |JOIN sz sa ON sa.doc_id = left_doc
      |JOIN sz sb ON sb.doc_id = right_doc
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2
      |ORDER BY left_doc, right_doc""".stripMargin

  val textSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "dedup_index_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id AS doc,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |idx0 AS (SELECT fp, min(doc) AS keep FROM fp
        |         WHERE doc % 3 = 0 GROUP BY fp),
        |idx1 AS (SELECT f.fp, min(f.doc) AS keep FROM fp f
        |         LEFT JOIN idx0 i ON f.fp = i.fp
        |         WHERE f.doc % 3 = 1 AND i.fp IS NULL GROUP BY f.fp),
        |idx AS (SELECT * FROM idx0 UNION ALL SELECT * FROM idx1),
        |batch AS (SELECT fp, min(doc) AS bkeep FROM fp
        |          WHERE doc % 3 = 2 GROUP BY fp)
        |SELECT f.doc, CAST(coalesce(i.keep, b.bkeep) AS BIGINT) AS keep_id,
        |  coalesce(i.keep, b.bkeep) <> f.doc AS dup
        |FROM fp f
        |LEFT JOIN idx i ON f.fp = i.fp
        |JOIN batch b ON f.fp = b.fp
        |WHERE f.doc % 3 = 2
        |ORDER BY f.doc""".stripMargin,

    // corrupted index restored mid-lifecycle ≡ the never-corrupted
    // incremental lifecycle: same oracle
    "dedup_index_restored" ->
      """WITH fp AS (
        |  SELECT doc_id AS doc,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |idx0 AS (SELECT fp, min(doc) AS keep FROM fp
        |         WHERE doc % 3 = 0 GROUP BY fp),
        |idx1 AS (SELECT f.fp, min(f.doc) AS keep FROM fp f
        |         LEFT JOIN idx0 i ON f.fp = i.fp
        |         WHERE f.doc % 3 = 1 AND i.fp IS NULL GROUP BY f.fp),
        |idx AS (SELECT * FROM idx0 UNION ALL SELECT * FROM idx1),
        |batch AS (SELECT fp, min(doc) AS bkeep FROM fp
        |          WHERE doc % 3 = 2 GROUP BY fp)
        |SELECT f.doc, CAST(coalesce(i.keep, b.bkeep) AS BIGINT) AS keep_id,
        |  coalesce(i.keep, b.bkeep) <> f.doc AS dup
        |FROM fp f
        |LEFT JOIN idx i ON f.fp = i.fp
        |JOIN batch b ON f.fp = b.fp
        |WHERE f.doc % 3 = 2
        |ORDER BY f.doc""".stripMargin,

    // deletion pinned against the decoy-free lifecycle: same oracle
    "dedup_index_deleted" ->
      """WITH fp AS (
        |  SELECT doc_id AS doc,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |idx0 AS (SELECT fp, min(doc) AS keep FROM fp
        |         WHERE doc % 3 = 0 GROUP BY fp),
        |idx1 AS (SELECT f.fp, min(f.doc) AS keep FROM fp f
        |         LEFT JOIN idx0 i ON f.fp = i.fp
        |         WHERE f.doc % 3 = 1 AND i.fp IS NULL GROUP BY f.fp),
        |idx AS (SELECT * FROM idx0 UNION ALL SELECT * FROM idx1),
        |batch AS (SELECT fp, min(doc) AS bkeep FROM fp
        |          WHERE doc % 3 = 2 GROUP BY fp)
        |SELECT f.doc, CAST(coalesce(i.keep, b.bkeep) AS BIGINT) AS keep_id,
        |  coalesce(i.keep, b.bkeep) <> f.doc AS dup
        |FROM fp f
        |LEFT JOIN idx i ON f.fp = i.fp
        |JOIN batch b ON f.fp = b.fp
        |WHERE f.doc % 3 = 2
        |ORDER BY f.doc""".stripMargin,

    // shard-parallel build + merge: the merge's cross-shard report
    // (decisions for shard B's keepers against shard A, first-indexed
    // wins) followed by a probe of the %3==2 increment against the
    // merged index — which must equal the sequential-lifecycle probe
    "dedup_index_merged" ->
      """WITH fp AS (
        |  SELECT doc_id AS doc,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |idx0 AS (SELECT fp, min(doc) AS keep FROM fp
        |         WHERE doc % 3 = 0 GROUP BY fp),
        |bk AS (SELECT fp, min(doc) AS doc FROM fp
        |       WHERE doc % 3 = 1 GROUP BY fp),
        |report AS (
        |  SELECT b.doc, CAST(coalesce(i.keep, b.doc) AS BIGINT) AS keep_id,
        |    i.fp IS NOT NULL AS dup
        |  FROM bk b LEFT JOIN idx0 i ON b.fp = i.fp),
        |idx1 AS (SELECT b.fp, b.doc AS keep FROM bk b
        |         LEFT JOIN idx0 i ON b.fp = i.fp WHERE i.fp IS NULL),
        |idx AS (SELECT * FROM idx0 UNION ALL SELECT * FROM idx1),
        |batch AS (SELECT fp, min(doc) AS bkeep FROM fp
        |          WHERE doc % 3 = 2 GROUP BY fp),
        |probe AS (
        |  SELECT f.doc, CAST(coalesce(i.keep, b.bkeep) AS BIGINT) AS keep_id,
        |    coalesce(i.keep, b.bkeep) <> f.doc AS dup
        |  FROM fp f
        |  LEFT JOIN idx i ON f.fp = i.fp
        |  JOIN batch b ON f.fp = b.fp
        |  WHERE f.doc % 3 = 2)
        |SELECT doc, keep_id, dup FROM report
        |UNION ALL SELECT doc, keep_id, dup FROM probe
        |ORDER BY doc""".stripMargin,

    "dedup_normalized" ->
      """WITH un AS (
        |  SELECT doc_id, replace(text, 'a', 'á') AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, replace(text, 'a', 'á') AS text
        |  FROM documents)
        |SELECT md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))) AS fp,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n
        |FROM un GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // same rule, replayed for the spark.sql-surface variant
    "sql_dedup_normalized" ->
      """WITH un AS (
        |  SELECT doc_id, replace(text, 'a', 'á') AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, replace(text, 'a', 'á') AS text
        |  FROM documents)
        |SELECT md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))) AS fp,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n
        |FROM un GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |ef AS (SELECT * FROM e WHERE sg NOT IN (
        |  SELECT sg FROM e GROUP BY sg HAVING count(*) > 128)),
        |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM ef a JOIN ef b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        |FROM inter
        |JOIN sz sa ON sa.doc_id = d1
        |JOIN sz sb ON sb.doc_id = d2
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2
        |ORDER BY d1, d2""".stripMargin,

    "decontam_pairs" -> decontamSql,

    // the Bloom prefilter is exact (no false negatives, full-set
    // sizes) — the plain decontamination oracle is shared verbatim
    "decontam_bloom" -> decontamSql,
    // the streamed union of per-batch probes ≡ the one-shot
    // cross-corpus join — same oracle verbatim
    "stream_decontam" -> decontamSql,

    // drift-gated curation: the drift SQL decides per-batch
    // accept/divert with the same bit-exact TV fold, then the
    // curation stages replay over the accepted side only
    "stream_quarantine" -> {
      val stagedCte =
        """SELECT doc_id, text, source, coalesce(lang, '<null>') AS dim FROM documents
          |  UNION ALL
          |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
          |         text, source, coalesce(lang, '<null>') AS dim
          |  FROM documents WHERE lang = 'en'""".stripMargin
      s"""WITH ${driftCtes(stagedCte)},
         |acc AS (SELECT bd.* FROM bd JOIN al ON al.bid = bd.bid
         |        WHERE NOT (al.tv > 0.3)),
         |qr AS (SELECT bd.doc_id FROM bd JOIN al ON al.bid = bd.bid
         |       WHERE al.tv > 0.3),
         |${curationKeptCtes("acc")}
         |SELECT doc_id, 'kept' AS status FROM k WHERE doc_id = keep
         |UNION ALL SELECT doc_id, 'quarantined' AS status FROM qr
         |ORDER BY doc_id""".stripMargin
    },

    // the drift monitor's staging, id-range batching, and
    // value-sorted sequential TV fold, replayed bit-for-bit (the
    // 0.0-seeded foldLeft and the list_reduce agree exactly:
    // 0.0 + x = x in IEEE, so both are the left-assoc term sum)
    "stream_drift_monitor" -> driftMonitorSql(
      """SELECT doc_id, coalesce(lang, '<null>') AS dim FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, coalesce(lang, '<null>') AS dim
        |  FROM documents WHERE lang = 'en'""".stripMargin),

    // numeric drift through the same monitor: the bucketed length
    // histogram (the documented numeric pattern) with a
    // doubled-length tail — same bit-exact TV replay
    "stream_drift_numeric" -> driftMonitorSql(
      """SELECT doc_id,
        |    coalesce(CAST(CAST(floor(length(text) / 200) AS BIGINT) AS VARCHAR), '<null>') AS dim
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |    coalesce(CAST(CAST(floor(length(text || ' ' || text) / 200) AS BIGINT) AS VARCHAR), '<null>') AS dim
        |  FROM documents""".stripMargin),

    "dedup_jaccard_prefix" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        |FROM inter
        |JOIN sz sa ON sa.doc_id = d1
        |JOIN sz sb ON sb.doc_id = d2
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "dedup_drop_neardups" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |ef AS (SELECT * FROM e WHERE sg NOT IN (
        |  SELECT sg FROM e GROUP BY sg HAVING count(*) > 128)),
        |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM ef a JOIN ef b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON sa.doc_id = d1
        |  JOIN sz sb ON sb.doc_id = d2
        |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |comp AS (SELECT a AS doc, LEAST(a, min(b)) AS cluster
        |         FROM reach GROUP BY a)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc FROM comp WHERE cluster < doc)
        |ORDER BY doc_id""".stripMargin,

    // same transitive closure, but the representative is the
    // HIGHEST-n_chars doc per cluster (ties to the smallest id)
    "dedup_drop_neardups_best" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |ef AS (SELECT * FROM e WHERE sg NOT IN (
        |  SELECT sg FROM e GROUP BY sg HAVING count(*) > 128)),
        |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM ef a JOIN ef b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON sa.doc_id = d1
        |  JOIN sz sb ON sb.doc_id = d2
        |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |comp AS (SELECT a AS doc, LEAST(a, min(b)) AS cluster
        |         FROM reach GROUP BY a),
        |ranked AS (
        |  SELECT c.doc,
        |    row_number() OVER (PARTITION BY c.cluster
        |      ORDER BY dd.n_chars DESC, c.doc) AS rn
        |  FROM comp c JOIN documents dd ON dd.doc_id = c.doc)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc FROM ranked WHERE rn > 1)
        |ORDER BY doc_id""".stripMargin,

    // the url column is synthesized with the same crawl-variant
    // decorations, canonicalized by the same regexes
    "dedup_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'http://' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 2 = 1 THEN 'www.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
        |    '.example.com/doc/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed'
        |          WHEN doc_id % 5 = 1 THEN '/'
        |          WHEN doc_id % 5 = 2 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\.', '') ||
        |    (CASE WHEN regexp_replace(regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') = ''
        |      THEN '/'
        |      ELSE regexp_replace(regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '')
        |      END) AS curl
        |  FROM u),
        |k AS (SELECT doc_id, curl,
        |    min(doc_id) OVER (PARTITION BY curl) AS keep FROM c)
        |SELECT doc_id, curl FROM k WHERE doc_id = keep ORDER BY doc_id""".stripMargin,

    // the same transitive closure, reduced to the family-size
    // histogram (cluster label = its min member id)
    "dedup_family_sizes" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |ef AS (SELECT * FROM e WHERE sg NOT IN (
        |  SELECT sg FROM e GROUP BY sg HAVING count(*) > 128)),
        |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM ef a JOIN ef b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz sa ON sa.doc_id = d1
        |  JOIN sz sb ON sb.doc_id = d2
        |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |comp AS (SELECT a AS doc, LEAST(a, min(b)) AS cluster
        |         FROM reach GROUP BY a)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs
        |FROM comp GROUP BY cluster ORDER BY cluster""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_curation" ->
      """WITH tok AS (SELECT doc_id, lang, source,
        |    string_split(text, ' ') AS ws,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |         i -> ws[i] || ' ' || ws[i+1])) AS g FROM tok WHERE len(ws) >= 2),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
        |bagg AS (SELECT doc_id,
        |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
        |  FROM bc GROUP BY 1),
        |keep AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY fp),
        |filtered AS (
        |  SELECT t.doc_id, t.lang, t.source,
        |    CAST(len(t.ws) AS BIGINT) AS n_tokens
        |  FROM tok t
        |  JOIN keep k ON t.doc_id = k.doc_id
        |  LEFT JOIN bagg b ON t.doc_id = b.doc_id
        |  WHERE len(t.ws) >= 30 AND COALESCE(b.top_bigram_frac, 0.0) <= 0.5),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rk FROM filtered)
        |SELECT doc_id, lang, source, n_tokens
        |FROM ranked WHERE rk <= 15 ORDER BY doc_id""".stripMargin,

    "seq_packing" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
        |  CAST(cum_before // 2048 AS BIGINT) AS seq_first,
        |  CAST((cum_before + n_tokens - 1) // 2048 AS BIGINT) AS seq_last
        |FROM c ORDER BY doc""".stripMargin,

    // the same exclusive prefix sum, but the packing order is the
    // curriculum (n_chars, doc_id) instead of id order
    "corpus_curriculum_pack" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY n_chars, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id AS doc, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
        |  CAST(cum_before // 2048 AS BIGINT) AS seq_first,
        |  CAST((cum_before + n_tokens - 1) // 2048 AS BIGINT) AS seq_last
        |FROM c ORDER BY doc""".stripMargin,

    "text_dup_lines" ->
      """WITH t(doc_id, text) AS (VALUES
        |  (1, 'a b' || chr(10) || 'c d' || chr(10) || 'a b' || chr(10) || 'a b'),
        |  (2, 'only one line'),
        |  (3, 'x' || chr(10) || 'y' || chr(10) || 'z' || chr(10) || 'x' || chr(10) || 'y'),
        |  (4, 'dup' || chr(10) || 'dup' || chr(10) || 'dup' || chr(10) || 'dup'))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  round(1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
        |    / len(string_split(text, chr(10))), 4) AS dup_line_frac
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |         i -> ws[i] || ' ' || ws[i+1])) AS g FROM tok WHERE len(ws) >= 2),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
        |bagg AS (SELECT doc_id,
        |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
        |  FROM bc GROUP BY 1),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM tok WHERE len(ws) >= 3),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
        |tagg AS (SELECT doc_id,
        |    round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(c), 4) AS dup_trigram_frac
        |  FROM tc GROUP BY 1)
        |SELECT d.doc_id AS doc,
        |  coalesce(bagg.top_bigram_frac, 0.0) AS top_bigram_frac,
        |  coalesce(tagg.dup_trigram_frac, 0.0) AS dup_trigram_frac
        |FROM documents d
        |LEFT JOIN bagg ON d.doc_id = bagg.doc_id
        |LEFT JOIN tagg ON d.doc_id = tagg.doc_id
        |ORDER BY doc""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws, n_chars FROM documents)
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_tokens,
         |  round(CAST(n_chars AS DOUBLE) / len(ws), 4) AS chars_per_token,
         |  round(CAST(len(list_filter(ws, w -> w IN $stopwordsSqlList)) AS DOUBLE) / len(ws), 4) AS stopword_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |    / length(text), 4) AS punct_ratio,
         |  round(least(1.0, len(ws) / 100.0)
         |    * (0.5 + 0.5 * least(1.0,
         |        (CAST(len(list_filter(ws, w -> w IN $stopwordsSqlList)) AS DOUBLE) / len(ws)) * 5.0)), 4) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // checked columns are the exact percentiles; the KLL-style sketch
    // is verified in-query against them (5% bound) before returning
    "q_approx_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 2) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 2) AS p90,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // ============================== engine ops (rows-only checks) ========

  val ops: Map[String, Q] = Map(
    "lang_id" -> ((s, d) =>
      tbl(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.pipeline.TextAnalysis.langId(col("text")).as("pred"))
        .select(col("doc_id"), col("lang"), col("pred._1").as("lang_pred"),
          round(col("pred._2"), 4).as("lang_score"))
        .orderBy(col("doc_id"))),

    "minhash_pairs" -> ((s, d) =>
      graft.pipeline.Dedup.minhashCandidatePairs(
        tbl(s, d, "documents"), "text", "doc_id",
        w = 3, bands = 16, rows = 4, threshold = 0.2)
        .orderBy(col("d1"), col("d2"))),

    "simhash_pairs" -> ((s, d) =>
      graft.pipeline.Dedup.simhashPairs(
        tbl(s, d, "documents"), "text", "doc_id", maxDist = 12)
        .orderBy(col("d1"), col("d2"))),

    "lsh_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Similarity.lshTopK(
        emb.select(col("vec_id"), col("embedding")),
        emb.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", k = 5, dim = 64)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "embed_neardup_lsh" -> ((s, d) => {
      // LSH bucket as the blocking key for cosine near-dup — the
      // 100 TB shape (no label column needed, all equi-joins)
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Dedup.cosinePairsBlocked(
        emb.select(col("vec_id"), col("embedding"),
          graft.pipeline.Similarity.hyperplaneSig(col("embedding"), 64, bits = 8)
            .as("bucket")),
        "embedding", "vec_id", "bucket", threshold = 0.3)
        .select(col("d1").as("v1"), col("d2").as("v2"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    "vdb_topk_big" -> ((s, d) => {
      // flagship retrieval at a meaningful corpus size: the embedding
      // table replicated 128x with shifted ids (deterministic), then
      // exact cosine top-5 — scan + codegen kernel +
      // TakeOrderedAndProject; no shuffle of vectors
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val n = 128
      val big = emb.crossJoin(
          emb.sparkSession.range(0, n).select(col("id").as("rep")))
        .select((col("vec_id") * n + col("rep")).as("vec_id"), col("embedding"))
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      big.crossJoin(broadcast(q))
        .select(col("vec_id"), cosineSimD(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    "ivf_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.search(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_deleted" -> ((s, d) => {
      // DELETION lifecycle for the vector index: assign the corpus
      // PLUS rotated decoy vectors under the frozen quantizer, then
      // delete the decoys inside the crash-safe rewrite swap; search
      // must equal the one-shot build over the real vectors — the
      // ivf_topk golden pins the pass
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivf_del")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx)
      graft.pipeline.Ivf.deleteVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_tombstoned" -> ((s, d) => {
      // LSM-style deletion at SERVING latency: the decoys are
      // tombstoned (an O(|ids|) sidecar append — NO rewrite), and
      // the serving read masks them IMMEDIATELY via the broadcast
      // anti-join — this row serves the still-unrewritten layout and
      // must equal the decoy-free golden (the physical fold is
      // pinned by stream_forget and the spec)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivf_tomb")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.search(
          graft.pipeline.Ivf.readIndexServing(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_forget" -> ((s, d) => {
      // RIGHT-TO-BE-FORGOTTEN ON INGEST: erasure requests arrive as
      // a stream, each microbatch tombstones at serving latency, the
      // physical rewrite amortizes over foldEvery batches, and the
      // run closes with an empty mask — the post-ingest serve must
      // equal the decoy-free golden (a surviving posting OR a
      // leftover mask row would mismatch)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val root = graft.core.Scratch.dir("sforget_q")
      val idx = root.resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx)
      val src = root.resolve("requests.parquet").toString
      decoys.select(col("vec_id")).write.parquet(src)
      graft.streaming.StreamingForget.ingest(s, src, "vec_id", idx,
        nBatches = 3, foldEvery = 2)
      graft.pipeline.Ivf.search(
          graft.pipeline.Ivf.readIndexServing(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_upserted" -> ((s, d) => {
      // UPSERT (replace-by-id): the index is first built with STALE
      // vectors for the query ids (scrambled embeddings — they'd own
      // wrong neighbors), then the correct vectors upsert under the
      // same ids; the serve must equal the one-shot build over the
      // true corpus — a surviving stale posting OR a double-indexed
      // id both mismatch the golden
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val stale = emb.where(col("vec_id") < 50)
        .select(col("vec_id"),
          concat(slice(col("embedding"), 8, 57),
            slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivf_ups")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(
          emb.where(col("vec_id") >= 50).unionByName(stale), "embedding",
          model), idx)
      graft.pipeline.Ivf.upsertVectors(emb.where(col("vec_id") < 50),
        "embedding", "vec_id", model, idx)
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_versioned" -> ((s, d) => {
      // versioned upsert at SERVING latency (no rewrite): stale
      // vectors for the query ids are built at seq 0, the corrected
      // vectors upsert at seq 1 as an O(|batch|) append + sidecar
      // merge, and the serve masks superseded versions GLOBALLY (a
      // re-embedded vector usually lands in a different cluster, so
      // candidate-local latest-wins would serve stale copies) — the
      // masked serve must equal the one-shot golden over the true
      // corpus while both versions' bytes still sit in the layout
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val stale = emb.where(col("vec_id") < 50)
        .select(col("vec_id"),
          concat(slice(col("embedding"), 8, 57),
            slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivf_ver")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexVersioned(
        graft.pipeline.Ivf.assign(
          emb.where(col("vec_id") >= 50).unionByName(stale), "embedding",
          model), idx)
      graft.pipeline.Ivf.upsertVersioned(emb.where(col("vec_id") < 50),
        "embedding", "vec_id", model, idx, seq = 1L)
      graft.pipeline.Ivf.search(
          graft.pipeline.Ivf.readIndexLatest(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_upsert" -> ((s, d) => {
      // MODIFIED-DOCUMENT ingest: corrected vectors stream in as
      // microbatches (seq = batchId + 1), each an O(|batch|) append
      // + sidecar merge; the run closes with a version fold, so the
      // post-ingest layout is physically latest-only and the
      // one-shot golden over the corrected corpus pins the path —
      // a surviving stale version OR a lost correction mismatches
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val stale = emb.where(col("vec_id") < 50)
        .select(col("vec_id"),
          concat(slice(col("embedding"), 8, 57),
            slice(col("embedding"), 1, 7)).as("embedding"))
      val root = graft.core.Scratch.dir("supsert_q")
      val idx = root.resolve("index").toString
      graft.pipeline.Ivf.writeIndexVersioned(
        graft.pipeline.Ivf.assign(
          emb.where(col("vec_id") >= 50).unionByName(stale), "embedding",
          model), idx)
      val src = root.resolve("corrections.parquet").toString
      emb.where(col("vec_id") < 50).write.parquet(src)
      graft.streaming.StreamingUpsert.ingest(s, src, "vec_id",
        "embedding", model, idx, nBatches = 3)
      graft.pipeline.Ivf.search(
          graft.pipeline.Ivf.readIndexLatest(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_filtered_tombstoned" -> ((s, d) => {
      // COMPOSITION: payload filter + tombstone mask on one serve —
      // decoys carry label 3 (they'd pass the filter and own slots
      // if the mask leaked through the filtered probe) and are
      // tombstoned; the filtered serve over the masked read must
      // equal DuckDB brute force over the predicate on the TRUE
      // corpus — either machinery failing alone breaks the row
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.where(col("label") === 3)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding"), col("label"))
      val idx = graft.core.Scratch.dir("ivf_ft")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.searchFiltered(
          graft.pipeline.Ivf.readIndexServing(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_index_health" -> ((s, d) => {
      // the operational one-row health surface: physical postings,
      // mask size, live count, append debris, imbalance — counts
      // the oracle recomputes from the corpus directly (decoys =
      // one verbatim copy of the corpus, all tombstoned; two appends
      // leave 2 files per touched dir before any compaction)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"))
      val idx = graft.core.Scratch.dir("ivf_health")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.indexHealth(s, idx, "vec_id")
        .select(col("postings"), col("tombstoned"), col("live"))
    }),

    "ivf_topk_incremental" -> ((s, d) => {
      // incremental index maintenance: build the on-disk index from
      // half the corpus, APPEND the rest against the frozen quantizer
      // (no retrain, no rewrite), search the grown index — results
      // must equal the one-shot build, so the oracle is the ivf_topk
      // golden itself
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", model), idx)
      graft.pipeline.Ivf.appendToIndex(emb.where(col("vec_id") > half),
        "embedding", model, idx)
      // compaction is contents-invariant, so the one-shot oracle
      // also pins the compacted layout — the full incremental
      // lifecycle (build, append, compact, search) in one green row
      graft.pipeline.Ivf.compactIndex(s, idx)
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_filtered" -> ((s, d) => {
      // PAYLOAD-FILTERED ANN (the reference's filter-inside-search,
      // app.py:250-263) under a filter so selective (< k matches)
      // that the adaptive probe-widening MUST escalate to the
      // exhaustive probe — at which point the result is EXACT over
      // the filtered corpus, so the oracle is DuckDB brute force
      // over the same predicate: the strongest oracle an ANN row
      // can have, and it fails if the widening loop under-fills
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.searchFiltered(postings,
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // PAYLOAD-PARTITIONED filtered serve — the payload-index analog:
    // the layout carries label as a SECONDARY partition key, so the
    // filter's label=3 leg prunes whole directories out of every
    // probe scan (PartitionFilters — spec-pinned on the plan) while
    // serving semantics are unchanged: same adaptive widening, same
    // exhaustive-exact floor, same DuckDB brute-force oracle as the
    // row-filtered twin
    // …now with the payload layout's DELETE story: decoy copies of
    // the query vectors, crafted to pass the payload filter (label 3,
    // id ≡ 0 mod 13 — they would own every rank-1 slot with self-cos
    // scores), are tombstoned; the masked serve AND the post-fold
    // serve (foldTombstones REBUILDS with the discovered payload
    // key set — the one maintenance op the rebuild-only guards admit)
    // must both equal the decoy-free brute force
    "ivf_topk_payload_pruned" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_paypart")
        .resolve("index").toString
      val decoys = emb.where(col("vec_id") < 10)
        .select(((col("vec_id") + 7000000L) * 13L).as("vec_id"),
          col("embedding"), lit(3).as("label"))
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), idx, payloadCols = Seq("label"))
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      def serve() = graft.pipeline.Ivf.searchFiltered(
          graft.pipeline.Ivf.readIndexServing(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
      val masked = serve().withColumn("stage", lit("masked"))
        .localCheckpoint(true)
      graft.pipeline.Ivf.foldTombstones(s, idx, "vec_id")
      masked.unionByName(serve().withColumn("stage", lit("folded")))
        .select(col("stage"), col("qid"), col("nid"), col("sim"), col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // the payload-partitioned lifecycle asymmetry, closed: a layout
    // built with payload dirs GROWS through the payload-aware append
    // (full-depth partitionBy discovered from the layout itself) and
    // the grown layout's filtered serve at the exhaustive probe IS
    // brute force over the filtered union corpus — same contract as
    // a one-shot build, so the mirror needs no golden
    "ivf_topk_payload_appended" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_payapp")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", model), idx, payloadCols = Seq("label"))
      graft.pipeline.Ivf.appendToIndexPayload(
        emb.where(col("vec_id") > half), "embedding", model, idx)
      graft.pipeline.Ivf.searchFiltered(
          graft.pipeline.Ivf.readIndexServing(s, idx, "vec_id"),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3, nprobe0 = 16)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the QUANTIZED payload-append (the last payload lifecycle
    // asymmetry): an int8 payload layout grown through
    // appendToIndexPayloadQuantized — the increment encoded through
    // the layout's own _codec identity under the verified frozen
    // model — serves exactly the one-shot full-corpus int8 golden
    // (assignment and int8 encoding are pure per-row functions, and
    // the payload dirs don't enter an unfiltered probe)
    "ivf_topk_payload_appended_int8" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_payappq")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", model), "embedding", idx,
        payloadCols = Seq("label"), model = Some(model))
      graft.pipeline.Ivf.appendToIndexPayloadQuantized(
        emb.where(col("vec_id") > half), "embedding", model, idx)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10).drop("label"), "embedding",
          "vec_id", model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_filtered_recall" -> ((s, d) => {
      // the fill guarantee at REAL selectivity (~10% of the corpus
      // matches): nprobe0 = 1 would under-fill nearly every query —
      // the adaptive loop must widen until each of the 10 queries
      // holds k survivors. Golden is the Python mirror replaying
      // the identical widening schedule, fill check, and scoring —
      // any under-filled query or wrong survivor mismatches
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.searchFiltered(postings,
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3, nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // recall@k of the filtered probe against brute force OVER THE
    // FILTERED CORPUS — the number a deployment checks before
    // trusting filter-inside-search (truth and approx both respect
    // the predicate; the DuckDB mirror recomputes both sides)
    "ann_recall_ivf_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val qs = emb.where(col("vec_id") < 10)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            emb.where(col("label") === 3), qs, "embedding", "vec_id", k = 5),
          graft.pipeline.Ivf.searchFiltered(postings, qs, "embedding",
            "vec_id", model, k = 5, filter = col("label") === 3,
            nprobe0 = 1),
          k = 5)
        .orderBy(col("qid"))
    }),

    "ivf_topk_pq_filtered" -> ((s, d) => {
      // filter-inside-search on the QUANTIZED serving layout: the
      // payload column rides the persisted codes index (written with
      // the postings, pruned in the parquet scan below the probe),
      // and with < k matches the widening escalates to the
      // exhaustive probe whose ADC shortlist then holds EVERY match
      // — the exact rescore makes the row byte-equal to DuckDB brute
      // force over the predicate, same oracle as the float row
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 256, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      val idx = graft.core.Scratch.dir("ivf_pq_filt")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPq(postings, "embedding", pq, model, idx)
      graft.pipeline.Ivf.searchPqIndexFiltered(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.select(col("vec_id"), col("embedding")),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          graft.pipeline.Ivf.loadModel(s, graft.pipeline.Ivf.modelPath(idx)),
          graft.pipeline.Ivf.loadPq(s, idx), k = 5,
          filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_pqr_filtered" -> ((s, d) => {
      // filter-inside-search on the RESIDUAL codes layout (IVF-ADC),
      // serving from the reloaded (coarse, codebook) pair — with < k
      // matches the widening escalates to the exhaustive probe whose
      // shortlist holds every match, so the exact rescore meets the
      // same brute-force oracle as the float and raw-PQ rows: all
      // four serving layouts now carry gate-green filtered serves
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding",
        "vec_id", model, m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_pqr_filt")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPqResidual(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding",
        pq, model, idx)
      graft.pipeline.Ivf.searchPqResidualIndexFiltered(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.select(col("vec_id"), col("embedding")),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          graft.pipeline.Ivf.loadModel(s, graft.pipeline.Ivf.modelPath(idx)),
          graft.pipeline.Ivf.loadPq(s, idx), k = 5,
          filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_int8_filtered" -> ((s, d) => {
      // filter-inside-search on the int8 codes layout at ~10%
      // selectivity from nprobe0=1 — the payload rides the persisted
      // codes, the candidate path reads codes bytes only, and the
      // per-query widening schedule is replayed by the mirror with
      // the exact-integer int8 scorer (int8 sims aren't
      // SQL-expressible, so the golden carries the oracle) — with
      // this row every filtered serving layout is gate-green
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_i8_filt")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding",
        idx)
      graft.pipeline.Ivf.searchCodesFiltered(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, filter = col("label") === 3, nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_tune_nprobe" -> ((s, d) => {
      // the serving-knob tuner: doubling nprobe sweep with
      // micro-averaged recall@5 (one integer division — engine- and
      // partitioning-exact), stopping at the first step meeting the
      // 0.9 target; the Python mirror replays the identical sweep,
      // stopping rule, and division
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      graft.pipeline.Ivf.tuneNprobe(
          graft.pipeline.Ivf.assign(emb, "embedding", model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, targetRecall = 0.9)
        .orderBy(col("nprobe"))
    }),

    "ivf_index_stats" -> ((s, d) => {
      // the DRIFT ALARM: per-list sizes of the persisted index from
      // parquet metadata only (the scan projects zero columns — row
      // counts come from row-group footers). Golden is the Python
      // mirror's count over every row's deterministic assignment — a
      // stronger pin than top-k rows, since any single flipped
      // assignment shifts two counts
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_stats")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb, "embedding", model), idx)
      graft.pipeline.Ivf.indexStats(s, idx)
        .select(col("cluster").cast(IntegerType).as("cluster"),
          col("size"))
        .orderBy(col("cluster"))
    }),

    "ivf_topk_reclustered" -> ((s, d) => {
      // index-maintenance RECLUSTER lifecycle: build from the low
      // half under a STALE quantizer trained on that half only,
      // append the (drifted-relative-to-training) high half, then
      // recluster — retrain on the index's own contents and rewrite
      // the postings reassigned. TrainSample determinism makes the
      // retrained model bit-identical to Ivf.train over the union,
      // so search afterwards must equal the one-shot ivf_topk golden
      // — which fails loudly if the rewrite kept any stale
      // assignment or dropped a posting
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      val stale = graft.pipeline.Ivf.train(emb.where(col("vec_id") <= half),
        "embedding", "vec_id", nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_rec")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", stale), idx)
      graft.pipeline.Ivf.appendToIndex(emb.where(col("vec_id") > half),
        "embedding", stale, idx)
      val fresh = graft.pipeline.Ivf.recluster(s, idx, "embedding",
        "vec_id", nlist = 16, iters = 3)
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", fresh,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_int8" -> ((s, d) => {
      // quantized IVF: cluster pruning bounds WHICH postings, int8
      // codes bound the BYTES — golden-checked against the Python
      // mirror (same deterministic k-means, exact integer scoring)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.searchInt8(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the PERSISTED int8 lifecycle: cluster-partitioned 1-byte-per-dim
    // codes on disk, served by searchCodes (queries quantize on the
    // fly; postings never touch a float) — ≡ the in-memory searchInt8
    // by construction, so the oracle is the ivf_topk_int8 golden
    "ivf_topk_int8_indexed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf8_idx")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // incremental maintenance for the QUANTIZED serving layout:
    // build the int8 codes index from half the corpus, APPEND the
    // rest encoded under the frozen model (no rebuild from float
    // postings), serve — encoding is pure, so the grown layout ≡ the
    // one-shot build and the ivf_topk_int8 golden pins it
    "ivf_topk_int8_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf8_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.appendToIndexInt8(emb.where(col("vec_id") > half),
        "embedding", model, idx)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // SEGMENT MERGE — the distributed build topology: two shard
    // indexes built independently under ONE frozen quantizer, then
    // absorbed file-move-wise (Ivf.mergeInto, metadata-only); the
    // merged serve must equal the one-shot build bit-for-bit, so the
    // oracle is the same ivf_topk_int8 golden
    // DENSE + SPARSE fusion — the modern two-tower serving stack
    // (dense embeddings × learned-sparse impacts) through the same
    // integer RRF as the BM25 hybrid; both input rankings are
    // SQL-expressible (exact cosine, exact integer dots), so the
    // whole fusion gets a direct DuckDB oracle with no golden
    "hybrid_dense_sparse" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.where(col("vec_id") < 4)
      val dense = graft.pipeline.Similarity.bruteForceTopK(emb, q,
          "embedding", "vec_id", k = 20)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      val sparse = graft.pipeline.Sparse.topK(
          graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"),
          graft.pipeline.Sparse.sparsify(q, "embedding", "vec_id"), k = 20)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      graft.pipeline.Hybrid.rrfFuse(Seq(dense, sparse), k = 10)
        .select(col("qid"), col("doc"), col("rrf_fp"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // TRI-MODAL fusion — the full modern retrieval stack in one
    // query: BM25 lexical + dense cosine + learned-sparse integer
    // dots, fused by the same integer RRF. One rank list per
    // modality per query id; the lexical ranking replays the bm25
    // golden, the other two are SQL-exact
    "hybrid_trimodal" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.where(col("vec_id") < 3)
      val lex = graft.pipeline.Bm25.topK(s, docs, "text", "doc_id",
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .select(col("qid"), col("doc"), col("rk"))
      val dense = graft.pipeline.Similarity.bruteForceTopK(emb, q,
          "embedding", "vec_id", k = 10)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      val sparse = graft.pipeline.Sparse.topK(
          graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"),
          graft.pipeline.Sparse.sparsify(q, "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      graft.pipeline.Hybrid.rrfFuse(Seq(lex, dense, sparse), k = 10)
        .select(col("qid"), col("doc"), col("rrf_fp"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the END-TO-END production-serving row: the way a deployed RAG
    // system actually runs the round's tiers COMPOSED — all three
    // retrieval modalities from PERSISTED serving layouts, a payload
    // filter inside every tier's search, live tombstones masking a
    // shared decoy id set on every tier (BM25 stats keep the decoy
    // mass — Lucene model), and the dense layout served AFTER a
    // corrupt-and-restore DR drill. Pins the INTERACTIONS (mask x
    // filter x fusion ordering, restore x serve) that the
    // per-feature rows cannot see.
    "hybrid_trimodal_filtered_tombstoned" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.where(col("vec_id") < 3)
      val decoyDocs = docs.where(col("doc_id") < 4)
        .select((col("doc_id") + 90000000L).as("doc_id"), col("text"))
      val decoyVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("trimodal_prod")
        .toString
      val bmIdx = s"$root/bm25"
      val ivfIdx = s"$root/ivf"
      val spIdx = s"$root/sparse"
      graft.pipeline.Bm25.writeIndex(s, docs.unionByName(decoyDocs),
        "text", "doc_id", bmIdx)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val corpusVecs = emb.unionByName(decoyVecs)
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(corpusVecs, "embedding", model), ivfIdx)
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(corpusVecs, "embedding", "vec_id"),
        spIdx)
      // DR drill on the dense layout: snapshot, corrupt, restore
      graft.core.DirSnapshot.create(s, ivfIdx, s"$root/snap")
      val c0 = new org.apache.hadoop.fs.Path(s"$ivfIdx/cluster=0")
      c0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(c0, true)
      graft.core.DirSnapshot.restore(s, s"$root/snap", ivfIdx)
      // ONE decoy id list tombstones every tier (the shared id space)
      val decoyIds = decoyVecs.select(col("vec_id"))
      graft.pipeline.Bm25.tombstoneDocs(s, bmIdx, decoyIds)
      graft.pipeline.Ivf.tombstoneVectors(s, ivfIdx, decoyIds, "vec_id")
      graft.pipeline.Sparse.tombstoneDocs(s, spIdx, decoyIds)
      // filtered serve on every tier, then fuse
      val lex = graft.pipeline.Bm25.searchIndex(s, bmIdx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10,
          docFilter = Some(col("doc") % 2 === 0))
        .select(col("qid"), col("doc"), col("rk"))
      val dense = graft.pipeline.Ivf.searchFiltered(
          graft.pipeline.Ivf.readIndexServing(s, ivfIdx, "vec_id"),
          q, "embedding", "vec_id", model, k = 10,
          filter = col("vec_id") % 2 === 0, nprobe0 = 16)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      val sparse = graft.pipeline.Sparse.searchIndex(s, spIdx,
          graft.pipeline.Sparse.sparsify(q, "embedding", "vec_id"),
          k = 10, docFilter = Some(col("doc") % 2 === 0))
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      graft.pipeline.Hybrid.rrfFuse(Seq(lex, dense, sparse), k = 10)
        .select(col("qid"), col("doc"), col("rrf_fp"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // RECOMMEND-style query composition (the vector-db recommend
    // API): query = Σ positives − Σ negatives, folded sequentially
    // in doubles in ascending id order so the SQL mirror replays the
    // same vector bit-for-bit; examples excluded from results
    "ann_recommend" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      graft.pipeline.Similarity.recommendTopK(emb, "embedding", "vec_id",
          posIds = Seq(0L, 1L), negIds = Seq(2L), k = 10)
        .select(col("nid"), round(col("sim"), 6).as("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("rk"))
    }),

    // MULTI-VECTOR late interaction (ColBERT-family): docs are
    // 4-vector groups, queries 2-vector groups, score = Σ over query
    // vectors of the best per-pair cosine (fixed-point 1e9 — integer
    // max/sum, engine-exact). Scan truth first:
    "multivec_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      graft.pipeline.MultiVector.lateTopK(docVecs, queryVecs, k = 5,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the served PLAID-style decomposition (probe the per-vector IVF
    // cells → gather candidates' FULL vector sets → exact rescore):
    // at the exhaustive probe it must equal the scan truth
    "multivec_topk_indexed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // filter-inside-search on the late-interaction tier: the
    // predicate cuts candidates below the ranking window, the gather
    // still reads every vector of each filtered survivor, and at the
    // exhaustive probe the result IS brute force over the filtered
    // corpus
    "multivec_topk_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_filt")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")),
          docFilter = Some(col("doc") % 2 === 0))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the count-API on the late-interaction tier: live docs
    // (distinct over the masked doc-bucketed gather side) under a
    // payload filter — a doc counts ONCE however many token vectors
    // it carries, so the ivf/ postings side would be the wrong scan
    "multivec_count_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_count")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      graft.pipeline.MultiVector.tombstoneDocs(s, root,
        docVecs.where(col("doc") % 7 === 3).select(col("doc")).distinct())
      graft.pipeline.MultiVector.countDocs(s, root,
        Some(col("doc") % 2 === 0))
    }),

    // KEYSET scroll on the late-interaction tier: two filtered
    // doc-listing pages walked by last-id keyset through the pair's
    // live tombstone mask ≡ ordered LIMIT/OFFSET over the filtered
    // masked doc set
    "multivec_scroll" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_scroll")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      graft.pipeline.MultiVector.tombstoneDocs(s, root,
        docVecs.where(col("doc") % 7 === 3).select(col("doc")).distinct())
      val filt = Some(col("doc") % 2 === 0)
      val p1 = graft.pipeline.MultiVector.scroll(s, root, None, 20, filt)
        .localCheckpoint(true)
      // an empty page 1 (degenerate corpus) has no keyset — skip
      // page 2 rather than NPE on the null max
      val last = p1.agg(max(col("doc"))).head()
      val p2 = if (last.isNullAt(0)) p1.limit(0)
        else graft.pipeline.MultiVector.scroll(s, root,
          Some(last.getLong(0)), 20, filt)
      p1.withColumn("page", lit(1L))
        .unionByName(p2.withColumn("page", lit(2L)))
        .select(col("page"), col("doc"))
        .orderBy(col("page"), col("doc"))
    }),

    // multi-segment serve on the late-interaction tier: two pair
    // roots under one frozen quantizer, decoy docs carrying the
    // query's own vectors tombstoned in THEIR OWN segment only,
    // union-served at the exhaustive probe ≡ the decoy-free brute
    // force (a doc's vector set lives in exactly one segment, so
    // per-segment rescore scores ARE the union's)
    "multivec_topk_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("multivec_segs")
      val rootA = base.resolve("segA").toString
      val rootB = base.resolve("segB").toString
      val midDoc = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
      val decoys = emb.where(col("vec_id") < 4)
        .select(((col("vec_id") / 2).cast("long") + 90000000L).as("doc"),
          col("embedding").as("vec"))
      // parallel shard builds (disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.MultiVector.writeIndex(s,
          docVecs.where(col("doc") <= midDoc), model, rootA),
        () => graft.pipeline.MultiVector.writeIndex(s,
          docVecs.where(col("doc") > midDoc).unionByName(decoys), model,
          rootB))
      graft.pipeline.MultiVector.tombstoneDocs(s, rootB,
        decoys.select(col("doc")).distinct())
      graft.pipeline.MultiVector.searchSegments(s, Seq(rootA, rootB),
          queryVecs, model, k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // grouped (multi-tenant) serve on the late-interaction tier —
    // the last tier of the tenant matrix: top-3 per (query, tenant)
    // with tenant = doc % 3; one probe/gather/rescore pass, the rank
    // window gains the tenant key, and at the exhaustive probe each
    // tenant's rows are brute force over that tenant's docs
    "multivec_topk_grouped" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_grp")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      val docGroups = docVecs.select(col("doc")).distinct()
        .withColumn("grp", col("doc") % 3)
      graft.pipeline.MultiVector.searchIndexGrouped(s, root, queryVecs,
          model, k = 3, nprobe = 16, groupCol = "grp",
          docGroups = docGroups,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("grp"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("grp"), col("rk"))
    }),

    // tombstone deletes at serving latency on the late-interaction
    // tier: decoy docs carrying the query's own vectors (they would
    // own the top ranks with near-self scores) are masked at
    // candidate generation the instant the sidecar lands, and the
    // fold retires the mask into the physical two-layout rewrite —
    // BOTH stages must serve the decoy-free brute force
    "multivec_topk_tombstoned" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_tomb")
        .resolve("index").toString
      val decoys = emb.where(col("vec_id") < 4)
        .select(((col("vec_id") / 2).cast("long") + 90000000L).as("doc"),
          col("embedding").as("vec"))
      graft.pipeline.MultiVector.writeIndex(s,
        docVecs.unionByName(decoys), model, root)
      graft.pipeline.MultiVector.tombstoneDocs(s, root,
        decoys.select(col("doc")).distinct())
      def serve() = graft.pipeline.MultiVector.searchIndex(s, root,
          queryVecs, model, k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
      val masked = serve().withColumn("stage", lit("masked"))
      graft.pipeline.MultiVector.foldTombstones(s, root)
      val folded = serve().withColumn("stage", lit("folded"))
      masked.unionByName(folded)
        .select(col("stage"), col("qid"), col("doc"), col("score"), col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // replace-by-id on the late-interaction tier: docs 10..13 are
    // built with STALE vectors (query copies — near-self scores would
    // top the rankings), then upserted to their true vector sets; the
    // serve must equal the never-corrupted brute force
    "multivec_topk_upserted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_ups")
        .resolve("index").toString
      val staleDocs = Seq(10L, 11L, 12L, 13L)
      val stale = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 10L).as("doc"), col("embedding").as("vec"))
      graft.pipeline.MultiVector.writeIndex(s,
        docVecs.where(!col("doc").isInCollection(staleDocs))
          .unionByName(stale), model, root)
      graft.pipeline.MultiVector.upsertDocs(s, root,
        docVecs.where(col("doc").isInCollection(staleDocs)), model)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // snapshot/restore for the late-interaction PAIR: one snapshot
    // captures both sub-layouts (ivf + docs) consistently, the
    // corruption hits both (decoy append lands in each; a cluster
    // dir drop breaks the probe side), and the restored pair must
    // serve the pre-corruption brute force
    "multivec_topk_restored" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("multivec_restore")
      val root = base.resolve("pair").toString
      val snap = base.resolve("snap").toString
      graft.pipeline.MultiVector.writeIndex(s, docVecs, model, root)
      graft.core.DirSnapshot.create(s, root, snap)
      val decoys = emb.where(col("vec_id") < 4)
        .select(((col("vec_id") / 2).cast("long") + 90000000L).as("doc"),
          col("embedding").as("vec"))
      graft.pipeline.MultiVector.appendDocs(s, decoys, model, root)
      val c0 = new org.apache.hadoop.fs.Path(s"$root/ivf/cluster=0")
      c0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(c0, true)
      graft.core.DirSnapshot.restore(s, snap, root)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the late-interaction pair maintained ON INGEST: microbatches
    // assign once and append both sub-layouts; per-vector rows make
    // the grown pair serve identically to the one-shot even when a
    // doc's vectors straddle a batch boundary
    "stream_multivec_search" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("graft_smv_q")
        .resolve("index").toString
      graft.streaming.StreamingMultiVector.ingest(s, d, root, model,
        nBatches = 3, compactFilesPerDir = 2.0)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the FIFTH tier's segment-per-microbatch write path — the write
    // side of MultiVector.searchSegments, completing the ledger-free
    // streamed-segments story on every serving tier: batches split on
    // the DOC column so each doc's vector set lands whole in one
    // segment (the disjoint-docs contract per-segment Σ max-cos
    // needs), each segment carries its own verified _model witness;
    // the across-segments serve AND the post-mergeAll serve must both
    // equal the brute-force mirror
    "stream_multivec_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("smv_segs")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestMultiVec(s, d, root, model,
        nBatches = 4)
      def serve() = graft.pipeline.MultiVector.searchSegments(s,
          graft.streaming.StreamingSegments.segmentRoots(s, root),
          queryVecs, model, k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
      val across = serve().withColumn("stage", lit("segments"))
        .localCheckpoint(true)
      graft.streaming.StreamingSegments.mergeAllMultiVec(s, root,
        protectTail = false) // stream closed: no replay can occur
      across.unionByName(serve().withColumn("stage", lit("merged")))
        .select(col("stage"), col("qid"), col("doc"), col("score"),
          col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // in-stream tiered maintenance on the LATE-INTERACTION tier: 6
    // whole-doc microbatches with a cadence-2 fanout-2 tiered fold
    // leave {0..4 cascaded survivor, protected tail 5} on disk; the
    // mid-policy serve must replay the fixed-point brute force —
    // pinning that MultiVector.mergeInto's witness-verified pair
    // moves preserve the disjoint-docs contract through cascades
    "stream_multivec_segments_tiered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("smv_segs_tier")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestMultiVec(s, d, root, model,
        nBatches = 6, vecsPerDoc = 4, maintainEvery = 2, fanout = 2,
        minTierBytes = 1L << 40)
      val segs = graft.streaming.StreamingSegments.segmentRoots(s, root)
      require(segs.size == 2,
        s"cadence shape: {0..4 cascaded, tail 5} expected, got $segs")
      graft.pipeline.MultiVector.searchSegments(s, segs, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // SKEW STRESS on the late-interaction segments serve: one ~90%
    // segment beside slivers, split on the DOC column (whole
    // documents per batch — the disjoint-docs contract under
    // deliberate size skew). Per-segment Σ max-cos is only exact when
    // each doc's vector set lives whole in one segment, so this is
    // the tier where a skew-driven split bug would corrupt SCORES,
    // not just counts; the serve must replay the brute force.
    "multivec_segments_skewed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("mv_segs_skew")
        .resolve("segments").toString
      val n = docVecs.agg(max(col("doc"))).head().getLong(0) + 1
      val cuts = Seq(0L, n * 90 / 100, n * 94 / 100, n * 98 / 100, n)
      cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) => () =>
        graft.streaming.StreamingSegments.processBatchMultiVec(s,
          docVecs.where(col("doc") >= lo && col("doc") < hi), model, root,
          i.toLong): Unit
      }.toSeq match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.MultiVector.searchSegments(s,
          graft.streaming.StreamingSegments.segmentRoots(s, root),
          queryVecs, model, k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // grown late-interaction pair ≡ one-shot (one assignment pass
    // feeds both sub-layouts per increment; disjoint docs)
    "multivec_topk_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_inc")
        .resolve("index").toString
      val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
      graft.pipeline.MultiVector.writeIndex(s,
        docVecs.where(col("doc") <= mid), model, root)
      graft.pipeline.MultiVector.appendDocs(s,
        docVecs.where(col("doc") > mid), model, root)
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // right-to-be-forgotten on the late-interaction tier,
    // decoy-oracled: decoys are the query groups re-labeled as docs
    // (max-sim 1.0 per query vector — they would own every rank-1)
    "multivec_topk_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val decoys = queryVecs.select((col("qid") + 90000L).as("doc"),
        col("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("multivec_del")
        .resolve("index").toString
      graft.pipeline.MultiVector.writeIndex(s,
        docVecs.unionByName(decoys), model, root)
      graft.pipeline.MultiVector.deleteDocs(s, root,
        decoys.select(col("doc")))
      graft.pipeline.MultiVector.searchIndex(s, root, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // shard-parallel late-interaction build + merge ≡ one-shot
    "multivec_topk_merged" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("embedding").as("vec"))
      val queryVecs = emb.where(col("vec_id") < 4)
        .select((col("vec_id") / 2).cast("long").as("qid"),
          col("embedding").as("vec"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("multivec_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
      // parallel shard builds (disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.MultiVector.writeIndex(s,
          docVecs.where(col("doc") <= mid), model, shardA),
        () => graft.pipeline.MultiVector.writeIndex(s,
          docVecs.where(col("doc") > mid), model, shardB))
      graft.pipeline.MultiVector.mergeInto(s, shardA, shardB)
      graft.pipeline.MultiVector.searchIndex(s, shardA, queryVecs, model,
          k = 5, nprobe = 16,
          excludeDoc = Some((q, dc) => dc === (q / 2).cast("long")))
        .select(col("qid"), col("doc"), col("score"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // EXACT range (radius) search over the cluster-partitioned
    // layout: every neighbor with cosine ≥ τ, cell-pruned by the
    // sound per-cluster radius bound (this corpus is near-uniform on
    // the sphere, so the bound admits everything here — the clustered
    // pruning is spec-pinned; correctness is brute-force exact either
    // way, which is exactly what the direct-SQL oracle checks)
    "ivf_range_search" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_range")
        .resolve("index").toString
      val assigned = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.writeIndex(assigned, idx)
      graft.pipeline.RangeSearch.appendRadii(s, assigned, "embedding",
        model, idx)
      graft.pipeline.RangeSearch.search(s, idx,
          emb.where(col("vec_id") < 4), "embedding", "vec_id", model,
          tau = 0.3)
        .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
        .orderBy(col("qid"), col("nid"))
    }),

    // filter-inside-search on the range tier: the predicate pushes
    // to the postings scan below the radius cut, the cell prune is
    // unchanged (radii bound the FULL membership — over-admitting,
    // the sound direction), and the result is brute force over the
    // filtered corpus
    "ivf_range_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_range_filt")
        .resolve("index").toString
      val assigned = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.writeIndex(assigned, idx)
      graft.pipeline.RangeSearch.appendRadii(s, assigned, "embedding",
        model, idx)
      graft.pipeline.RangeSearch.search(s, idx,
          emb.where(col("vec_id") < 4), "embedding", "vec_id", model,
          tau = 0.3, docFilter = Some(col("vec_id") % 2 === 0))
        .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
        .orderBy(col("qid"), col("nid"))
    }),

    // KEYSET scroll over the persisted index — the vdb S17 scroll
    // semantics lifted to the 100 TB family: two payload-filtered
    // pages walked by last-id keyset through a live tombstone mask,
    // ≡ DuckDB's ordered LIMIT/OFFSET over the filtered masked
    // corpus (keyset page N+1 == offset page N+1 exactly BECAUSE the
    // walk is id-ordered)
    "ivf_scroll" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_scroll")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        emb.where(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
      val filt = Some(col("vec_id") % 2 === 0)
      val p1 = graft.pipeline.Ivf.scroll(s, idx, "vec_id", None, 20, filt)
        .localCheckpoint(true)
      // empty page 1 → no keyset → skip page 2 (null-max NPE guard)
      val last = p1.agg(max(col("vec_id"))).head()
      val p2 = if (last.isNullAt(0)) p1.limit(0)
        else graft.pipeline.Ivf.scroll(s, idx, "vec_id",
          Some(last.getLong(0)), 20, filt)
      p1.withColumn("page", lit(1L))
        .unionByName(p2.withColumn("page", lit(2L)))
        .select(col("page"), col("vec_id"))
        .orderBy(col("page"), col("vec_id"))
    }),

    // the Qdrant count-API semantics on the persisted layout: exact
    // served count under filter + live tombstones, no search
    "ivf_count_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_count")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        emb.where(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.countIndex(s, idx, "vec_id",
        Some(col("vec_id") % 2 === 0))
    }),

    // range search reads through the SERVING mask: tombstoned decoys
    // (verbatim query copies, sim 1.0 — they would appear in every
    // result set) must not resurface between folds; their leftover
    // radius mass only over-estimates, which is sound
    "ivf_range_tombstoned" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 80000000L).as("vec_id"), col("embedding"))
      val corpus = emb.unionByName(decoys)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_range_tomb")
        .resolve("index").toString
      val assigned = graft.pipeline.Ivf.assign(corpus, "embedding", model)
      graft.pipeline.Ivf.writeIndex(assigned, idx)
      graft.pipeline.RangeSearch.appendRadii(s, assigned, "embedding",
        model, idx)
      graft.pipeline.Ivf.tombstoneVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.RangeSearch.search(s, idx,
          emb.where(col("vec_id") < 4), "embedding", "vec_id", model,
          tau = 0.3)
        .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
        .orderBy(col("qid"), col("nid"))
    }),

    // the radius sidecar is ADDITIVE (build + each append contribute
    // rows, readers max) — the grown layout's range search must stay
    // brute-force exact with no sidecar rewrite
    "ivf_range_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivf_range_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      val lo = graft.pipeline.Ivf.assign(
        emb.where(col("vec_id") <= half), "embedding", model)
      graft.pipeline.Ivf.writeIndex(lo, idx)
      graft.pipeline.RangeSearch.appendRadii(s, lo, "embedding", model, idx)
      val hi = emb.where(col("vec_id") > half)
      graft.pipeline.Ivf.appendToIndex(hi, "embedding", model, idx)
      graft.pipeline.RangeSearch.appendRadii(s,
        graft.pipeline.Ivf.assign(hi, "embedding", model), "embedding",
        model, idx)
      graft.pipeline.RangeSearch.search(s, idx,
          emb.where(col("vec_id") < 4), "embedding", "vec_id", model,
          tau = 0.3)
        .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
        .orderBy(col("qid"), col("nid"))
    }),

    // SNAPSHOT / RESTORE on the quantized serving layout (the
    // vector-db backup primitive): capture the clean index, wreck
    // the live copy two ways (decoy vectors appended — verbatim
    // query copies that would own every rank-1 slot — plus a whole
    // cluster directory dropped), then restore and serve: the result
    // must be indistinguishable from the never-wrecked one-shot
    "ivf_topk_restored" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("ivf_restore")
      val idx = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx,
        model = Some(model))
      graft.core.DirSnapshot.create(s, idx, snap)
      val decoys = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 77000000L).as("vec_id"), col("embedding"))
      graft.pipeline.Ivf.appendToIndexInt8(decoys, "embedding", model, idx)
      val c0 = new org.apache.hadoop.fs.Path(s"$idx/cluster=0")
      c0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(c0, true)
      graft.core.DirSnapshot.restore(s, snap, idx)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          graft.pipeline.Ivf.loadModel(s, graft.pipeline.Ivf.modelPath(idx)),
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_merged" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivf_merge")
      val idxA = root.resolve("shardA").toString
      val idxB = root.resolve("shardB").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      // parallel shard builds (disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.Ivf.writeIndexInt8(
          graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
            "embedding", model), "embedding", idxA, model = Some(model)),
        () => graft.pipeline.Ivf.writeIndexInt8(
          graft.pipeline.Ivf.assign(emb.where(col("vec_id") > half),
            "embedding", model), "embedding", idxB, model = Some(model)))
      graft.pipeline.Ivf.mergeInto(s, idxA, idxB)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idxA),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          graft.pipeline.Ivf.loadModel(s, graft.pipeline.Ivf.modelPath(idxA)),
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // multi-segment serve WITHOUT the physical merge — the LSM read
    // path between compactions: three shards under one frozen
    // quantizer (per-segment _model witness verified at serve time),
    // decoy copies of the query vectors tombstoned in THEIR OWN
    // segment only (per-segment masks), the union served like a
    // single layout ≡ the decoy-free one-shot golden
    "ivf_topk_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivf_segs")
      val segs = Seq("segA", "segB", "segC").map(root.resolve(_).toString)
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      val parts = Seq(
        emb.where(col("vec_id") <= mx / 3),
        emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3),
        emb.where(col("vec_id") > 2 * mx / 3))
      val decoys = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      parts.zip(segs).map { case (p, seg) =>
        val rows = if (seg.endsWith("segC")) p.unionByName(decoys) else p
        () => graft.pipeline.Ivf.writeIndexInt8(
          graft.pipeline.Ivf.assign(rows, "embedding", model),
          "embedding", seg, model = Some(model))
      } match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Ivf.tombstoneVectors(s, segs(2),
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s, segs, "vec_id", model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the size-tiered MAINTENANCE POLICY (StreamingSegments.
    // maintainTiered — the LSM compaction story between "N segments"
    // and mergeAll's everything-into-one): six streamed-shape
    // segments with a tombstoned-decoy mask cascade under fanout=2
    // (equal tiers fold 6→3→1 in one pass, each row moved once per
    // tier promotion — bounded write amplification), the merged
    // destination compacted; the serve over the survivors must equal
    // the one-shot golden exactly
    "ivf_topk_segments_tiered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivf_segs_tier")
        .resolve("segs").toString
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = mx / 6 + 1
      val decoys = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      // all 7 segment builds concurrently (disjoint seg= roots, the
      // shard-parallel topology this row models; the r16 Par
      // discipline extended to the tiered drill)
      ((0L until 6L).map { i => () =>
        graft.streaming.StreamingSegments.processBatch(s,
          emb.where(col("vec_id") >= i * cut &&
            col("vec_id") < (i + 1) * cut),
          "embedding", root, model, i): Unit
      } :+ (() => graft.streaming.StreamingSegments.processBatch(s, decoys,
        "embedding", root, model, 6L): Unit)) match {
        case bs => graft.core.Par.all(bs: _*)
      }
      graft.pipeline.Ivf.tombstoneVectors(s, s"$root/seg=6",
        decoys.select(col("vec_id")), "vec_id")
      // minTierBytes above any SF's segment size ⇒ one tier at every
      // scale factor ⇒ the cascade always folds to exactly one
      // segment (the row's semantics must not depend on parquet byte
      // sizes, which grow with the SF)
      val survivors = graft.streaming.StreamingSegments.maintainTiered(
        s, root, fanout = 2, minTierBytes = 1L << 40, compact = true,
        protectTail = false) // offline: the builds above cannot replay
      require(survivors.size == 1,
        s"equal-size cascade must fold to one segment, got $survivors")
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s, survivors, "vec_id",
            model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the SEGMENTS-COMPOSITION row: a deployed LSM system never runs
    // the segment union alone — this pins mask × filter × group ×
    // segment-union in ONE query (the hybrid_trimodal lesson applied
    // to segments): grouped (multi-tenant) top-k OVER the
    // witness-verified segments read, with a payload filter below
    // every ranking cut and per-segment tombstone masks live (decoy
    // copies of the query vectors — even ids so they PASS the
    // filter, label 3 so they'd own that tenant's rank-1 slots —
    // tombstoned in their own segment only). Exhaustive probe ⇒
    // every tenant's rows are brute force over that tenant's
    // filtered, masked corpus — the direct DuckDB mirror
    "ivf_topk_segments_grouped" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivf_segs_grp")
      val segs = Seq("segA", "segB", "segC").map(root.resolve(_).toString)
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      val parts = Seq(
        emb.where(col("vec_id") <= mx / 3),
        emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3),
        emb.where(col("vec_id") > 2 * mx / 3))
      val decoys = emb.where(col("vec_id") < 6)
        .select((col("vec_id") * 2L + 90000000L).as("vec_id"),
          col("embedding"), lit(3).as("label"))
      parts.zip(segs).map { case (p, seg) =>
        val rows = if (seg.endsWith("segC")) p.unionByName(decoys) else p
        () => {
          graft.pipeline.Ivf.writeIndex(
            graft.pipeline.Ivf.assign(rows, "embedding", model), seg)
          graft.pipeline.Ivf.saveModel(s, model,
            graft.pipeline.Ivf.modelPath(seg))
        }
      } match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Ivf.tombstoneVectors(s, segs(2),
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.searchGrouped(
          graft.pipeline.Ivf.readSegmentsServing(s, segs, "vec_id", model)
            .where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") < 3), "embedding", "vec_id", model,
          k = 5, groupCol = "label",
          groups = emb.select(col("label")).distinct(),
          nprobe0 = 16)
        .select(col("qid"), col("label"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("label"), col("rk"))
    }),

    // the residual codes layout's incremental lifecycle — AND its
    // restartability: the serve runs with the (coarse, codebook)
    // pair RELOADED from the layout (writeIndexPqResidual persists
    // the triple), so this row fails loudly if either persisted
    // model drifts from the one that encoded the codes
    "ivf_topk_pqr_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfpqr_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndexPqResidual(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", ivf), "embedding", pq, ivf, idx)
      graft.pipeline.Ivf.appendToIndexPqResidual(
        emb.where(col("vec_id") > half), "embedding", pq, ivf, idx)
      // contents-invariant compaction of the codes layout — also
      // exercises the hidden-dir carry-over keeping _model/_pq
      // through the swap
      graft.pipeline.Ivf.compactIndex(s, idx)
      // restart simulation: both models reloaded from the layout
      val ivf2 = graft.pipeline.Ivf.loadModel(s,
        graft.pipeline.Ivf.modelPath(idx))
      val pq2 = graft.pipeline.Ivf.loadPq(s, idx)
      graft.pipeline.Ivf.searchPqResidualIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf2, pq2, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // right-to-be-forgotten for the QUANTIZED serving layout:
    // deleteVectors is layout-agnostic (anti-join inside the
    // crash-safe rewrite; codes ride along untouched — deletion
    // never re-encodes), and the hidden-dir carry-over keeps the
    // persisted models through the swap, so the post-delete serve
    // from the RELOADED pair ≡ the decoy-free one-shot golden
    "ivf_topk_pqr_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivfpqr_del")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPqResidual(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          ivf), "embedding", pq, ivf, idx)
      graft.pipeline.Ivf.deleteVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      val ivf2 = graft.pipeline.Ivf.loadModel(s,
        graft.pipeline.Ivf.modelPath(idx))
      val pq2 = graft.pipeline.Ivf.loadPq(s, idx)
      graft.pipeline.Ivf.searchPqResidualIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf2, pq2, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the raw-PQ codes layout's deletion row — same decoy trick as
    // the residual family (copies of the query vectors would own the
    // rank-1 slots if any posting survived), pinning that the
    // layout-agnostic rewrite and the sidecar (_model/_pq) carry-over
    // hold on THIS layout too
    "ivf_topk_pq_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivfpq_del")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPq(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          ivf), "embedding", pq, ivf, idx)
      graft.pipeline.Ivf.deleteVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      val ivf2 = graft.pipeline.Ivf.loadModel(s,
        graft.pipeline.Ivf.modelPath(idx))
      val pq2 = graft.pipeline.Ivf.loadPq(s, idx)
      graft.pipeline.Ivf.searchPqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf2, pq2, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // and the sign-bit layout's — the layout-agnostic rewrite pinned
    // on the fourth quantized tier too (rotated-decoy oracle: any
    // surviving decoy posting owns a rank-1 slot and fails the row)
    "ivf_topk_bq_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivfbq_del")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexBq(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), "embedding", idx)
      graft.pipeline.Ivf.deleteVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.searchBqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // and the int8 layout's — completing right-to-be-forgotten
    // coverage across ALL THREE quantized serving layouts
    "ivf_topk_int8_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
      val idx = graft.core.Scratch.dir("ivf8_del")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexInt8(
        graft.pipeline.Ivf.assign(emb.unionByName(decoys), "embedding",
          model), "embedding", idx)
      graft.pipeline.Ivf.deleteVectors(s, idx,
        decoys.select(col("vec_id")), "vec_id")
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "ivf_topk_hier" -> ((s, d) => {
      // two-level quantizer (√nlist L1 cells, per-cell L2 folds):
      // the train-cost path for corpus-proportional nlist; search is
      // the same probe plan over the flat concatenated centroid list
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.trainHierarchical(emb, "embedding",
        "vec_id", nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.search(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the DISTRIBUTED two-level quantizer (Ivf.
    // trainHierarchicalDistributed): corpus-proportional nlist trained
    // at full-corpus scale — L1 from the flat fixed-point fold,
    // per-cell child init from a bounded-heap per-group aggregation,
    // descent-assigned fixed-point refinement; golden-replayed
    "ivf_topk_hier_dist" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.trainHierarchicalDistributed(emb,
        "embedding", "vec_id", nlist = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", model)
      graft.pipeline.Ivf.search(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", model, k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"), col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "chunk_stats" -> ((s, d) => {
      // space→newline in-plan (translate is codegen'd); the chunk
      // count itself is the native ChunkCount expression — no UDF on
      // the corpus scan
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.HashFunctions.chunkCount(
            translate(col("text"), " ", "\n"), 100L).as("n_chunks"))
        .orderBy(col("doc_id"))
    }),

    "mapreduce_fold" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents")
        .where(col("doc_id") < 20)
        .orderBy(col("doc_id"))
        .select(col("source"), col("text"))
        .collect()
        .map(r => (r.getString(0), graft.core.Wrap.FileChunk, r.getString(1)))
      val engine = new graft.mapreduce.MapReduceEngine(
        graft.mapreduce.LossyEchoFunctor(2), chunkSize = 1024L)
      val chunks = s.createDataset(engine.chunkEntries(docs.toIndexedSeq))
      val result = engine.run(s, chunks)
      s.createDataset(Seq((result.length.toLong, result))).toDF("len", "result")
    }),

    "store_retrieve" -> ((s, d) => {
      import s.implicits._
      val path = graft.core.Scratch.dir("graft_vs").toString + "/store"
      val store = new graft.store.VectorStore(s, path, dim = 64)
      val docs = tbl(s, d, "documents").where(col("doc_id") < 100)
        .select(col("source"), col("text"))
      val embedded = graft.embed.Embed.embedColumn(
        docs, graft.embed.HashEmbedding(64), "text", "vector")
      store.add(embedded)
      val ret = new graft.retrieve.Retrieval(s, graft.embed.HashEmbedding(64), store)
      ret.retrieveFromDb("spark filter join", topk = 5).toDF()
        .select(round(col("sim"), 6).as("sim"), col("source"), col("text"))
    }),

    // SCROLL — keyset pagination over the vector store: three
    // cursor-chained pages tile ids 1..100 exactly once (cursor =
    // last id of the previous page), plus a payload-filtered page.
    // The store's dense ids are deterministic here because the input
    // is sorted before add (zipWithIndex over sorted partitions), so
    // the oracle recomputes them as doc_id + 1
    "vdb_scroll" -> ((s, d) => {
      val path = graft.core.Scratch.dir("graft_vs_scroll")
        .toString + "/store"
      val store = new graft.store.VectorStore(s, path, dim = 64)
      val docs = tbl(s, d, "documents").where(col("doc_id") < 100)
        .orderBy(col("doc_id"))
        .select(col("source"), col("text"))
      store.add(graft.embed.Embed.embedColumn(
        docs, graft.embed.HashEmbedding(64), "text", "vector"))
      def page(n: Int, after: Long,
               f: Option[org.apache.spark.sql.Column] = None) =
        store.scroll(after, limit = 40, filter = f)
          .select(lit(n.toLong).as("page"), col("id"), col("source"))
      page(1, 0L).unionByName(page(2, 40L)).unionByName(page(3, 80L))
        .unionByName(page(4, 0L, Some(length(col("text")) > 400)))
        .orderBy(col("page"), col("id"))
    }),

    "memory_context" -> ((s, d) => {
      val log = new graft.memory.MessageLog(s, graft.embed.LengthEmbedding)
      Seq(
        ("m1", "conv-1", "user", "hello world", 1700000000L),
        ("m2", "conv-1", "assistant", "hi there, how can I help", 1700000010L),
        ("m3", "conv-1", "user", "tell me about spark aggregation", 1700000020L),
        ("m4", "conv-2", "user", "unrelated conversation", 1700000030L)
      ).foreach { case (id, c, r, t, ts) => log.append(id, c, r, t, ts) }
      log.context("hello", Some("conv-1"), topK = 2)
        .select(round(col("score"), 6).as("score"), col("id"), col("role"),
          col("text"), col("timestamp"))
    }),

    "memory_context_indexed" -> ((s, d) => {
      // M2 at INDEX scale: the reference applies the conversation
      // filter INSIDE the Qdrant vector search (app.py:250-263);
      // memory_context pins that on the exact-scan path — this row
      // pins it on the indexed serving path. The conversation id
      // rides the persisted IVF postings as a payload column, the
      // probe filters on it below the ranking window, and the
      // adaptive widening escalates to the exhaustive probe (3
      // conv-1 messages < k=4), so the top-2 cut is byte-equal to
      // the exact path's golden
      import s.implicits._
      val embd = graft.embed.LengthEmbedding
      val msgs = Seq(
        ("m1", "conv-1", "user", "hello world", 1700000000L),
        ("m2", "conv-1", "assistant", "hi there, how can I help", 1700000010L),
        ("m3", "conv-1", "user", "tell me about spark aggregation", 1700000020L),
        ("m4", "conv-2", "user", "unrelated conversation", 1700000030L))
      val table = msgs.zipWithIndex.map { case ((id, c, r, t, ts), i) =>
        (i.toLong, id, c, r, t, ts, embd.embed(t)) }
        .toDF("mid", "id", "conv", "role", "text", "timestamp", "vector")
      val model = graft.pipeline.Ivf.train(table, "vector", "mid",
        nlist = 2, iters = 2)
      val idx = graft.core.Scratch.dir("memctx_idx")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(table, "vector", model), idx)
      val q = Seq((100L, embd.embed("hello"))).toDF("mid", "vector")
      graft.pipeline.Ivf.searchFiltered(
          graft.pipeline.Ivf.readIndex(s, idx), q, "vector", "mid", model,
          k = 4, filter = col("conv") === "conv-1", nprobe0 = 1)
        .where(col("rk") <= 2)
        .join(table.select(col("mid").as("nid"), col("id"), col("role"),
          col("text"), col("timestamp")), "nid")
        .select(round(col("sim"), 6).as("score"), col("id"), col("role"),
          col("text"), col("timestamp"))
        .orderBy(col("id"))
    }),

    "memory_delete" -> ((s, d) => {
      // M5/J2 conversation delete: the anti-filter must remove exactly
      // the target conversation and leave the other untouched
      val log = new graft.memory.MessageLog(s, graft.embed.LengthEmbedding)
      Seq(
        ("m1", "conv-1", "user", "hello world", 1700000000L),
        ("m2", "conv-1", "assistant", "hi there", 1700000010L),
        ("m3", "conv-2", "user", "keep me", 1700000020L),
        ("m4", "conv-2", "assistant", "kept too", 1700000030L)
      ).foreach { case (id, c, r, t, ts) => log.append(id, c, r, t, ts) }
      log.deleteConversation("conv-1")
      log.history("conv-1").withColumn("conv", lit("conv-1"))
        .unionByName(log.history("conv-2").withColumn("conv", lit("conv-2")))
        .select(col("conv"), col("id"), col("role"), col("text"),
          col("timestamp"))
        .orderBy(col("id"))
    }),

    "memory_inject" -> ((s, d) => {
      // M3: context-injection prompt verbatim (header/footer lines,
      // 1-based numbering, .3f score, newline flatten + 512-char cut)
      // and the [-2] session placement
      import s.implicits._
      val log = new graft.memory.MessageLog(s, graft.embed.LengthEmbedding)
      val prompt = log.contextPrompt(Seq(
        ("assistant", Some(0.125), "snippet one"),
        ("user", None, "x" * 520 + "\ntail"))) // flatten + cut at 509+"..."
      val session = Seq("user" -> "earlier q", "assistant" -> "earlier a",
        "user" -> "final question")
      log.injectContext(session, prompt).zipWithIndex
        .map { case ((r, c), i) => (i.toLong, r, c) }
        .toDF("idx", "role", "content")
        .orderBy(col("idx"))
    }),

    // M4 `/generate` end-to-end (app.py:333-356): last-20 history
    // window joined as `role: text` lines + the user prompt, through
    // the deterministic lossy-echo functor, reply persisted as an
    // assistant message. 25 prior messages so the 20-window TRUNCATES;
    // the reference quirk (the user prompt itself is NOT persisted)
    // shows in the exported table. Oracle: Python mirror replays the
    // window, the prompt assembly, and text[::2].
    "memory_generate" -> ((s, d) => {
      val log = new graft.memory.MessageLog(s, graft.embed.LengthEmbedding)
      (0 until 25).foreach { i =>
        val role = if (i % 2 == 0) "user" else "assistant"
        log.append(f"m$i%02d", "conv-1", role,
          s"message number $i about topic ${i % 5}", 1700000000L + i * 10)
      }
      log.append("x1", "conv-2", "user", "other conversation", 1700000500L)
      log.generate("conv-1", "please summarize the conversation",
        graft.mapreduce.LossyEchoFunctor(2), "r1", 1700001000L)
      log.export("conv-1")
    }),

    "multimodal_features" -> ((s, d) => {
      // REAL decoded features (BMP/PPM pixel means, WAV sample stats,
      // Y4M luma stats; codec-requiring video rows exercise the stub
      // fallback), checked bit-exactly
      // against the independent Python reimplementation in
      // tools/gen_multimodal_golden.py. Float slots widen to double
      // (exact) for the parquet/oracle compare.
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
      val feats = (1 to 8).map(k =>
        element_at(col("features"), k).cast("double").as(s"f${k - 1}"))
      graft.pipeline.Multimodal.extractFeatures(media, featDim = 8)
        .select(col("id") +: col("kind") +: feats: _*)
        .orderBy(col("id"))
    }),

    "multimodal_neardup" -> ((s, d) => {
      // perceptual near-dup — dedup made genuinely multimodal: the
      // synthetic image rows plus their 8x6 NN-resized copies
      // (id + 1000) hash to 64-bit aHashes, banded Hamming blocking
      // (bands=8 > maxDist=6 ⇒ equal to brute force by pigeonhole)
      // emits every pair within 6 bits; golden from the independent
      // Python mirror's brute-force pass
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val copies = graft.pipeline.Multimodal.resizeImages(media, 8, 6)
        .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
          col("width"), col("height"), col("durationMs"))
      graft.pipeline.Multimodal.imageNearDupPairs(
          media.unionByName(copies), "bytes", "id", maxDist = 6, bands = 8)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // similarity search over DECODED multimodal features — the ANN
    // surface applied to the media table: decode → featurize → exact
    // cosine top-k; the oracle replays the brute force over the
    // bit-exact features golden
    "multimodal_topk" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
      val feats = graft.pipeline.Multimodal.extractFeatures(media,
          featDim = 8)
        .select(col("id"), col("features"))
      graft.pipeline.Similarity.bruteForceTopK(feats,
          feats.where(col("id") < 6), "features", "id", k = 5)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the SAME persisted band-index machinery serving the audio
    // fingerprint (PHashIndex is hasher-parameterized): incremental
    // lifecycle over the audio corpus ∪ volume-halved copies must
    // replay the one-shot pass — the multimodal_audio_neardup golden
    "audio_index_incremental" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "audio")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.attenuateAudio(media, 2)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val path = graft.core.Scratch.dir("audio_idx")
        .resolve("index").toString
      val hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.pipeline.Multimodal.audioPHash(_)
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      val p0 = graft.pipeline.PHashIndex.buildWithPairs(s, a, "bytes", "id",
        path, maxDist = 6, hasher)
      val p1 = graft.pipeline.PHashIndex.probeAndAppend(s, path, b, "bytes",
        "id", maxDist = 6, hasher)
      graft.pipeline.PHashIndex.compactIndex(s, path)
      val p2 = graft.pipeline.PHashIndex.probe(s, path, c, "bytes", "id",
        maxDist = 6, hasher)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // perceptual AUDIO dedup on ingest — the streaming twin with the
    // audio hasher: kept ⇔ the clip is nobody's LATER near-dup
    "stream_audio_dedup" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "audio")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.attenuateAudio(media, 2)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val root = graft.core.Scratch.dir("graft_saud_q")
      val src = root.resolve("media").toString
      corpus.write.parquet(src)
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingImageDedup.ingest(s, src, idx, out,
        maxDist = 6, nBatches = 3, compactEvery = 2,
        hasher = graft.pipeline.Multimodal.audioPHash(_))
      s.read.parquet(out).select(col("doc").as("id")).orderBy(col("id"))
    }),

    // AUDIO perceptual near-dup — the energy-delta fingerprint
    // (volume-invariant by construction: the fixture's copies are
    // volume-halved, distance 0 with their originals); same banded
    // Hamming machinery as the image pass, golden from the mirror's
    // brute force
    "multimodal_audio_neardup" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "audio")
      val copies = graft.pipeline.Multimodal.attenuateAudio(media, 2)
        .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
          col("width"), col("height"), col("durationMs"))
      graft.pipeline.Multimodal.audioNearDupPairs(
          media.unionByName(copies), "bytes", "id", maxDist = 6, bands = 8)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // VIDEO perceptual near-dup — the keyframe-thumbnail fingerprint
    // (first-frame Y-plane aHash, container-metadata-invariant: the
    // fixture's copies are fps-retagged, frame bytes untouched, so
    // every copy is a distance-0 pair); opaque-blob video rows hash
    // NULL and drop out (the total-parser contract). Dedup now spans
    // all five modalities: text, embeddings, images, audio, video
    "multimodal_video_neardup" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "video")
      val copies = graft.pipeline.Multimodal.retagFps(media, 60, 1)
        .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
          col("width"), col("height"), col("durationMs"))
      graft.pipeline.Multimodal.videoNearDupPairs(
          media.unionByName(copies), "bytes", "id", maxDist = 6, bands = 8)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // the VIDEO modality's persisted-index lifecycle — same
    // hasher-parameterized PHashIndex as image/audio, under the
    // keyframe-thumbnail fingerprint; pins the one-shot
    // multimodal_video_neardup golden, completing the modality ×
    // lifecycle matrix (every perceptual modality now has batch,
    // index, and streaming rows)
    "video_index_incremental" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "video")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.retagFps(media, 60, 1)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val path = graft.core.Scratch.dir("video_idx")
        .resolve("index").toString
      val hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.pipeline.Multimodal.videoPHash(_)
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      val p0 = graft.pipeline.PHashIndex.buildWithPairs(s, a, "bytes", "id",
        path, maxDist = 6, hasher)
      val p1 = graft.pipeline.PHashIndex.probeAndAppend(s, path, b, "bytes",
        "id", maxDist = 6, hasher)
      graft.pipeline.PHashIndex.compactIndex(s, path)
      val p2 = graft.pipeline.PHashIndex.probe(s, path, c, "bytes", "id",
        maxDist = 6, hasher)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // perceptual VIDEO dedup on ingest — the streaming twin with the
    // video hasher: kept ⇔ the clip is nobody's LATER near-dup
    "stream_video_dedup" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "video")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.retagFps(media, 60, 1)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val root = graft.core.Scratch.dir("graft_svid_q")
      val src = root.resolve("media").toString
      corpus.write.parquet(src)
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingImageDedup.ingest(s, src, idx, out,
        maxDist = 6, nBatches = 3, compactEvery = 2,
        hasher = graft.pipeline.Multimodal.videoPHash(_))
      s.read.parquet(out).select(col("doc").as("id")).orderBy(col("id"))
    }),

    // persisted perceptual-hash index lifecycle (the multimodal entry
    // in the persisted-index family): build on a third of the image
    // corpus, probe+append the next, compact, probe the last — the
    // union of pair sets must equal the one-shot banded pass (the
    // multimodal_neardup golden verbatim)
    "phash_index_incremental" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.resizeImages(media, 8, 6)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val path = graft.core.Scratch.dir("phash_idx")
        .resolve("index").toString
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      val p0 = graft.pipeline.PHashIndex.buildWithPairs(s, a, "bytes", "id",
        path, maxDist = 6)
      val p1 = graft.pipeline.PHashIndex.probeAndAppend(s, path, b, "bytes",
        "id", maxDist = 6)
      graft.pipeline.PHashIndex.compactIndex(s, path)
      val p2 = graft.pipeline.PHashIndex.probe(s, path, c, "bytes", "id",
        maxDist = 6)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // DELETION for the multimodal dedup state: decoys = verbatim
    // copies of the last increment's images (Hamming distance 0 with
    // their originals — any band row surviving deletion emits loud
    // decoy pairs); lifecycle must replay the decoy-free golden
    "phash_index_deleted" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.resizeImages(media, 8, 6)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val path = graft.core.Scratch.dir("phash_del")
        .resolve("index").toString
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      val decoys = c.select((col("id") + 7000000L).as("id"), col("kind"),
        col("bytes"), col("width"), col("height"), col("durationMs"))
      graft.pipeline.PHashIndex.writeIndex(s, a.unionByName(decoys),
        "bytes", "id", path)
      graft.pipeline.PHashIndex.deleteDocs(s, path, decoys.select(col("id")))
      val p0 = graft.pipeline.PHashIndex.probe(s, path, a, "bytes", "id",
        maxDist = 6)
      val p1 = graft.pipeline.PHashIndex.probeAndAppend(s, path, b, "bytes",
        "id", maxDist = 6)
      graft.pipeline.PHashIndex.compactIndex(s, path)
      val p2 = graft.pipeline.PHashIndex.probe(s, path, c, "bytes", "id",
        maxDist = 6)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // snapshot/restore for the perceptual-hash dedup state: build the
    // first slice, snapshot, corrupt (decoy copies at distance 0 from
    // the last increment — loud pairs in every later probe — plus a
    // dropped band dir), restore, run the rest of the lifecycle — the
    // pair union must equal the one-shot banded pass
    "phash_index_restored" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.resizeImages(media, 8, 6)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val base = graft.core.Scratch.dir("phash_restore")
      val path = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      val decoys = c.select((col("id") + 7000000L).as("id"), col("kind"),
        col("bytes"), col("width"), col("height"), col("durationMs"))
      val p0 = graft.pipeline.PHashIndex.buildWithPairs(s, a, "bytes", "id",
        path, maxDist = 6)
      graft.core.DirSnapshot.create(s, path, snap)
      graft.pipeline.PHashIndex.probeAndAppend(s, path, decoys, "bytes",
        "id", maxDist = 6)
      val band0 = new org.apache.hadoop.fs.Path(s"$path/band=0")
      band0.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(band0, true)
      graft.core.DirSnapshot.restore(s, snap, path)
      val p1 = graft.pipeline.PHashIndex.probeAndAppend(s, path, b, "bytes",
        "id", maxDist = 6)
      graft.pipeline.PHashIndex.compactIndex(s, path)
      val p2 = graft.pipeline.PHashIndex.probe(s, path, c, "bytes", "id",
        maxDist = 6)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // SEGMENT MERGE for the perceptual index — shard-parallel build:
    // %3==0 and %3==1 hashed into independent indexes under one
    // hasher, mergeInto absorbs B into A by file moves and emits the
    // cross-shard pairs from joining the two persisted band layouts
    // (the hash rides every row — verified inline, zero re-decoding);
    // build-A ∪ build-B ∪ cross ∪ later probe ≡ one-shot banded pass
    "phash_index_merged" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.resizeImages(media, 8, 6)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val base = graft.core.Scratch.dir("phash_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      val a = corpus.where(col("id") % 3 === 0)
      val b = corpus.where(col("id") % 3 === 1)
      val c = corpus.where(col("id") % 3 === 2)
      // parallel shard builds (disjoint roots, no conf mutation; the
      // returned pair frames are pinned snapshots)
      val (p0, p1) = graft.core.Par.both(
        () => graft.pipeline.PHashIndex.buildWithPairs(s, a, "bytes", "id",
          shardA, maxDist = 6),
        () => graft.pipeline.PHashIndex.buildWithPairs(s, b, "bytes", "id",
          shardB, maxDist = 6))
      val cross = graft.pipeline.PHashIndex.mergeInto(s, shardA, shardB,
        maxDist = 6)
      graft.pipeline.PHashIndex.compactIndex(s, shardA)
      val p2 = graft.pipeline.PHashIndex.probe(s, shardA, c, "bytes", "id",
        maxDist = 6)
      p0.unionByName(p1).unionByName(cross).unionByName(p2)
        .select(col("d1"), col("d2"), col("dist"))
        .orderBy(col("d1"), col("d2"))
    }),

    // perceptual dedup ON INGEST, riding the persisted PHashIndex:
    // kept ⇔ the image is nobody's LATER near-dup over the one-shot
    // banded pass (relational drop rule ⇒ batch-boundary-independent)
    "stream_image_dedup" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val corpus = media.unionByName(
        graft.pipeline.Multimodal.resizeImages(media, 8, 6)
          .select((col("id") + 1000L).as("id"), col("kind"), col("bytes"),
            col("width"), col("height"), col("durationMs")))
      val root = graft.core.Scratch.dir("graft_simg_q")
      val src = root.resolve("media").toString
      corpus.write.parquet(src)
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingImageDedup.ingest(s, src, idx, out,
        maxDist = 6, nBatches = 3, compactEvery = 2)
      s.read.parquet(out).select(col("doc").as("id")).orderBy(col("id"))
    }),

    "multimodal_resize" -> ((s, d) => {
      // thumbnail step: NN-resize every image row to 4x3 (lossless PPM
      // out), then featurize — means are exactly predictable from the
      // source pixel formula + the integer NN mapping, golden-checked
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
        .where(col("kind") === "image")
      val resized = graft.pipeline.Multimodal.resizeImages(media, 4, 3)
      val feats = (1 to 8).map(k =>
        element_at(col("features"), k).cast("double").as(s"f${k - 1}"))
      graft.pipeline.Multimodal.extractFeatures(resized, featDim = 8)
        .select(col("id") +: feats: _*)
        .orderBy(col("id"))
    }),

    "multimodal_frames" -> ((s, d) => {
      // REAL per-frame video surface: decodes every Y4M frame's Y
      // plane and emits (id, frameIdx, lumaMean) — golden-checked
      // against the independent fold in tools/gen_multimodal_golden.py.
      // Non-Y4M (codec-requiring) video rows produce no frames.
      val media = graft.pipeline.Multimodal.synthetic(s, 99)
      graft.pipeline.Multimodal.sampleFrameStats(media)
        .orderBy(col("id"), col("frameIdx"))
    }),

    "ingest_dir" -> ((s, d) => {
      import s.implicits._
      // FIXED path, not createTempDirectory: wrapped_len covers the
      // absolute path inside the wrap header, so a random temp-dir
      // segment would make the output length nondeterministic across
      // runs — un-oracle-able. target/ is build scratch (git-ignored).
      val root = java.nio.file.Paths.get("/root/repo/target/tmp/graft_ingest_fixed")
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).toArray.foreach(q =>
            rm(q.asInstanceOf[java.nio.file.Path]))
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(root)
      java.nio.file.Files.createDirectories(root)
      java.nio.file.Files.writeString(root.resolve("a.txt"), "alpha\nbeta")
      java.nio.file.Files.createDirectories(root.resolve("sub"))
      java.nio.file.Files.writeString(root.resolve("sub/b.txt"), "gamma")
      java.nio.file.Files.createDirectories(root.resolve(".git"))
      java.nio.file.Files.writeString(root.resolve(".git/hidden"), "nope")
      val reg = new graft.ingest.SourceRegistry(s)
      reg.readDirectory(root.toString)
        .map(e => (e.path.split('/').last, e.content.length.toLong,
          e.wrapped.length.toLong))
        .toDF("file", "n_chars", "wrapped_len")
        .orderBy(col("file"))
    }),

    "policy_sections" -> ((s, d) => {
      val doc = Seq(
        "1. Scope", "********", "body a", "body b",
        "1.1. Details", "============", "detail body",
        "2. Refs", "*******", "ref body").mkString("\n")
      new graft.ingest.SectionedDoc(s, doc).indexDf()
        .orderBy(col("idx"))
    }),

    "stream_hourly" -> ((s, d) => {
      val sdf = graft.streaming.EventStream.readEvents(s, d)
      val agg = sdf.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      graft.streaming.EventStream.runToMemory(s, agg,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .select(col("hour"), col("event_type"), col("n"),
          round(col("sv"), 2).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    "stream_sessionize" -> ((s, d) => {
      val sdf = graft.streaming.EventStream.readEvents(s, d)
      val sess = graft.streaming.EventStream.sessionize(s, sdf).toDF()
      graft.streaming.EventStream.runToMemory(s, sess,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("user_id"))
    }),

    "stream_session_window" -> ((s, d) => {
      // Spark's NATIVE session windows (the third sessionization
      // surface next to the batch gaps-and-islands query and the
      // flatMapGroupsWithState operator): 30-minute-gap sessions per
      // user, append mode. With a zero watermark delay the final
      // no-data batch's watermark is max(ts), so exactly the sessions
      // whose window end (last event + gap) ≤ max(ts) are emitted —
      // the oracle replays that cutoff. Session merge uses half-open
      // windows ([start, last+gap)), so a gap of EXACTLY the window
      // size splits — hence >= in the oracle's break condition.
      val sdf = graft.streaming.EventStream.readEvents(s, d)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      // 8 partitions is the measured knee for the ~95k state rows this
      // stream holds at sf0.1 (tools/StreamProfile batch-0 trigger:
      // p4 2.84 s, p8 1.28 s, p16 1.22 s, p32 1.41 s)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val mem =
        try graft.streaming.EventStream.runToMemory(s, sdf,
          org.apache.spark.sql.streaming.OutputMode.Append())
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      mem.select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    "stream_interval_join" -> ((s, d) => {
      // watermarked stream-stream interval join: every view within 30
      // minutes after a click by the same user. Over a static source
      // run to completion the inner join equals the batch join — the
      // oracle is the plain SQL interval join.
      val a = graft.streaming.EventStream.readEvents(s, d)
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val b = graft.streaming.EventStream.readEvents(s, d)
        .where(col("event_type") === "view")
        .select(col("user_id").as("view_user"),
          col("event_id").as("view_id"), col("ts").as("view_ts"))
      val j = graft.streaming.EventStream.intervalJoin(
        a, "click_ts", b, "view_ts",
        col("user_id") === col("view_user"), within = "30 MINUTES")
      // the join keeps 4 state stores per shuffle partition, so the
      // partition count trades state-update parallelism against
      // per-store commit overhead. Measured at sf0.1 (200k input rows,
      // ~40k state rows; tools/StreamProfile): batch-0 trigger 2.16 s
      // at 4 partitions, 1.72 s at 8, 2.29 s at 16, 4.12 s at 32 (128
      // stores of pure commit overhead) — 8 is the knee.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val mem =
        try graft.streaming.EventStream.runToMemory(s, j,
          org.apache.spark.sql.streaming.OutputMode.Append())
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      mem.select(col("user_id"), col("click_id"), col("view_id"))
        .orderBy(col("user_id"), col("click_id"), col("view_id"))
    }),

    "stream_hourly_watermark" -> ((s, d) => {
      // the WATERMARKED event-time path (EventStream.hourlyWindowed,
      // append mode) under real late data: four micro-batches
      // (maxFilesPerTrigger=1, mtime-ordered files). Spark filters
      // late events with the PREVIOUS batch's watermark while state
      // eviction uses the current one (SPARK-40925; measured — a late
      // row landing in the same batch its window closes is still
      // merged, one batch later it is dropped). So batches 2 and 3
      // each carry one row whose window closed ≥ one full batch
      // earlier (dropped) plus on-time rows (kept). The oracle replays
      // exactly that in SQL: late-filter watermark for batch b = max
      // event time over batches < b−1, minus 1h; a row survives iff
      // its window end > that; a window is emitted iff its end ≤ the
      // final watermark.
      import s.implicits._
      import java.nio.file.{Files, Paths}
      val root = Files.createTempDirectory("graft_wm_q")
      val streamDir = Files.createDirectory(root.resolve("stream"))
      def writeBatch(i: Int, rows: Seq[(String, String, Double)]): Unit = {
        val tmp = root.resolve(s"tmp$i").toString
        rows.toDF("t", "event_type", "value")
          .select(to_timestamp(col("t")).as("ts"), col("event_type"), col("value"))
          .coalesce(1).write.parquet(tmp)
        val part = Files.list(Paths.get(tmp)).filter(
          _.getFileName.toString.endsWith(".parquet")).findFirst.get
        val dst = streamDir.resolve(f"b$i%03d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
      }
      writeBatch(0, Seq(
        ("2026-01-01 10:05:00", "click", 1.0),
        ("2026-01-01 10:20:00", "view", 2.0),
        ("2026-01-01 10:40:00", "click", 3.0),
        ("2026-01-01 11:10:00", "click", 4.0),
        ("2026-01-01 12:30:00", "view", 5.0)))   // evict-wm → 11:30
      writeBatch(1, Seq(
        ("2026-01-01 11:45:00", "view", 6.0),    // window still open: kept
        ("2026-01-01 13:45:00", "click", 7.0)))  // evict-wm → 12:45
      writeBatch(2, Seq(
        ("2026-01-01 10:15:00", "click", 99.0),  // late-wm 11:30: DROPPED
        ("2026-01-01 12:50:00", "view", 8.0),    // kept
        ("2026-01-01 14:30:00", "view", 9.0)))   // evict-wm → 13:30
      writeBatch(3, Seq(
        ("2026-01-01 11:50:00", "click", 98.0),  // late-wm 12:45: DROPPED
        ("2026-01-01 15:20:00", "click", 10.0))) // final wm → 14:20
      val schema = s.read.parquet(streamDir.toString).schema
      val sdf = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val agg = graft.streaming.EventStream.hourlyWindowed(sdf)
      // state-store partition count = shuffle partitions at stream
      // start; 32 stores × 6 micro-batches for a 12-row fixture is
      // pure fixed overhead (measured ~5 s). Size state to the data.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "1")
      val mem =
        try graft.streaming.EventStream.runToMemory(s, agg,
          org.apache.spark.sql.streaming.OutputMode.Append())
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      mem.select(col("window.start").as("hour"), col("event_type"),
          col("n"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    "e2e_pipeline" -> ((s, d) => {
      // the §7.2 minimum end-to-end slice as one composition:
      // ingest(dir) → chunk → embed → store.add → retrieve(k=3),
      // then mapreduce-summarize the retrieved docs — every
      // load-bearing wall in a single query
      import s.implicits._
      val root = graft.core.Scratch.dir("e2e")
      Seq("spark joins and shuffles explained",
        "cat pictures considered harmful",
        "partitioning strategies for spark joins at scale",
        "a recipe for sourdough bread").zipWithIndex.foreach { case (t, i) =>
        java.nio.file.Files.writeString(root.resolve(s"doc$i.txt"),
          (t + " ") * 8 + "\n" + (t + " ") * 8)
      }
      val app = new graft.Graft(s,
        graft.core.Scratch.dir("e2e_store").toString + "/store",
        embeddingDim = 32)
      val reg = new graft.ingest.SourceRegistry(s)
      val entries = reg.readDirectory(root.toString).collect().sortBy(_.path)
      // bulk load: ONE embed + store.add pass (one max-id read, one
      // zipWithIndex, one parquet append) — per-doc retrieveAdd would
      // re-read max(id) and append per document, O(n²) as a loader
      app.retrieval.batchAdd(
        entries.toSeq.map(e => e.path.split('/').last -> e.content))
      val hits = app.retrieveRet(entries.head.content, k = 3)
      val eng = new graft.mapreduce.MapReduceEngine(
        graft.mapreduce.LossyEchoFunctor(2), chunkSize = 256)
      val chunks = eng.chunkEntries(hits.map(h =>
        (h.source, graft.core.Wrap.FileChunk, h.text)))
      val summary = eng.run(s, s.createDataset(chunks))
      s.createDataset(hits.map(h => (math.round(h.sim * 1e6) / 1e6, h.source)))
        .toDF("sim", "source")
        .withColumn("summary_len", lit(summary.length.toLong))
        .orderBy(col("sim").desc, col("source"))
    }),

    "stream_dedup" -> ((s, d) => {
      // streaming exact dedup: dropDuplicates state over the stream,
      // checked against the batch distinct count
      val sdf = graft.streaming.EventStream.readEvents(s, d)
      val deduped = sdf.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      graft.streaming.EventStream.runToMemory(s, deduped,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .agg(count(lit(1)).as("n"))
    }),

    "stream_top_terms" -> ((s, d) =>
      // the MisraGries aggregate unchanged inside a streaming
      // Complete-mode aggregation: state store checkpoints the
      // serialized partial buffer between micro-batches; weights are
      // exact here (vocab << capacity), so plain SQL oracles it
      graft.streaming.StreamingTopTerms.summarize(s, d, capacity = 512)
        .orderBy(col("cnt").desc, col("term")).limit(30)),

    // the A-ES race maintained incrementally: the bounded O(k) heap
    // checkpoints between micro-batches; heap merge is associative,
    // so the stream's sample equals the one-shot batch sample — the
    // SAME golden as corpus_weighted_sample oracles both
    "stream_weighted_sample" -> ((s, d) =>
      graft.streaming.StreamingWeightedSample.sample(s, d, k = 20,
          seed = 42L)
        .orderBy(col("rk"))),

    "stream_exact_dedup" -> ((s, d) => {
      // streaming EXACT dedup on ingest, riding the persisted
      // DedupIndex: each microbatch probes the (fp, min-id) index,
      // keeps the new fingerprints' min-id holders, appends the novel
      // fps. Relational drop policy + id-ordered arrival ⇒ kept set
      // equals the one-shot min-id-per-fp rule the oracle replays.
      val root = graft.core.Scratch.dir("graft_sxdedup_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingExactDedup.ingest(s, d, idx, out)
      s.read.parquet(out).select(col("doc").as("doc_id")).orderBy(col("doc_id"))
    }),

    "stream_minhash_dedup" -> ((s, d) => {
      // streaming MinHash near-dup on ingest, riding the persisted
      // NearDupIndex (probeAndAppend per microbatch): dropped ⇔ the
      // doc is some pair's later side over the one-shot LSH pass,
      // which the oracle replays from the minhash_pairs golden
      val root = graft.core.Scratch.dir("graft_smdedup_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingMinhashDedup.ingest(s, d, idx, out,
        threshold = 0.2)
      s.read.parquet(out).select(col("doc").as("doc_id")).orderBy(col("doc_id"))
    }),

    "stream_bm25_search" -> ((s, d) => {
      // BM25 index maintained ON INGEST: 4 id-ordered microbatches
      // append postings/df/stats increments into the persisted bucket
      // layout, with a mid-stream compaction. The layout is additive
      // (readers SUM stats and per-term df rows), so searching the
      // grown index must equal the one-shot build — the bm25_topk
      // golden oracles both
      val idx = graft.core.Scratch.dir("graft_sbm25_q")
        .resolve("index").toString
      graft.streaming.StreamingBm25.ingest(s, d, idx, nBatches = 3,
        compactEvery = 2)
      graft.pipeline.Bm25.searchIndex(s, idx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // the sparse tier maintained ON INGEST: microbatches sparsify
    // under the frozen (tau, scale) and append postings; per-doc
    // additive rows make the grown layout serve identically to the
    // one-shot — the same direct-SQL brute force oracles both
    "stream_sparse_search" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("graft_ssparse_q")
        .resolve("index").toString
      graft.streaming.StreamingSparse.ingest(s, d, idx, nBatches = 3,
        compactFilesPerDir = 2.0)
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_ivf_search" -> ((s, d) => {
      // IVF index maintained ON INGEST against a frozen coarse
      // quantizer (train offline, add online): 4 microbatches of
      // embeddings append into the cluster-partitioned layout, with a
      // mid-stream compaction. Assignment is per-row against the
      // frozen model, so the grown index searches identically to the
      // one-shot build — the ivf_topk golden oracles both
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("graft_sivf_q")
        .resolve("index").toString
      graft.streaming.StreamingIvf.ingest(s, d, model, idx, nBatches = 4,
        compactEvery = 2)
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_drift_monitor" -> ((s, d) => {
      // DISTRIBUTION-SHIFT MONITOR on ingest: a staged corpus whose
      // later batches are all-English (the "new data source changed
      // the mix" shape) streams through the monitor; each batch's
      // language profile is compared to the accumulated corpus by
      // total-variation distance — engine-exact (only +,−,×,÷,|·| in
      // a value-sorted sequential fold; KL's ln would un-oracle it)
      // — and the drifted batches raise alert rows. DuckDB replays
      // the staging, the id-range batching, and the fold bit-for-bit
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("lang"))
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val staged = docs.unionByName(docs.where(col("lang") === "en")
        .select((col("doc_id") + off).as("doc_id"), col("lang")))
      val stageDir = graft.core.Scratch.dir("sdrift_q")
      val src = stageDir.resolve("docs.parquet").toString
      staged.write.parquet(src)
      val out = stageDir.resolve("monitor").toString
      graft.streaming.StreamingDrift.ingest(s, src, "doc_id", "lang",
        out, nBatches = 4, alertTv = 0.3)
      // run_id (the scratch-checkpoint name) is per-run entropy —
      // project the deterministic columns for the oracle
      s.read.parquet(out)
        .select(col("batch_id"), col("n_batch"), col("n_prev"),
          col("tv"), col("alert"))
        .orderBy(col("batch_id"))
    }),

    "stream_drift_numeric" -> ((s, d) => {
      // NUMERIC drift through the same monitor: stage the numeric as
      // a low-cardinality bucket column (floor(n_chars/200) as a
      // string) — the documented pattern for length/score drift —
      // with a drifted tail of doubled-length documents; the late
      // batches shift the length histogram and alert. Same
      // engine-exact TV oracle shape as the categorical row
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val bucketed = docs.select(col("doc_id"),
        floor(length(col("text")) / 200).cast(StringType).as("len_bucket"))
      val drifted = docs.select((col("doc_id") + off).as("doc_id"),
        floor(length(concat(col("text"), lit(" "), col("text"))) / 200)
          .cast(StringType).as("len_bucket"))
      val stageDir = graft.core.Scratch.dir("sdriftn_q")
      val src = stageDir.resolve("docs.parquet").toString
      bucketed.unionByName(drifted).write.parquet(src)
      val out = stageDir.resolve("monitor").toString
      graft.streaming.StreamingDrift.ingest(s, src, "doc_id",
        "len_bucket", out, nBatches = 4, alertTv = 0.3)
      s.read.parquet(out)
        .select(col("batch_id"), col("n_batch"), col("n_prev"),
          col("tv"), col("alert"))
        .orderBy(col("batch_id"))
    }),

    "stream_quarantine" -> ((s, d) => {
      // QUARANTINE-ON-DRIFT: the drift monitor made actionable — the
      // same staged late-English corpus streams through drift-gated
      // curation; the mixed batches pass the blocklist → quality →
      // dedup-on-ingest composition, the drifted ones are diverted
      // raw. The oracle recomputes the engine-exact per-batch TV,
      // splits accepted/quarantined, and replays curation over the
      // accepted side only
      val docs = tbl(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val stageDir = graft.core.Scratch.dir("squar_q")
      val src = stageDir.resolve("docs.parquet").toString
      docs.unionByName(docs.where(col("lang") === "en")
          .select((col("doc_id") + off).as("doc_id"), col("text"),
            col("lang"), col("source")))
        .write.parquet(src)
      val idx = stageDir.resolve("index").toString
      val out = stageDir.resolve("kept").toString
      val qp = stageDir.resolve("quarantine").toString
      val bl = Seq("src3.example.com", "src7.example.com",
        "cdn.src1.example.com")
      graft.streaming.StreamingQuarantine.ingest(s, src, "doc_id",
        "text", "lang",
        batch => batch.withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 2 === 1, lit("cdn.")).otherwise(lit("")),
          col("source"), lit(".example.com/doc/"),
          col("doc_id").cast("string"))),
        bl, minQuality = 0.3, idx, out, qp, alertTv = 0.3, nBatches = 4)
      s.read.parquet(out).select(col("doc").as("doc_id"),
          lit("kept").as("status"))
        .unionByName(s.read.parquet(qp).select(col("doc_id"),
          lit("quarantined").as("status")))
        .orderBy(col("doc_id"))
    }),

    "stream_decontam" -> ((s, d) => {
      // DECONTAMINATION ON INGEST: the eval side's shingle postings
      // + Bloom are built once at run open, and each training
      // microbatch is probed map-side against them, appending its
      // contaminated pairs. Pairs are per-(train, eval) independent,
      // so the streamed union ≡ the one-shot cross-corpus join — the
      // decontam_pairs oracle pins the streamed path verbatim
      val docs = tbl(s, d, "documents")
      val stageDir = graft.core.Scratch.dir("sdecon_q")
      val staged = stageDir.resolve("train.parquet").toString
      docs.where(col("doc_id") % 2 === 0).write.parquet(staged)
      val out = stageDir.resolve("pairs").toString
      graft.streaming.StreamingDecontam.ingest(s, staged, "doc_id",
        "text", docs.where(col("doc_id") % 2 === 1), out,
        w = 3, threshold = 0.2, nBatches = 4)
      s.read.parquet(out).orderBy(col("left_doc"), col("right_doc"))
    }),

    "stream_span_scrub" -> ((s, d) => {
      // SPAN SURGERY ON INGEST: the reference-grade governance move
      // past stream_decontam's drop — contaminated SPANS are excised
      // at the ingest boundary and the scrubbed docs flow on. The
      // eval window artifact (postings + Bloom short-circuit) is
      // built once at run open; scrubbing is per-doc local, so the
      // streamed union ≡ the one-shot decontamSpanScrub — the
      // decontam_span_scrub oracle pins the streamed path verbatim
      val docs = tbl(s, d, "documents")
      val stageDir = graft.core.Scratch.dir("sscrub_q")
      val staged = stageDir.resolve("train.parquet").toString
      docs.where(col("doc_id") % 3 =!= 0).write.parquet(staged)
      val out = stageDir.resolve("scrubbed").toString
      graft.streaming.StreamingSpanScrub.ingest(s, staged, "doc_id",
        "text", docs.where(col("doc_id") % 3 === 0), out,
        w = 8, nBatches = 3)
      s.read.parquet(out).orderBy(col("doc"))
    }),

    "stream_ivf_autorecluster" -> ((s, d) => {
      // SELF-MAINTAINING vector index: drifted data (elementwise
      // absolute value — the positive-orthant concentration, norm-
      // preserving and engine-exact) arrives in the later
      // microbatches; the ingest watches the imbalance alarm,
      // reclusters itself mid-stream, persists the new quantizer
      // beside the layout, and later batches assign under it.
      // Exhaustive probes are model-independent (nprobe = nlist
      // scans every list), so the oracle is DuckDB's brute-force
      // cosine over the same staged corpus — which fails loudly if
      // the mid-stream rewrite lost or duplicated any posting
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val off = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      val drifted = emb.select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), v => abs(v)).as("embedding"))
      val stageDir = graft.core.Scratch.dir("sivf_auto")
      emb.unionByName(drifted).write.mode("overwrite")
        .parquet(stageDir.resolve("embeddings.parquet").toString)
      // trained on the PRE-drift world — the stale quantizer the
      // alarm exists to catch
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = stageDir.resolve("index").toString
      // threshold 2.0: measured clean separation at every SF —
      // pre-drift imbalance ≤ 1.31, half-drifted ≥ 2.35
      val fin = graft.streaming.StreamingIvf.ingest(s, stageDir.toString,
        model, idx, nBatches = 4, reclusterImbalance = 2.0)
      graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(s, idx),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", fin,
          k = 5, nprobe = fin.nlist)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the LSM WRITE path end-to-end: 4 microbatches each land as
    // their OWN immutable int8 segment under the frozen quantizer
    // (NO ledger — a replayed batch overwrites its own segment; no
    // append-visibility window — a segment exists whole or not at
    // all), served ACROSS the segments, then mergeAll folds them as
    // background maintenance and the merged root must serve
    // identically — BOTH stages ≡ the one-shot int8 golden
    "stream_ivf_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("sivf_segs")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingest(s, d, root, model,
        nBatches = 4)
      def serve() = graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s,
            graft.streaming.StreamingSegments.segmentRoots(s, root),
            "vec_id", model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
      // materialize the across-segments stage BEFORE the fold moves
      // the segment dirs out from under its lazy plan (returned-frame
      // convention: the pin rides the returned union)
      val across = serve().withColumn("stage", lit("segments"))
        .localCheckpoint(true)
      graft.streaming.StreamingSegments.mergeAll(s, root,
        protectTail = false) // stream closed: no replay can occur
      across.unionByName(serve().withColumn("stage", lit("merged")))
        .select(col("stage"), col("qid"), col("nid"), col("sim"), col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // the maintenance CADENCE wired into the write path: six
    // microbatches with maintainEvery=2 run the size-tiered fold
    // INSIDE the stream (tail protected — each pass runs while the
    // just-promoted segment may still be uncommitted, exactly the
    // replay window protectTail closes), so the layout never
    // accumulates more than ~fanout segments between passes and the
    // MID-POLICY serve must still equal the one-shot int8 golden.
    // minTierBytes above any SF's segment size ⇒ one tier ⇒ the
    // in-stream cascades are deterministic at every scale factor
    "stream_ivf_segments_tiered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("sivf_segs_tier")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingest(s, d, root, model,
        nBatches = 6, maintainEvery = 2, fanout = 2,
        minTierBytes = 1L << 40)
      val segs = graft.streaming.StreamingSegments.segmentRoots(s, root)
      require(segs.size == 2,
        s"cadence shape: {0..4 cascaded, tail 5} expected, got $segs")
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s, segs, "vec_id", model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the 100 TB-SHAPED pipeline composed end-to-end — the flagship
    // distributed trainers reaching their use-case THROUGH the write
    // path: full-corpus distributed semantic dedup decides the
    // corpus, the hierarchical distributed trainer (on the DEDUPED
    // corpus) decides the model, the segment-per-batch ingest with
    // the in-stream tiered cadence lands it on disk, and a filtered
    // partial-probe serve across the maintained segments must equal
    // the Python end-to-end replay (dedup keep set → hier model →
    // int8 scores; segments/maintenance are result-transparent by
    // their witness-verified contracts — this row pins the
    // trainer × write-path × maintenance interactions no per-feature
    // row composes)
    "e2e_dist_pipeline" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val kept = graft.pipeline.Dedup.semDedupDistributed(emb, "embedding",
          "vec_id", threshold = 0.35)
        .where(col("keep")).select(col("vec_id"), col("embedding"))
        .localCheckpoint(true)
      val model = graft.pipeline.Ivf.trainHierarchicalDistributed(kept,
        "embedding", "vec_id", nlist = 16, iters = 3)
      val stage = graft.core.Scratch.dir("e2e_dist")
      kept.write.parquet(stage.resolve("embeddings.parquet").toString)
      val root = stage.resolve("segments").toString
      graft.streaming.StreamingSegments.ingest(s, stage.toString, root,
        model, nBatches = 6, maintainEvery = 2, fanout = 2,
        minTierBytes = 1L << 40)
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s,
            graft.streaming.StreamingSegments.segmentRoots(s, root),
            "vec_id", model)
            .where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the LEXICAL segment-per-microbatch write path (no ledger, no
    // append-visibility window — stream_ivf_segments' design on the
    // tier whose searchSegments merges N/T/df stats GLOBALLY): 4 doc
    // microbatches each promote their own complete bm25 index root;
    // the across-segments serve AND the post-mergeAll serve must both
    // equal the one-shot bm25_topk golden
    "stream_bm25_segments" -> ((s, d) => {
      val root = graft.core.Scratch.dir("sbm25_segs")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestBm25(s, d, root, nBatches = 4)
      def serve() = graft.pipeline.Bm25.searchSegments(s,
        graft.streaming.StreamingSegments.segmentRoots(s, root),
        Seq(0L -> "hash join", 1L -> "fast table scan",
          2L -> "merge sort window"), k = 10)
      val across = serve().withColumn("stage", lit("segments"))
        .localCheckpoint(true)
      graft.streaming.StreamingSegments.mergeAllBm25(s, root,
        protectTail = false) // stream closed: no replay can occur
      across.unionByName(serve().withColumn("stage", lit("merged")))
        .select(col("stage"), col("qid"), col("doc"), col("score_fp"),
          col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // in-stream tiered maintenance on the LEXICAL tier —
    // stream_ivf_segments_tiered's shape on the tier whose global
    // N/T/df stats merge is most at risk from a mid-policy serve: 6
    // doc microbatches with a cadence-2 fanout-2 tiered fold leave
    // {0..4 cascaded survivor, protected tail 5} on disk, and the
    // serve across that mid-policy shape must equal the one-shot
    // bm25_topk golden
    "stream_bm25_segments_tiered" -> ((s, d) => {
      val root = graft.core.Scratch.dir("sbm25_segs_tier")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestBm25(s, d, root,
        nBatches = 6, maintainEvery = 2, fanout = 2,
        minTierBytes = 1L << 40)
      val segs = graft.streaming.StreamingSegments.segmentRoots(s, root)
      require(segs.size == 2,
        s"cadence shape: {0..4 cascaded, tail 5} expected, got $segs")
      graft.pipeline.Bm25.searchSegments(s, segs,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .select(col("qid"), col("doc"), col("score_fp"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // SKEW STRESS on the lexical segments serve: every other
    // *_segments row splits the corpus near-uniformly, but a real
    // stream's bursty day produces one segment holding ~90% of the
    // corpus beside slivers — the shape where the per-segment global
    // stats merge (N/T/df summed across segments) is most at risk.
    // Batch sizes ~[450, 20, 20, 10] at sf0.01; the serve across the
    // skewed segments must still equal the one-shot bm25_topk golden.
    "bm25_segments_skewed" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val root = graft.core.Scratch.dir("bm25_segs_skew")
        .resolve("segments").toString
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      // 90% / 4% / 4% / 2% id-range slices — deliberate skew
      val cuts = Seq(0L, n * 90 / 100, n * 94 / 100, n * 98 / 100, n)
      // the 4 skewed segments build concurrently (disjoint seg=
      // roots — the r16 shard-parallel discipline; skew means the
      // slivers finish early and the 90% segment owns the wall)
      cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) => () =>
        graft.streaming.StreamingSegments.processBatchBm25(s,
          docs.where(col("doc_id") >= lo && col("doc_id") < hi),
          "text", "doc_id", root, i.toLong): Unit
      }.toSeq match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Bm25.searchSegments(s,
          graft.streaming.StreamingSegments.segmentRoots(s, root),
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .select(col("qid"), col("doc"), col("score_fp"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the DENSE twin of bm25_segments_skewed: one ~90% segment beside
    // slivers, served through the same witness-verified segment union
    // as the uniform rows — candidate sets are a pure function of
    // (vector, model), so the skewed layout must reproduce the
    // one-shot int8 golden bit-for-bit
    "ivf_segments_skewed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivf_segs_skew")
        .resolve("segments").toString
      val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      val cuts = Seq(0L, n * 90 / 100, n * 94 / 100, n * 98 / 100, n)
      cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) => () =>
        graft.streaming.StreamingSegments.processBatch(s,
          emb.where(col("vec_id") >= lo && col("vec_id") < hi),
          "embedding", root, model, i.toLong): Unit
      }.toSeq match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Ivf.searchCodes(
          graft.pipeline.Ivf.readSegmentsServing(s,
            graft.streaming.StreamingSegments.segmentRoots(s, root),
            "vec_id", model),
          emb.where(col("vec_id") < 10), "embedding", "vec_id", model,
          k = 5, nprobe = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the SPARSE tier's segment-per-microbatch write path: per-doc
    // integer-dot postings make both stages exactly the direct
    // DuckDB brute force (no golden, no tolerance)
    "stream_sparse_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("ssparse_segs")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestSparse(s, d, root,
        nBatches = 4)
      val q = graft.pipeline.Sparse.sparsify(
        emb.where(col("vec_id") < 4), "embedding", "vec_id")
      def serve() = graft.pipeline.Sparse.searchSegments(s,
        graft.streaming.StreamingSegments.segmentRoots(s, root), q, k = 10)
      val across = serve().withColumn("stage", lit("segments"))
        .localCheckpoint(true)
      graft.streaming.StreamingSegments.mergeAllSparse(s, root,
        protectTail = false) // stream closed: no replay can occur
      across.unionByName(serve().withColumn("stage", lit("merged")))
        .select(col("stage"), col("qid"), col("nid"), col("score"),
          col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // in-stream tiered maintenance on the SPARSE tier — the
    // stream_ivf/bm25_segments_tiered shape on per-doc integer
    // postings: 6 microbatches with a cadence-2 fanout-2 tiered fold
    // leave {0..4 cascaded survivor, protected tail 5} on disk, and
    // the mid-policy serve must replay the direct DuckDB brute force
    // (per-doc postings carry no cross-segment statistics, so any
    // grouping serves identically — this row pins that the FOLD
    // preserves it through Sparse.mergeInto's file moves)
    "stream_sparse_segments_tiered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("ssparse_segs_tier")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestSparse(s, d, root,
        nBatches = 6, maintainEvery = 2, fanout = 2,
        minTierBytes = 1L << 40)
      val segs = graft.streaming.StreamingSegments.segmentRoots(s, root)
      require(segs.size == 2,
        s"cadence shape: {0..4 cascaded, tail 5} expected, got $segs")
      graft.pipeline.Sparse.searchSegments(s, segs,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // SKEW STRESS on the sparse segments serve — bm25_segments_skewed's
    // ~90%/4%/4%/2% shape on the tier whose postings are dim-bucketed
    // per segment: a sliver segment holds only a handful of docs'
    // postings (many dim buckets empty), and the union across that
    // shape must still replay the brute force bit-exactly
    "sparse_segments_skewed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("sparse_segs_skew")
        .resolve("segments").toString
      val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      val cuts = Seq(0L, n * 90 / 100, n * 94 / 100, n * 98 / 100, n)
      cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) => () =>
        graft.streaming.StreamingSegments.processBatchSparse(s,
          emb.where(col("vec_id") >= lo && col("vec_id") < hi),
          "embedding", "vec_id", root, i.toLong,
          tau = 0.05, scale = graft.pipeline.Sparse.DefaultScale): Unit
      }.toSeq match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Sparse.searchSegments(s,
          graft.streaming.StreamingSegments.segmentRoots(s, root),
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the PAIRED hybrid segment-per-microbatch write path — retires
    // the most ledger-entangled streamed writer (StreamingHybrid's
    // per-side markers + paired-sub-layout witnesses): each batch's
    // bm25 AND ivf sides land inside ONE hidden build + promote, so
    // the pair is atomic by construction and one-sided skew cannot
    // occur. Both stages (across segment pairs, then post-mergeAll)
    // must equal the scan-based hybrid_topk golden — exhaustive
    // probe, so the fusion is byte-identical
    "stream_hybrid_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("shyb_segs")
        .resolve("segments").toString
      graft.streaming.StreamingSegments.ingestHybrid(s, d, model, root,
        nBatches = 4)
      val queries = Seq(0L -> "hash join", 1L -> "fast table scan",
        2L -> "merge sort window")
      val qv = emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      def serve() = graft.pipeline.Hybrid.searchSegments(s,
        graft.streaming.StreamingSegments.segmentRoots(s, root),
        queries, qv, model, "embedding", "vec_id", kCand = 20, k = 10,
        nprobe = 16)
      val across = serve().withColumn("stage", lit("segments"))
        .localCheckpoint(true)
      graft.streaming.StreamingSegments.mergeAllHybrid(s, root,
        protectTail = false) // stream closed: no replay can occur
      across.unionByName(serve().withColumn("stage", lit("merged")))
        .select(col("stage"), col("qid"), col("doc"), col("rrf_fp"),
          col("rk"))
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    "stream_hybrid_search" -> ((s, d) => {
      // the PAIRED hybrid index maintained ON INGEST — the last cell
      // of the streaming × persisted-index matrix: 4 microbatches of
      // documents append text to the BM25 side and id-matched
      // vectors to the IVF side through the one paired entry point
      // (exactly-once per side), with a mid-stream compaction of
      // both layouts. Both sides grow one-shot-identical, so the
      // fused serve equals the scan-based hybrid_topk golden — which
      // fails loudly if either side missed a batch (skewed fusion)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("graft_shyb_q")
        .resolve("index").toString
      graft.streaming.StreamingHybrid.ingest(s, d, model, root,
        nBatches = 4, compactEvery = 2)
      graft.pipeline.Hybrid.searchIndex(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_ivfpqr_search" -> ((s, d) => {
      // the QUANTIZED serving layout maintained ON INGEST: 4
      // microbatches of embeddings encode their residuals under the
      // frozen (coarse, codebook) pair and append m-byte codes, with
      // a mid-stream compaction; the serve runs from the RELOADED
      // pair (persisted at first contact). Pure per-row encoding ⇒
      // the grown layout ≡ the one-shot build — the ivf_topk_pqr
      // golden pins the whole streamed quantized lifecycle
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("sivfpqr_q")
        .resolve("index").toString
      graft.streaming.StreamingIvf.ingestCodes(s, d, ivf, pq, idx,
        nBatches = 4, compactEvery = 2)
      val ivf2 = graft.pipeline.Ivf.loadModel(s,
        graft.pipeline.Ivf.modelPath(idx))
      val pq2 = graft.pipeline.Ivf.loadPq(s, idx)
      graft.pipeline.Ivf.searchPqResidualIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf2, pq2, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_bq_search" -> ((s, d) => {
      // the SIGN-BIT serving layout maintained on ingest: 4
      // microbatches append 8-byte signatures under the frozen
      // coarse quantizer with a mid-stream compaction; training-free
      // encoding ⇒ grown ≡ one-shot, so the ivf_topk_bq golden pins
      // the whole streamed lifecycle (the serve reloads the model
      // persisted at first contact)
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("sbq_q")
        .resolve("index").toString
      graft.streaming.StreamingIvf.ingestBq(s, d, model, idx,
        nBatches = 4, compactEvery = 2)
      graft.pipeline.Ivf.searchBqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          graft.pipeline.Ivf.loadModel(s, graft.pipeline.Ivf.modelPath(idx)),
          k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    "stream_neardup" -> ((s, d) => {
      // streaming NEAR-dup dedup on ingest: every microbatch probes the
      // accumulated band-bucketed simhash index (equi-join), drop
      // policy is batch-boundary-independent (see StreamingDedup), so
      // the result equals the batch formulation the oracle replays
      val root = graft.core.Scratch.dir("graft_sdedup_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingDedup.ingest(s, d, idx, out, maxDist = 12)
      s.read.parquet(out).select(col("doc").as("doc_id")).orderBy(col("doc_id"))
    }),

    "sql_topk_cosine" -> ((s, d) => {
      graft.functions.GraftSql.register(s)
      tbl(s, d, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT e.vec_id, cosine_sim_d(e.embedding, q.embedding) AS sim
          |FROM embeddings_v e, (SELECT embedding FROM embeddings_v WHERE vec_id = 0) q
          |ORDER BY sim DESC, vec_id LIMIT 3""".stripMargin)
    }),

    "pii_scrub" -> ((s, d) => {
      // PII redaction over text with deterministically injected
      // e-mails / IPv4s / phones (the synthetic docs carry none), so
      // the counts and replacements are actually exercised; the DuckDB
      // oracle composes the identical text and runs the identical
      // RE2-compatible patterns
      val docs = tbl(s, d, "documents")
      val injected = docs.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" via 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" tel +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
      graft.pipeline.Pii.scrub(injected, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          col("n_phones"), col("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // PCA projection of the embedding corpus: bounded-driver-fold
    // train (sample covariance + fixed-sweep sqrt-form Jacobi — only
    // IEEE-exact ops, engine-replayable), codegen'd map-side matvec
    "embed_pca" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Pca.train(emb, "embedding", "vec_id", k = 8)
      val proj = (1 to 8).map(i =>
        round(element_at(col("p"), i), 6).as(s"p${i - 1}"))
      emb.select(col("vec_id"),
          graft.pipeline.Pca.project(col("embedding"), model).as("p"))
        .select(col("vec_id") +: proj: _*)
        .orderBy(col("vec_id"))
    }),

    // IVF-PQ: coarse clusters bound WHICH postings are touched, PQ
    // codes bound bytes/CPU per candidate, exact rescore on survivors
    "ivf_topk_pq" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", ivf)
      graft.pipeline.Ivf.searchPq(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", ivf, pq, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the PERSISTED IVF-PQ lifecycle: write the cluster-partitioned
    // m-byte codes layout, serve from disk (probe reads codes only;
    // the ≤ k·oversample ADC survivors back-join the vector table for
    // the exact rescore) — ≡ the in-memory searchPq by construction,
    // so the oracle is the ivf_topk_pq golden itself
    "ivf_topk_pq_indexed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfpq_idx")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPq(
        graft.pipeline.Ivf.assign(emb, "embedding", ivf), "embedding",
        pq, ivf, idx)
      graft.pipeline.Ivf.searchPqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf, pq, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the raw-PQ codes layout's incremental lifecycle, serving from
    // the RELOADED pair — the appendToIndexPq twin pinned like its
    // int8 and residual siblings (grown ≡ one-shot, same golden)
    "ivf_topk_pq_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfpq_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndexPq(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", ivf), "embedding", pq, ivf, idx)
      graft.pipeline.Ivf.appendToIndexPq(emb.where(col("vec_id") > half),
        "embedding", pq, ivf, idx)
      val ivf2 = graft.pipeline.Ivf.loadModel(s,
        graft.pipeline.Ivf.modelPath(idx))
      val pq2 = graft.pipeline.Ivf.loadPq(s, idx)
      graft.pipeline.Ivf.searchPqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf2, pq2, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // BINARY QUANTIZATION — the coarsest tier of the layout family
    // (sign bits, 32x under float32 at any dimension, training-free):
    // Hamming shortlist over the probed cells' 8-byte signatures,
    // exact rescore on the k*oversample survivors; golden mirrors
    // the shortlist (ham asc, id asc) and the rescore exactly
    "ivf_topk_bq" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfbq_idx")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexBq(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.searchBqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the sign-bit layout's incremental lifecycle — encoding is
    // training-free, so grown ≡ one-shot unconditionally (same golden)
    "ivf_topk_bq_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfbq_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Ivf.writeIndexBq(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.appendToIndexBq(emb.where(col("vec_id") > half),
        "embedding", model, idx)
      graft.pipeline.Ivf.searchBqIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // filter-inside-search on the sign-bit layout: with < k matches
    // the widening escalates to the exhaustive probe, whose Hamming
    // shortlist holds EVERY match — the exact rescore then meets the
    // same DuckDB brute-force-over-the-filter oracle as the float,
    // raw-PQ, residual, and int8 rows (all FIVE serving layouts)
    "ivf_topk_bq_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfbq_filt")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexBq(
        graft.pipeline.Ivf.assign(emb, "embedding", model), "embedding", idx)
      graft.pipeline.Ivf.searchBqIndexFiltered(
          graft.pipeline.Ivf.readIndex(s, idx),
          emb.select(col("vec_id"), col("embedding")),
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          model, k = 5,
          filter = col("label") === 3 && col("vec_id") % 13 === 0,
          nprobe0 = 1)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the recommended configuration the r10 knob sweep found: codes
    // store ONE BYTE per subspace regardless of ksub, so ksub=256 at
    // m=8 is the SAME 8-byte code as ksub=16 with recall 0.32 -> 0.68
    // (sweep in PLANS.md) — byte-budget goes to ksub first
    "ivf_topk_pq256" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 256, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", ivf)
      graft.pipeline.Ivf.searchPq(postings, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", ivf, pq, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // IVF-ADC (Jegou et al. 2011): the PQ codebooks fit each vector's
    // RESIDUAL to its assigned coarse centroid, so the same m code
    // bytes cover only the within-cell spread — the standard fix for
    // the code-bound recall plateau the r9 knob sweep measured. ADC
    // score = q-centroid dot (query-side, per probed cell) + residual
    // LUT sum; exact rescore unchanged.
    "ivf_topk_pqr" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val postings = graft.pipeline.Ivf.assign(emb, "embedding", ivf)
      graft.pipeline.Ivf.searchPqResidual(postings,
          emb.where(col("vec_id") < 10), "embedding", "vec_id", ivf, pq,
          k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the PERSISTED residual-codes lifecycle: cluster-partitioned
    // m-byte residual codes on disk, candidate path never touches a
    // float vector, survivors back-join for the exact rescore — ≡ the
    // in-memory searchPqResidual by construction, so the oracle is
    // the ivf_topk_pqr golden itself
    "ivf_topk_pqr_indexed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ivf = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val pq = graft.pipeline.Ivf.trainPqResidual(emb, "embedding", "vec_id",
        ivf, m = 8, ksub = 16, iters = 3)
      val idx = graft.core.Scratch.dir("ivfpqr_idx")
        .resolve("index").toString
      graft.pipeline.Ivf.writeIndexPqResidual(
        graft.pipeline.Ivf.assign(emb, "embedding", ivf), "embedding",
        pq, ivf, idx)
      graft.pipeline.Ivf.searchPqResidualIndex(
          graft.pipeline.Ivf.readIndex(s, idx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          ivf, pq, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // DERIVED-LAYOUT refresh after recluster: residual codes are
    // centroid-dependent, so a recluster of the float layout must
    // cascade into retraining the residual codebooks and re-encoding
    // the codes layout — this row pins the whole cascade (stale
    // build + drifted append + recluster + PQ retrain from the
    // index's own read-back + re-encode + serve) against the
    // one-shot ivf_topk_pqr golden, which fails loudly if any stage
    // kept a stale centroid, code, or assignment
    "ivf_topk_pqr_reclustered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      val stale = graft.pipeline.Ivf.train(emb.where(col("vec_id") <= half),
        "embedding", "vec_id", nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("ivfpqr_rec")
      val idx = root.resolve("index").toString
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb.where(col("vec_id") <= half),
          "embedding", stale), idx)
      graft.pipeline.Ivf.appendToIndex(emb.where(col("vec_id") > half),
        "embedding", stale, idx)
      val fresh = graft.pipeline.Ivf.recluster(s, idx, "embedding",
        "vec_id", nlist = 16, iters = 3)
      // retrain + re-encode the derived codes layout from the float
      // layout's own contents (TrainSample determinism ⇒ same pq as
      // one-shot training on the union)
      val posts = graft.pipeline.Ivf.readIndex(s, idx)
      val pq = graft.pipeline.Ivf.trainPqResidual(posts, "embedding",
        "vec_id", fresh, m = 8, ksub = 16, iters = 3)
      val pqIdx = root.resolve("pq").toString
      graft.pipeline.Ivf.writeIndexPqResidual(posts, "embedding", pq,
        fresh, pqIdx)
      graft.pipeline.Ivf.searchPqResidualIndex(
          graft.pipeline.Ivf.readIndex(s, pqIdx), emb,
          emb.where(col("vec_id") < 10), "embedding", "vec_id",
          fresh, pq, k = 5, nprobe = 4, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // two-stage PQ ANN: ADC-scored candidates from 8-byte product
    // quantization codes (32x under float32), exact rescore
    "ann_topk_pq" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16, iters = 3)
      graft.pipeline.Pq.pqTopK(emb, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", k = 5, model, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the DISTRIBUTED-trained PQ codebooks (Pq.trainDistributed —
    // full-corpus fixed-point per-subspace Lloyd's, completing the
    // trainer family's scale path): same ADC + exact-rescore serve,
    // golden-replayed bit-exactly
    "ann_topk_pq_dist" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Pq.trainDistributed(emb, "embedding",
        "vec_id", m = 8, ksub = 16, iters = 3)
      graft.pipeline.Pq.pqTopK(emb, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", k = 5, model, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // two-stage PCA ANN: reduced-space candidates (16 of 64 dims
    // scanned), oversample x4, exact rescore — fully oracle-checked
    "ann_topk_pca" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Pca.train(emb, "embedding", "vec_id", k = 16)
      graft.pipeline.Similarity.pcaTopK(emb, emb.where(col("vec_id") < 10),
          "embedding", "vec_id", k = 5, model, oversample = 4)
        .select(col("qid"), col("nid"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // CCNet-style LM quality scoring: add-one bigram model trained on
    // the even-id half, every document scored by cross-entropy. The
    // score is engine-exact (integer rationals + fixed-point log2, no
    // libm) so the Python mirror replays xent_fp bit-for-bit.
    "text_lm_quality" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val lm = graft.pipeline.LmQuality.train(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id",
        vocabSize = 2000, maxBigrams = 50000)
      graft.pipeline.LmQuality.crossEntropy(docs, "text", "doc_id", lm)
        .select(col("doc"), col("n_bigrams"), col("xent_fp"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc"))
    }),

    // CCNet-style perplexity bucketing: head/middle/tail by exact
    // integer per-bigram cross-entropy thresholds at the 33rd/66th
    // exact percentiles — same LM train config as text_lm_quality, so
    // the oracle replays the bucketing in SQL over that golden
    "ccnet_buckets" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val lm = graft.pipeline.LmQuality.train(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id",
        vocabSize = 2000, maxBigrams = 50000)
      graft.pipeline.LmQuality.perplexityBuckets(docs, "text", "doc_id", lm)
        .select(col("doc"), col("avg_fp"), col("bucket"))
        .orderBy(col("doc"))
    }),

    // budgeted greedy selection: best-scored documents (avg word
    // length as the deterministic score proxy) until the token budget
    // is spent — distributed prefix sum, never a one-partition window
    "corpus_budget_select" -> ((s, d) =>
      graft.pipeline.Curation.selectByBudget(s,
          tbl(s, d, "documents").withColumn("score",
            col("n_chars").cast("double") /
              graft.pipeline.TextAnalysis.tokenCount(col("text"))),
          "score", "doc_id", "text", budget = 10000L)
        .select(col("doc"), round(col("score"), 6).as("score"),
          col("n_tokens"), col("cum_tokens"), col("selected"))
        .orderBy(col("doc"))),

    // DSIR importance selection (Xie et al. 2023): hashed
    // unigram+bigram multinomials over target (lang='en') vs raw (all
    // docs), every document weighted by its exact fixed-point log2
    // likelihood ratio, deterministic top-k. Fit = one bounded-key
    // aggregation per corpus; scoring = broadcast-model codegen map
    // pass; selection = TakeOrderedAndProject
    "dsir_select" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      // target ⊆ raw: the fused single-scan fit (one corpus pass
      // computes both multinomials; at 100 TB the fit cost IS that
      // scan)
      val model = graft.pipeline.Dsir.fitSplit(
        docs, col("lang") === "en", "text", buckets = 512)
      graft.pipeline.Dsir.selectTopK(docs, "text", "doc_id", model, k = 50)
        .orderBy(col("logw_fp").desc, col("doc"))
    }),

    // fastText/DCLM-style NB quality classifier: pluggable boolean
    // labeler (here the corpus's real n-gram signal, Germanic
    // langs), one-scan fit + pruned prior scan, exact fixed-point
    // log2 posterior odds via broadcast-model codegen pass, Bayes
    // decision + confident-positive top-k cut
    "nb_classifier_select" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val model = graft.pipeline.Classify.fit(
        docs, col("lang").isin("en", "de"), "text", buckets = 512)
      graft.pipeline.Classify.selectTopK(docs, "text", "doc_id", model, k = 80)
        .orderBy(col("logodds_fp").desc, col("doc"))
    }),

    // train/val/test split, map-side proportional variant: zero
    // shuffle, codegen'd when-chain over the deterministic per-row
    // uniform — the 100 TB default (append-stable across corpus
    // versions)
    "corpus_split_assign" -> ((s, d) =>
      graft.pipeline.Split.assignSplits(
          tbl(s, d, "documents").select("doc_id", "lang"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))),

    // exact-quota stratified split: every lang stratum cut precisely
    // at floor(cumF·n_s) by (u, id) rank — distributed rank via the
    // SeqPack range-partition + driver-prefix pattern, never a
    // one-reducer per-stratum window
    "corpus_split_stratified" -> ((s, d) =>
      graft.pipeline.Split.splitStratified(s,
          tbl(s, d, "documents"), "doc_id", "lang",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
        .orderBy(col("doc"))),

    // weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race, exact fixed-point keys): ONE codegen map pass
    // computes the race key, the bounded-heap top-k aggregate cuts
    // the winners — O(k) state, only k rows cross the shuffle. Weight
    // = token count (length-proportional inclusion)
    "corpus_weighted_sample" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
        .withColumn("w", graft.pipeline.TextAnalysis.tokenCount(col("text")))
      graft.pipeline.Sample.weightedSample(docs, "doc_id", "w",
          k = 20, seed = 42L)
        .orderBy(col("rk"))
    }),

    // exact per-lang length percentiles by integer rank selection
    // (lower rule: 0-based rank floor(pct·(n−1)/100) over
    // (value, id) order) — the distributed-rank pattern: range
    // partition + per-partition window + O(P+#groups) driver prefix
    // + broadcast target-rank join; never percentile_approx's sketch,
    // never a one-reducer window
    "corpus_length_percentiles" -> ((s, d) =>
      graft.pipeline.OrderStats.exactPercentiles(s,
          tbl(s, d, "documents"), "lang", "n_chars", "doc_id",
          Seq(0, 25, 50, 75, 100))
        .orderBy(col("grp"), col("pct"))),

    // per-stratum variant: the same heap keyed by lang — k winners
    // inside every stratum, one O(k) buffer per stratum
    "corpus_weighted_sample_strat" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
        .withColumn("w", graft.pipeline.TextAnalysis.tokenCount(col("text")))
      graft.pipeline.Sample.weightedSampleStratified(docs, "doc_id",
          "lang", "w", k = 5, seed = 7L)
        .orderBy(col("stratum"), col("rk"))
    }),

    // RefinedWeb-style URL/domain blocklist: host via native
    // parse_url, suffix-blocklist probe as a codegen'd broadcast-set
    // expression (zero shuffle, no explode, no per-entry regex) —
    // the documents table carries no URL so the fixture derives one
    // deterministically from (source, doc_id); the operator path
    // (hostOf → hostBlocked) is the real one
    "url_blocklist" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 2 === 1, lit("cdn.")).otherwise(lit("")),
          col("source"), lit(".example.com/doc/"), col("doc_id")))
      graft.pipeline.UrlFilter.flagBlockedUrls(docs, "url",
          Seq("src3.example.com", "src7.example.com",
            "cdn.src1.example.com"))
        .select(col("doc_id"), col("host"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // Deequ-style data-quality gate, profile half: single fused
    // aggregation pass for nulls/min/max/length stats (one scan, one
    // single-row exchange) + one (name, value) two-level aggregation
    // for exact distincts — never an Expand-based multi-distinct
    "profile_documents" -> ((s, d) =>
      graft.pipeline.Validate.profile(tbl(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"), col("metric"))),

    // constraint half: every row-level check fused into ONE
    // aggregation over ONE scan per table; uniqueness a two-level
    // agg; referential containment a broadcast anti-join count.
    // accepted(lang) and in_range(n_chars) have real violations in
    // the fixture; the rest pin the zero path
    "check_constraints" -> ((s, d) => {
      import graft.pipeline.Validate._
      val a = check(tbl(s, d, "orders"), Seq(
        Constraint.notNull("o_custkey"),
        Constraint.accepted("o_orderstatus", Seq("O", "F", "P")),
        Constraint.inRange("o_totalprice", 0, 1000000),
        Unique(Seq("o_orderkey")),
        SubsetOf("o_custkey", tbl(s, d, "customer"), "c_custkey",
          "customer")))
      val b = check(tbl(s, d, "documents"), Seq(
        Constraint.accepted("lang", Seq("en", "de")),
        Constraint.inRange("n_chars", 100, 1000),
        Constraint.matches("source", "^src[0-9]+$")))
      a.unionByName(b).orderBy(col("constraint_name"))
    }),

    // leakage-safe split: assignment keyed by the NFC-normalized
    // content fingerprint, so the composed/decomposed variant pairs
    // fabricated here MUST land in the same split (row-keyed splits
    // leak one variant into test while its twin trains); md5-hex
    // bucket thresholds are replayed by the oracle as string compares
    "corpus_split_content" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val composed = docs.select(col("doc_id"),
        regexp_replace(col("text"), "a", "á").as("text"))
      val decomposed = docs.select((col("doc_id") + 10000L).as("doc_id"),
        regexp_replace(col("text"), "a", "á").as("text"))
      graft.pipeline.Split.splitByContent(
          composed.unionByName(decomposed), "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    }),

    // corpus snapshot diff: content-keyed added/removed/changed/
    // unchanged between two versions — each side reduced map-side to
    // (id, fingerprint), one slim id-keyed full-outer join
    "corpus_snapshot_diff" -> ((s, d) => {
      val base = tbl(s, d, "documents")
      val mod = base
        .withColumn("text", when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
        .where(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("text"))
      val extra = base.where(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      graft.pipeline.Snapshot.diff(mod.unionByName(extra), base,
          "doc_id", "text")
        .orderBy(col("id"))
    }),

    // Okapi BM25 batch retrieval: one postings scan (doc length
    // carried through the agg — no corpus-side length join),
    // driver-computed exact fixed-point idf broadcast back,
    // order-free integer score sum, bounded-heap per-query top-k
    "bm25_topk" -> ((s, d) =>
      graft.pipeline.Bm25.topK(s, tbl(s, d, "documents"), "text",
          "doc_id",
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))),

    // the build-once/query-many BM25 lifecycle: persist the
    // term-bucket-partitioned postings/df/stats index, search it —
    // results must equal the direct scan path, so the oracle is the
    // bm25_topk golden itself; a query touching q terms reads at most
    // q of the 64 bucket partitions (partition pruning)
    "bm25_topk_indexed" -> ((s, d) => {
      val idx = graft.core.Scratch.dir("bm25_idx")
        .resolve("index").toString
      graft.pipeline.Bm25.writeIndex(s, tbl(s, d, "documents"), "text",
        "doc_id", idx)
      graft.pipeline.Bm25.searchIndex(s, idx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // SEGMENT MERGE for the lexical index: two disjoint shard builds
    // file-move merged with ZERO recompute (readers sum stats/df
    // rows across increments, so a merge is renames) — search over
    // the merged index ≡ the one-shot build, same golden
    "bm25_topk_merged" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val root = graft.core.Scratch.dir("bm25_merge")
      val idxA = root.resolve("shardA").toString
      val idxB = root.resolve("shardB").toString
      val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      // the shard builds are the row's parallel-build topology — run
      // them as such (disjoint roots, no conf mutation: Par contract)
      graft.core.Par.all(
        () => graft.pipeline.Bm25.writeIndex(s,
          docs.where(col("doc_id") <= half), "text", "doc_id", idxA),
        () => graft.pipeline.Bm25.writeIndex(s,
          docs.where(col("doc_id") > half), "text", "doc_id", idxB))
      graft.pipeline.Bm25.mergeInto(s, idxA, idxB)
      graft.pipeline.Bm25.searchIndex(s, idxA,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // multi-segment lexical serve WITHOUT the merge (the Lucene
    // per-segment read path): three disjoint shard roots, collection
    // statistics merged GLOBALLY at serve time — N/T sum over
    // segments, per-term df sums over segments — so idf and the
    // saturation denominator see the union corpus and the result is
    // bit-identical to the one-shot build (same golden)
    "bm25_topk_segments" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val root = graft.core.Scratch.dir("bm25_segs")
      val segs = Seq("segA", "segB", "segC").map(root.resolve(_).toString)
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      Seq(
        docs.where(col("doc_id") <= mx / 3),
        docs.where(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3),
        docs.where(col("doc_id") > 2 * mx / 3)
      ).zip(segs).map { case (p, seg) =>
        () => graft.pipeline.Bm25.writeIndex(s, p, "text", "doc_id", seg)
      } match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Bm25.searchSegments(s, segs,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // KEYSET scroll over the lexical index (ivf_scroll's semantics on
    // the bm25 tier — the dashboard doc-listing the verdict asked
    // for): two filtered pages walked by last-id keyset through a
    // live tombstone mask ≡ DuckDB's ordered LIMIT/OFFSET over the
    // filtered masked corpus
    "bm25_scroll" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val idx = graft.core.Scratch.dir("bm25_scroll")
        .resolve("index").toString
      graft.pipeline.Bm25.writeIndex(s, docs, "text", "doc_id", idx)
      graft.pipeline.Bm25.tombstoneDocs(s, idx,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
      val filt = Some(col("doc") % 2 === 0)
      val p1 = graft.pipeline.Bm25.scroll(s, idx, None, 20, filt)
        .localCheckpoint(true)
      // empty page 1 → no keyset → skip page 2 (null-max NPE guard)
      val last = p1.agg(max(col("doc"))).head()
      val p2 = if (last.isNullAt(0)) p1.limit(0)
        else graft.pipeline.Bm25.scroll(s, idx, Some(last.getLong(0)), 20,
          filt)
      p1.withColumn("page", lit(1L))
        .unionByName(p2.withColumn("page", lit(2L)))
        .select(col("page"), col("doc"))
        .orderBy(col("page"), col("doc"))
    }),

    // the count-API on the lexical tier: live docs under filter +
    // mask — distinct over postings, NOT the stats table (stats keep
    // tombstoned mass until the fold; a count reports what serves)
    "bm25_count_filtered" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val idx = graft.core.Scratch.dir("bm25_count")
        .resolve("index").toString
      graft.pipeline.Bm25.writeIndex(s, docs, "text", "doc_id", idx)
      graft.pipeline.Bm25.tombstoneDocs(s, idx,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
      graft.pipeline.Bm25.countDocs(s, idx, Some(col("doc") % 2 === 0))
    }),

    // SPARSE retrieval tier (SPLADE / uniCOIL class): vectors become
    // active (dim, fixed-point w) postings, scores are exact integer
    // dot products over shared dims — deterministic across engines,
    // so the oracle is direct DuckDB SQL (no golden). Scan-based
    // truth first:
    "sparse_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val sp = graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id")
      val q = graft.pipeline.Sparse.sparsify(
        emb.where(col("vec_id") < 4), "embedding", "vec_id")
      graft.pipeline.Sparse.topK(sp, q, k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the persisted inverted layout serves identically to the scan
    // (sparse serving is EXACT — an inverted index loses nothing for
    // dot products; only the query's dim-buckets are read)
    "sparse_topk_indexed" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_idx")
        .resolve("index").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // grown layout ≡ one-shot build (additive postings under the
    // disjoint-docs contract), compaction contents-invariant
    "sparse_topk_incremental" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_inc")
        .resolve("index").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
        emb.where(col("vec_id") <= half), "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.appendToIndex(s, graft.pipeline.Sparse.sparsify(
        emb.where(col("vec_id") > half), "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.compactIndex(s, idx)
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // right-to-be-forgotten on the sparse tier, decoy-oracled: the
    // decoys are verbatim copies of the query vectors (they would own
    // the rank-1 slots with self-dot scores if any posting survived)
    "sparse_topk_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_del")
        .resolve("index").toString
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
        emb.unionByName(decoys), "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.deleteDocs(s, idx, decoys.select(
        col("vec_id").as("doc")))
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // shard-parallel build + segment merge ≡ one-shot (per-doc
    // postings: the merge is a pure file move)
    "sparse_topk_merged" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("sparse_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      // parallel shard builds (disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
          emb.where(col("vec_id") <= half), "embedding", "vec_id"), shardA),
        () => graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
          emb.where(col("vec_id") > half), "embedding", "vec_id"), shardB))
      graft.pipeline.Sparse.mergeInto(s, shardA, shardB)
      graft.pipeline.Sparse.searchIndex(s, shardA,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the count-API on the sparse tier: live docs (distinct over the
    // masked postings) under a payload filter — the Qdrant count
    // semantics a quota check reads without a search
    "sparse_count_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_count")
        .resolve("index").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.tombstoneDocs(s, idx,
        emb.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      graft.pipeline.Sparse.countIndex(s, idx,
        Some(col("doc") % 2 === 0))
    }),

    // KEYSET scroll on the sparse tier (ivf_scroll's semantics — the
    // last countIndex-but-no-scroll asymmetry in the serving matrix):
    // two filtered doc-listing pages walked by last-id keyset through
    // a live tombstone mask ≡ ordered LIMIT/OFFSET over the filtered
    // masked live-doc set (a doc is live when any dim survives the
    // sparsify threshold)
    "sparse_scroll" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_scroll")
        .resolve("index").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.tombstoneDocs(s, idx,
        emb.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val filt = Some(col("doc") % 2 === 0)
      val p1 = graft.pipeline.Sparse.scroll(s, idx, None, 20, filt)
        .localCheckpoint(true)
      // empty page 1 → no keyset → skip page 2 (null-max NPE guard)
      val last = p1.agg(max(col("doc"))).head()
      val p2 = if (last.isNullAt(0)) p1.limit(0)
        else graft.pipeline.Sparse.scroll(s, idx, Some(last.getLong(0)),
          20, filt)
      p1.withColumn("page", lit(1L))
        .unionByName(p2.withColumn("page", lit(2L)))
        .select(col("page"), col("doc"))
        .orderBy(col("page"), col("doc"))
    }),

    // multi-segment sparse serve WITHOUT the merge: three shard
    // roots, decoy copies of the query vectors (they would own the
    // rank-1 slots with self-dot scores) tombstoned in THEIR OWN
    // segment only — per-segment masks, union-served ≡ the
    // decoy-free brute force
    "sparse_topk_segments" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("sparse_segs")
      val segs = Seq("segA", "segB", "segC").map(base.resolve(_).toString)
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      Seq(
        emb.where(col("vec_id") <= mx / 3),
        emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3),
        emb.where(col("vec_id") > 2 * mx / 3).unionByName(decoys)
      ).zip(segs).map { case (p, seg) =>
        () => graft.pipeline.Sparse.writeIndex(
          graft.pipeline.Sparse.sparsify(p, "embedding", "vec_id"), seg)
      } match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Sparse.tombstoneDocs(s, segs(2),
        decoys.select(col("vec_id").as("doc")))
      graft.pipeline.Sparse.searchSegments(s, segs,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // filter × tombstones × segments COMPOSED on a non-dense tier
    // (the dense ivf_topk_segments_grouped analogue): three shard
    // roots, decoy query copies tombstoned in their own segment, and
    // a docFilter pushed inside the segment serve — the result must
    // equal brute force over the FILTERED decoy-free corpus (sparse
    // serving is exact, so no oversampling caveats apply)
    "sparse_topk_segments_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("sparse_segf")
      val segs = Seq("segA", "segB", "segC").map(base.resolve(_).toString)
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      // EVEN-id decoys: they pass the filter, so only their segment's
      // own tombstone mask keeps them out of the top ranks
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") * 2L + 90000000L).as("vec_id"),
          col("embedding"))
      Seq(
        emb.where(col("vec_id") <= mx / 3),
        emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3)
          .unionByName(decoys),
        emb.where(col("vec_id") > 2 * mx / 3)
      ).zip(segs).map { case (p, seg) =>
        () => graft.pipeline.Sparse.writeIndex(
          graft.pipeline.Sparse.sparsify(p, "embedding", "vec_id"), seg)
      } match { case bs => graft.core.Par.all(bs: _*) }
      graft.pipeline.Sparse.tombstoneDocs(s, segs(1),
        decoys.select(col("vec_id").as("doc")))
      graft.pipeline.Sparse.searchSegments(s, segs,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10,
          docFilter = Some(col("doc") % 2 === 0))
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // replace-by-id on the sparse tier: ids 10..13 are built with
    // STALE vectors (verbatim query copies — they would score 1.0
    // everywhere), then upserted to their true embeddings; the serve
    // must equal the never-corrupted brute force
    "sparse_topk_upserted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_ups")
        .resolve("index").toString
      val stale = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 10L).as("vec_id"), col("embedding"))
      val corrupted = emb.where(col("vec_id") < 10 || col("vec_id") >= 14)
        .unionByName(stale)
      graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
        corrupted, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.upsertDocs(s, idx,
        emb.where(col("vec_id") >= 10 && col("vec_id") < 14),
        "embedding", "vec_id")
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // tombstone deletes at serving latency on the sparse tier: the
    // decoys (query copies — they would own every rank-1 with
    // self-dot scores) are masked the instant the sidecar lands, and
    // the fold retires the mask into a physical rewrite — BOTH
    // stages must serve the decoy-free brute force
    "sparse_topk_tombstoned" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_tomb")
        .resolve("index").toString
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      graft.pipeline.Sparse.writeIndex(graft.pipeline.Sparse.sparsify(
        emb.unionByName(decoys), "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.tombstoneDocs(s, idx,
        decoys.select(col("vec_id").as("doc")))
      val q = graft.pipeline.Sparse.sparsify(
        emb.where(col("vec_id") < 4), "embedding", "vec_id")
      val masked = graft.pipeline.Sparse.searchIndex(s, idx, q, k = 10)
        .select(lit("masked").as("stage"), col("qid"), col("nid"),
          col("score"), col("rk"))
      graft.pipeline.Sparse.foldTombstones(s, idx)
      val folded = graft.pipeline.Sparse.searchIndex(s, idx, q, k = 10)
        .select(lit("folded").as("stage"), col("qid"), col("nid"),
          col("score"), col("rk"))
      masked.unionByName(folded)
        .orderBy(col("stage"), col("qid"), col("rk"))
    }),

    // filter-inside-search on the sparse tier: the predicate is
    // pushed below the ranking cut, and because sparse serving is
    // exact the filtered top-k IS brute force over the filtered
    // corpus — no oversampling loop needed (contrast the probed
    // dense tier's ivf_topk_filtered)
    "sparse_topk_filtered" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = graft.core.Scratch.dir("sparse_filt")
        .resolve("index").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10,
          docFilter = Some(col("doc") % 2 === 0))
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // multi-tenant serving on the sparse tier: top-k per (query,
    // tenant) in ONE scan pass — scores are tenant-independent, so
    // isolation is purely the ranking key (the ivf_topk_grouped
    // semantics on the exact tier)
    "sparse_topk_grouped" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val idx = graft.core.Scratch.dir("sparse_grp")
        .resolve("index").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.pipeline.Sparse.searchIndexGrouped(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"),
          k = 5, groupCol = "label",
          docGroups = emb.select(col("vec_id").as("doc"), col("label")))
        .select(col("qid"), col("label"), col("nid"), col("score"),
          col("rk"))
        .orderBy(col("qid"), col("label"), col("rk"))
    }),

    // snapshot/restore on the sparse tier (the ivf_topk_restored
    // pattern): capture the healthy layout, corrupt it two ways
    // (decoy append + a dropped bucket dir), length-verified restore,
    // serve — the result must equal the pre-corruption brute force
    "sparse_topk_restored" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("sparse_restore")
      val idx = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      graft.pipeline.Sparse.writeIndex(
        graft.pipeline.Sparse.sparsify(emb, "embedding", "vec_id"), idx)
      graft.core.DirSnapshot.create(s, idx, snap)
      val decoys = emb.where(col("vec_id") < 4)
        .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
      graft.pipeline.Sparse.appendToIndex(s,
        graft.pipeline.Sparse.sparsify(decoys, "embedding", "vec_id"), idx)
      val b0 = new org.apache.hadoop.fs.Path(s"$idx/dbk=0")
      b0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(b0, true)
      graft.core.DirSnapshot.restore(s, snap, idx)
      graft.pipeline.Sparse.searchIndex(s, idx,
          graft.pipeline.Sparse.sparsify(
            emb.where(col("vec_id") < 4), "embedding", "vec_id"), k = 10)
        .select(col("qid"), col("nid"), col("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }),

    // the full incremental lifecycle (build half, append the rest,
    // compact, search) — grown index must equal the one-shot build,
    // so the oracle is again the bm25_topk golden
    "bm25_topk_deleted" -> ((s, d) => {
      // DELETION lifecycle: build over the corpus PLUS decoy docs
      // (vowels scrambled — new terms, new df mass, new stats), then
      // delete the decoys; search must be indistinguishable from a
      // one-shot build over the real corpus alone — the bm25_topk
      // golden pins the whole right-to-be-forgotten pass
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val decoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "9").as("text"))
      val idx = graft.core.Scratch.dir("bm25_del")
        .resolve("index").toString
      graft.pipeline.Bm25.writeIndex(s, docs.unionByName(decoys),
        "text", "doc_id", idx)
      graft.pipeline.Bm25.deleteDocs(s, idx, decoys.select(col("doc_id")))
      graft.pipeline.Bm25.searchIndex(s, idx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    "bm25_topk_incremental" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val idx = graft.core.Scratch.dir("bm25_inc")
        .resolve("index").toString
      val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.pipeline.Bm25.writeIndex(s,
        docs.where(col("doc_id") <= half), "text", "doc_id", idx)
      graft.pipeline.Bm25.appendToIndex(s,
        docs.where(col("doc_id") > half), "text", "doc_id", idx)
      graft.pipeline.Bm25.compactIndex(s, idx)
      graft.pipeline.Bm25.searchIndex(s, idx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // hybrid retrieval: Reciprocal Rank Fusion (Cormack et al. 2009)
    // of the BM25 lexical list and the dense cosine list — only ranks
    // cross the fusion boundary (no score calibration), fused score =
    // exact integer floor(2^20/(60+rk)) sum, bounded-heap cut
    "hybrid_topk" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
      graft.pipeline.Hybrid.hybridTopK(s, tbl(s, d, "documents"),
          "text", "doc_id", emb, "vec_id", "embedding",
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          kCand = 20, k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    "embed_index_incremental" -> ((s, d) => {
      // the batch incremental lifecycle of the embedding near-dup
      // index (build → probe+append → compact → probe+append):
      // increments are signature-scanned once, probes are
      // cell-pruned, and the union of emitted pairs must equal the
      // one-shot blocked pass — the embed_neardup_lsh golden
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val path = graft.core.Scratch.dir("embed_idx")
        .resolve("index").toString
      val a = emb.where(col("vec_id") % 3 === 0)
      val b = emb.where(col("vec_id") % 3 === 1)
      val c = emb.where(col("vec_id") % 3 === 2)
      val p0 = graft.pipeline.EmbedDedupIndex.buildWithPairs(s, a,
        "embedding", "vec_id", path, dim = 64, bits = 8)
      val p1 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, b,
        "embedding", "vec_id", dim = 64, bits = 8)
      graft.pipeline.EmbedDedupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, c,
        "embedding", "vec_id", dim = 64, bits = 8)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1").as("v1"), col("d2").as("v2"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    // snapshot/restore for the embedding near-dup state: build the
    // first slice (its pairs are p0), snapshot, corrupt (index decoy
    // copies whose cosine-1.0 pairs would pollute every later probe,
    // plus a dropped cell dir), restore, run the rest of the
    // lifecycle — the union of pair sets must equal the one-shot
    // blocked pass over the clean corpus
    "embed_index_restored" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("embed_restore")
      val path = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      val a = emb.where(col("vec_id") % 3 === 0)
      val b = emb.where(col("vec_id") % 3 === 1)
      val c = emb.where(col("vec_id") % 3 === 2)
      val decoys = c.select((col("vec_id") + 50000000L).as("vec_id"),
        col("embedding"))
      val p0 = graft.pipeline.EmbedDedupIndex.buildWithPairs(s, a,
        "embedding", "vec_id", path, dim = 64, bits = 8)
      graft.core.DirSnapshot.create(s, path, snap)
      graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, decoys,
        "embedding", "vec_id", dim = 64, bits = 8)
      val k0 = new org.apache.hadoop.fs.Path(s"$path/kb=0")
      k0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(k0, true)
      graft.core.DirSnapshot.restore(s, snap, path)
      val p1 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, b,
        "embedding", "vec_id", dim = 64, bits = 8)
      graft.pipeline.EmbedDedupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, c,
        "embedding", "vec_id", dim = 64, bits = 8)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1").as("v1"), col("d2").as("v2"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    // DELETION for the semantic-dedup STATE: decoys = copies of the
    // last increment's vectors (cosine 1.0 with their originals) —
    // any signature row surviving deletion emits loud decoy pairs in
    // the later probes. The union of pair sets must equal the
    // one-shot blocked pass over the clean corpus (the
    // embed_neardup_lsh golden verbatim)
    "embed_index_deleted" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val path = graft.core.Scratch.dir("embed_del")
        .resolve("index").toString
      val a = emb.where(col("vec_id") % 3 === 0)
      val b = emb.where(col("vec_id") % 3 === 1)
      val c = emb.where(col("vec_id") % 3 === 2)
      val decoys = c.select((col("vec_id") + 50000000L).as("vec_id"),
        col("embedding"))
      val p0 = graft.pipeline.EmbedDedupIndex.buildWithPairs(s, a,
        "embedding", "vec_id", path, dim = 64, bits = 8)
      // index the decoys (their probe pairs are discarded), then forget
      graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, decoys,
        "embedding", "vec_id", dim = 64, bits = 8)
      graft.pipeline.EmbedDedupIndex.deleteDocs(s, path,
        decoys.select(col("vec_id")))
      val p1 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, b,
        "embedding", "vec_id", dim = 64, bits = 8)
      graft.pipeline.EmbedDedupIndex.compactIndex(s, path)
      val p2 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, path, c,
        "embedding", "vec_id", dim = 64, bits = 8)
      p0.unionByName(p1).unionByName(p2)
        .select(col("d1").as("v1"), col("d2").as("v2"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    // SEGMENT MERGE for the embedding near-dup index — shard-parallel
    // build: %3==0 and %3==1 signed into independent indexes under
    // the frozen hyperplanes, mergeInto absorbs B into A by file
    // moves and emits the cross-shard same-bucket pairs (the vector
    // rides every row — cosine-verified inline, zero re-signing);
    // build-A ∪ build-B ∪ cross ∪ later probe ≡ one-shot blocked pass
    "embed_index_merged" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.core.Scratch.dir("embed_merge")
      val shardA = base.resolve("a").toString
      val shardB = base.resolve("b").toString
      val a = emb.where(col("vec_id") % 3 === 0)
      val b = emb.where(col("vec_id") % 3 === 1)
      val c = emb.where(col("vec_id") % 3 === 2)
      // parallel shard builds (disjoint roots, no conf mutation; the
      // returned pair frames are pinned snapshots)
      val (p0, p1) = graft.core.Par.both(
        () => graft.pipeline.EmbedDedupIndex.buildWithPairs(s, a,
          "embedding", "vec_id", shardA, dim = 64, bits = 8),
        () => graft.pipeline.EmbedDedupIndex.buildWithPairs(s, b,
          "embedding", "vec_id", shardB, dim = 64, bits = 8))
      val cross = graft.pipeline.EmbedDedupIndex.mergeInto(s, shardA, shardB)
      graft.pipeline.EmbedDedupIndex.compactIndex(s, shardA)
      val p2 = graft.pipeline.EmbedDedupIndex.probeAndAppend(s, shardA, c,
        "embedding", "vec_id", dim = 64, bits = 8)
      p0.unionByName(p1).unionByName(cross).unionByName(p2)
        .select(col("d1").as("v1"), col("d2").as("v2"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    "stream_profile" -> ((s, d) => {
      // the data-card maintained ON INGEST: per microbatch one fused
      // additive partial appended to a persisted stats table, merged
      // by each metric's combiner — must equal the one-shot batch
      // profile over the same columns (minus n_distinct, the one
      // non-mergeable metric)
      val stats = graft.core.Scratch.dir("graft_sprof_q")
        .resolve("stats").toString
      graft.streaming.StreamingProfile.ingest(s, d,
          Seq("doc_id", "text", "lang", "source", "n_chars"), stats)
        .orderBy(col("col_name"), col("metric"))
    }),

    "stream_curation" -> ((s, d) => {
      // curation ON INGEST: blocklist → quality gate → exact-fp dedup
      // riding the persisted DedupIndex, per microbatch — the
      // corpus_curation composition without ever rescanning history.
      // Every stage is relational, so the streamed kept set equals
      // the batch composition the oracle replays stage by stage
      val root = graft.core.Scratch.dir("graft_scur_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      val bl = Seq("src3.example.com", "src7.example.com",
        "cdn.src1.example.com")
      graft.streaming.StreamingCuration.ingest(s, d,
        batch => batch.withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 2 === 1, lit("cdn.")).otherwise(lit("")),
          col("source"), lit(".example.com/doc/"),
          col("doc_id").cast("string"))),
        bl, minQuality = 0.3, idx, out)
      s.read.parquet(out).select(col("doc").as("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "stream_watermarked_curation" -> ((s, d) => {
      // curation on ingest WITH a late-data policy: event time rides
      // each document (stragglers fabricated by pulling doc_id%17==5
      // ~28h behind the stream), the per-batch watermark
      // (max event time over completed earlier batches − 1h)
      // quarantines late arrivals to their own output, and only
      // on-time docs flow through blocklist → quality → dedup. The
      // oracle replays the batch assignment (Staging's id-range
      // split), the late rule, and the composition stage by stage
      val root = graft.core.Scratch.dir("graft_swcur_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      val late = root.resolve("late").toString
      val bl = Seq("src3.example.com", "src7.example.com",
        "cdn.src1.example.com")
      graft.streaming.StreamingWatermarkedCuration.ingest(s, d,
        batch => batch
          .withColumn("url", concat(lit("https://"),
            when(col("doc_id") % 2 === 1, lit("cdn.")).otherwise(lit("")),
            col("source"), lit(".example.com/doc/"),
            col("doc_id").cast("string")))
          .withColumn("ts", timestamp_millis(
            (lit(1700000000L) + col("doc_id") -
              when(col("doc_id") % 17 === 5, lit(100000L))
                .otherwise(lit(0L))) * 1000L)),
        bl, minQuality = 0.3, delayMillis = 3600L * 1000L, idx, out, late)
      s.read.parquet(out)
        .select(col("doc").as("doc_id"), lit("kept").as("status"))
        .unionByName(s.read.parquet(late)
          .select(col("doc").as("doc_id"), lit("late").as("status")))
        .orderBy(col("doc_id"))
    }),

    "stream_embed_dedup" -> ((s, d) => {
      // SEMANTIC dedup on ingest, riding the persisted
      // EmbedDedupIndex (hyperplane-signature blocking + exact cosine
      // verify, probeAndAppend per microbatch): dropped ⇔ the vector
      // is some pair's later side over the one-shot blocked pass,
      // which the oracle replays from the embed_neardup_lsh golden
      val root = graft.core.Scratch.dir("graft_sededup_q")
      val idx = root.resolve("index").toString
      val out = root.resolve("kept").toString
      graft.streaming.StreamingEmbedDedup.ingest(s, d, idx, out,
        dim = 64, bits = 8, threshold = 0.3, nBatches = 3,
        compactEvery = 2)
      s.read.parquet(out).select(col("doc").as("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "hybrid_topk_indexed" -> ((s, d) => {
      // the fully DISK-SERVED hybrid: the lexical list from the
      // persisted BM25 bucket layout (searchIndex ≡ topK, pinned) and
      // the dense list from the persisted IVF index probed
      // exhaustively (nprobe = nlist ⇒ exact, AnnSpec-pinned;
      // excludeSelf=false to match the scan-based hybrid's contract),
      // RRF-fused — byte-identical to hybrid_topk, so its golden
      // oracles the entire served path
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("hybrid_idx")
      val bmIdx = root.resolve("bm25").toString
      val ivfIdx = root.resolve("ivf").toString
      graft.pipeline.Bm25.writeIndex(s, tbl(s, d, "documents"), "text",
        "doc_id", bmIdx)
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(emb, "embedding", model), ivfIdx)
      val lexical = graft.pipeline.Bm25.searchIndex(s, bmIdx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 20)
        .select(col("qid"), col("doc"), col("rk"))
      val dense = graft.pipeline.Ivf.search(
          graft.pipeline.Ivf.readIndex(s, ivfIdx),
          emb.where(col("vec_id") < 3), "embedding", "vec_id", model,
          k = 20, nprobe = 16, excludeSelf = false)
        .select(col("qid"), col("nid").as("doc"), col("rk"))
      graft.pipeline.Hybrid.rrfFuse(Seq(lexical, dense), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // multi-tenant serving on the PAIRED layout: each side ranks per
    // (query, tenant) — grouped lexical cut, per-tenant adaptive
    // dense probe (nprobe0 = nlist here, so every tenant's dense
    // list is exact) — and RRF fuses within each tenant; rank mass
    // never crosses a tenant boundary
    "hybrid_topk_grouped" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val root = graft.core.Scratch.dir("hybrid_grp")
        .toString
      graft.pipeline.Bm25.writeIndex(s, tbl(s, d, "documents"), "text",
        "doc_id", s"$root/bm25")
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      graft.pipeline.Ivf.writeIndex(
        graft.pipeline.Ivf.assign(
          emb.select(col("vec_id"), col("embedding")), "embedding", model),
        s"$root/ivf")
      graft.pipeline.Hybrid.searchIndexGrouped(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 5, nprobe0 = 16,
          groupCol = "label",
          docGroups = emb.select(col("vec_id").as("doc"), col("label")))
        .orderBy(col("qid"), col("label"), col("rk"))
    }),

    "bm25_topk_tombstoned" -> ((s, d) => {
      // the LUCENE DELETE MODEL on the lexical index: scrambled text
      // decoys are tombstoned (an O(|ids|) sidecar — no rewrite), so
      // the serve must mask them from candidates while N/df/avgdl
      // still carry their mass (deleted-but-unmerged segments) — the
      // mirror golden computes stats over corpus+decoys and ranks
      // survivors only, so BOTH a leaked decoy and a prematurely
      // stats-cleaned index mismatch. The fold is pinned right after:
      // post-fold the serve equals the decoy-free bm25_topk golden
      // (spec asserts that half; this row pins the masked serve)
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val decoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "9").as("text"))
      val idx = graft.core.Scratch.dir("bm25_tomb")
        .resolve("index").toString
      graft.pipeline.Bm25.writeIndex(s, docs.unionByName(decoys), "text",
        "doc_id", idx)
      graft.pipeline.Bm25.tombstoneDocs(s, idx,
        decoys.select(col("doc_id")))
      graft.pipeline.Bm25.searchIndex(s, idx,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"), k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    "hybrid_topk_tombstoned" -> ((s, d) => {
      // right-to-be-forgotten at serving latency on the PAIRED
      // layout: both sides tombstoned through the one hybrid entry
      // point; the fused serve must mask both sides' decoys — the
      // lexical under stale stats (Lucene model), the dense exactly —
      // which the mirror golden replays side by side
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val textDecoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "9").as("text"))
      val vecDecoys = emb.where(col("vec_id") < 3)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("hybrid_tomb")
        .resolve("index").toString
      graft.pipeline.Hybrid.writeIndex(s, docs.unionByName(textDecoys),
        "text", "doc_id", emb.unionByName(vecDecoys), "vec_id",
        "embedding", model, root)
      graft.pipeline.Hybrid.tombstoneDocs(s, root,
        textDecoys.select(col("doc_id").as("id"))
          .unionByName(vecDecoys.select(col("vec_id").as("id"))).distinct(),
        "vec_id")
      graft.pipeline.Hybrid.searchIndex(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          graft.pipeline.Hybrid.loadModel(s, root), "embedding", "vec_id",
          kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    // the count-API on the hybrid PAIR: the lexical side is the
    // pair's doc universe (every ingested doc carries text; the
    // dense side may cover a subset), and tombstoneDocs drives both
    // sides, so the bm25 live-doc count IS the pair's
    "hybrid_count_filtered" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("hybrid_count")
        .resolve("index").toString
      graft.pipeline.Hybrid.writeIndex(s, docs, "text", "doc_id", emb,
        "vec_id", "embedding", model, root)
      graft.pipeline.Hybrid.tombstoneDocs(s, root,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), "vec_id")
      graft.pipeline.Hybrid.countDocs(s, root, Some(col("doc") % 2 === 0))
    }),

    // KEYSET scroll on the hybrid pair — the doc listing walks the
    // lexical side for the same doc-universe reason as the count
    "hybrid_scroll" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("hybrid_scroll")
        .resolve("index").toString
      graft.pipeline.Hybrid.writeIndex(s, docs, "text", "doc_id", emb,
        "vec_id", "embedding", model, root)
      graft.pipeline.Hybrid.tombstoneDocs(s, root,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), "vec_id")
      val filt = Some(col("doc") % 2 === 0)
      val p1 = graft.pipeline.Hybrid.scroll(s, root, None, 20, filt)
        .localCheckpoint(true)
      // empty page 1 → no keyset → skip page 2 (null-max NPE guard)
      val last = p1.agg(max(col("doc"))).head()
      val p2 = if (last.isNullAt(0)) p1.limit(0)
        else graft.pipeline.Hybrid.scroll(s, root, Some(last.getLong(0)),
          20, filt)
      p1.withColumn("page", lit(1L))
        .unionByName(p2.withColumn("page", lit(2L)))
        .select(col("page"), col("doc"))
        .orderBy(col("page"), col("doc"))
    }),

    "hybrid_topk_filtered" -> ((s, d) => {
      // filter-inside-search on the PAIRED layout: the even-id
      // predicate restricts candidates inside BOTH retrievers — the
      // lexical list keeps corpus-level BM25 stats (Lucene filter
      // semantics: a filter never changes IDF) and the dense probe
      // runs exhaustively for determinism (adaptivity is pinned by
      // the ivf_topk_filtered family). Golden: the Python mirror
      // replays both sides' filtered rankings and the fixed-point
      // fusion — a filter dropped on EITHER side mismatches
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.core.Scratch.dir("hybrid_filt")
        .resolve("index").toString
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      graft.pipeline.Hybrid.writeIndex(s,
        tbl(s, d, "documents").select(col("doc_id"), col("text")), "text",
        "doc_id", emb, "vec_id", "embedding", model, root)
      graft.pipeline.Hybrid.searchIndexFiltered(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          graft.pipeline.Hybrid.loadModel(s, root), "embedding", "vec_id",
          kCand = 20, k = 10, nprobe0 = 16, filter = _ % 2 === 0)
        .orderBy(col("qid"), col("rk"))
    }),

    // the PAIRED hybrid lifecycle under deletion: decoys on BOTH
    // sides (scrambled texts shift BM25 df/stats; verbatim copies of
    // the query vectors would own the dense rank-1 slots), deleted
    // through the ONE hybrid entry point that drives both layouts —
    // the fused serve must equal the decoy-free hybrid_topk golden,
    // which fails loudly if either side's delete is skipped (skewed
    // fusion is exactly the failure mode the paired lifecycle exists
    // to prevent)
    "hybrid_topk_deleted" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val textDecoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "9").as("text"))
      val vecDecoys = emb.where(col("vec_id") < 3)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("hybrid_del")
        .resolve("index").toString
      graft.pipeline.Hybrid.writeIndex(s, docs.unionByName(textDecoys),
        "text", "doc_id", emb.unionByName(vecDecoys), "vec_id",
        "embedding", model, root)
      graft.pipeline.Hybrid.deleteDocs(s, root,
        textDecoys.select(col("doc_id").as("id"))
          .unionByName(vecDecoys.select(col("vec_id").as("id"))).distinct(),
        "vec_id")
      graft.pipeline.Hybrid.searchIndex(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    // the paired APPEND through the one hybrid entry point: build on
    // the low half, append the high half (ledger-guarded exactly-once
    // per side — a replayed batchId is a no-op), compact both sides,
    // serve — ≡ the one-shot build, so the hybrid_topk golden pins the
    // whole grown-pair lifecycle
    "hybrid_topk_appended" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val root = graft.core.Scratch.dir("hybrid_app")
        .resolve("index").toString
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.pipeline.Hybrid.writeIndex(s,
        docs.where(col("doc_id") <= mid), "text", "doc_id",
        emb.where(col("vec_id") <= mid), "vec_id", "embedding", model, root)
      def appendHigh(): Unit = graft.pipeline.Hybrid.appendDocs(s, root,
        docs.where(col("doc_id") > mid), "text", "doc_id",
        emb.where(col("vec_id") > mid), "vec_id", "embedding", model,
        runId = "q-run", batchId = 0L)
      appendHigh()
      appendHigh() // replayed delivery: ledger-guarded no-op
      graft.pipeline.Hybrid.compactIndex(s, root)
      graft.pipeline.Hybrid.searchIndex(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    // the sharded hybrid build topology: two PAIRED shard roots built
    // under one frozen quantizer, file-move merged on both sides
    // concurrently — the fused serve over the merged pair must equal
    // the one-shot hybrid, so the hybrid_topk golden pins it
    "hybrid_topk_merged" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("hybrid_merge")
      val rootA = base.resolve("shardA").toString
      val rootB = base.resolve("shardB").toString
      // split on the SHARED id range: at sf0.1 the doc-id domain runs
      // past the vec-id domain, and a docs-max midpoint would leave
      // shard B's dense side empty
      val mid = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      // parallel paired-shard builds (each is itself bothSides-
      // concurrent; disjoint roots, no conf mutation)
      graft.core.Par.all(
        () => graft.pipeline.Hybrid.writeIndex(s,
          docs.where(col("doc_id") <= mid), "text", "doc_id",
          emb.where(col("vec_id") <= mid), "vec_id", "embedding", model,
          rootA),
        () => graft.pipeline.Hybrid.writeIndex(s,
          docs.where(col("doc_id") > mid), "text", "doc_id",
          emb.where(col("vec_id") > mid), "vec_id", "embedding", model,
          rootB))
      graft.pipeline.Hybrid.mergeInto(s, rootA, rootB)
      graft.pipeline.Hybrid.searchIndex(s, rootA,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    // the same two paired shard roots served TOGETHER without the
    // merge (the LSM read path on the fused tier): lexical stats
    // merged globally across the shards' bm25 sides, dense union
    // under the per-segment model witness, one RRF — ≡ the one-shot
    // hybrid golden
    "hybrid_topk_segments" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("hybrid_segs")
      val rootA = base.resolve("shardA").toString
      val rootB = base.resolve("shardB").toString
      // split on the SHARED id range (the hybrid_topk_merged lesson)
      val mid = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      // parallel paired-shard builds (the hybrid_topk_merged pattern)
      graft.core.Par.all(
        () => graft.pipeline.Hybrid.writeIndex(s,
          docs.where(col("doc_id") <= mid), "text", "doc_id",
          emb.where(col("vec_id") <= mid), "vec_id", "embedding", model,
          rootA),
        () => graft.pipeline.Hybrid.writeIndex(s,
          docs.where(col("doc_id") > mid), "text", "doc_id",
          emb.where(col("vec_id") > mid), "vec_id", "embedding", model,
          rootB))
      graft.pipeline.Hybrid.searchSegments(s, Seq(rootA, rootB),
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    // SNAPSHOT/RESTORE on the PAIRED layout: capture the hybrid root
    // (both index sides + the oplog ledger), wreck both sides with a
    // decoy append, restore — the fused serve must equal the
    // never-wrecked golden, and the restored ledger is consistent
    // with the restored data (the decoy run's markers vanish with it)
    "hybrid_topk_restored" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      val base = graft.core.Scratch.dir("hybrid_restore")
      val root = base.resolve("index").toString
      val snap = base.resolve("snap").toString
      graft.pipeline.Hybrid.writeIndex(s, docs, "text", "doc_id",
        emb, "vec_id", "embedding", model, root)
      graft.core.DirSnapshot.create(s, root, snap)
      val textDecoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "9").as("text"))
      val vecDecoys = emb.where(col("vec_id") < 2)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      graft.pipeline.Hybrid.appendDocs(s, root, textDecoys, "text",
        "doc_id", vecDecoys, "vec_id", "embedding", model,
        runId = "wreck", batchId = 0L)
      graft.core.DirSnapshot.restore(s, snap, root)
      graft.pipeline.Hybrid.searchIndex(s, root,
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          model, "embedding", "vec_id", kCand = 20, k = 10, nprobe = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    "hybrid_recall" -> ((s, d) => {
      // the recall harness pointed at the RRF hybrid retriever: how
      // much of the true semantic top-5 (brute-force cosine) does the
      // lexical+dense fusion keep? — completes the tuning instrument
      // across retrieval families (LSH/IVF/PQ/PCA already measured)
      val emb = tbl(s, d, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val qs = emb.where(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding"))
      val hybrid = graft.pipeline.Hybrid.hybridTopK(s, tbl(s, d, "documents"),
          "text", "doc_id", emb, "vec_id", "embedding",
          Seq(0L -> "hash join", 1L -> "fast table scan",
            2L -> "merge sort window"),
          emb.where(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding").as("vec")),
          kCand = 20, k = 10)
        .select(col("qid"), col("doc").as("nid"))
      graft.pipeline.Similarity.recallAtK(
          graft.pipeline.Similarity.bruteForceTopK(
            corpus, qs, "embedding", "vec_id", k = 5),
          hybrid, k = 5)
        .orderBy(col("qid"))
    }),

    // flagship composition of the round-8 families — the curation
    // recipe a web corpus actually runs: URL blocklist (codegen
    // suffix-set probe) -> NB quality gate (Bayes-positive under the
    // prior-calibrated exact log-odds) -> exact fingerprint dedup
    // (min-id per md5 group) -> temperature-flattened mixing; every
    // stage map-side or bounded-key, mirrored stage-by-stage by the
    // Python golden
    "corpus_curation_v2" -> ((s, d) => {
      val bl = Seq("src3.example.com", "src7.example.com",
        "cdn.src1.example.com")
      val docs = tbl(s, d, "documents")
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 2 === 1, lit("cdn.")).otherwise(lit("")),
          col("source"), lit(".example.com/doc/"), col("doc_id")))
      val kept = graft.pipeline.UrlFilter.dropBlockedUrls(docs, "url", bl)
        .localCheckpoint(true) // classifier fit + score reuse it 3x
      val m = graft.pipeline.Classify.fit(
        kept, col("lang").isin("en", "de"), "text", buckets = 512)
      val classified = kept.where(
        graft.pipeline.Classify.nbLogOdds(col("text"), m)
          .getField("_2") >= 0L)
      val withFp = classified.withColumn("fp",
        graft.pipeline.TextAnalysis.fingerprint(col("text")))
      val minIds = withFp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
      val deduped = withFp.join(minIds, Seq("fp", "doc_id"), "left_semi")
      // snapshot the (small) result so the 3x-reused pin can release
      // here instead of leaking into composed callers (the
      // returned-frame convention: one tiny pin rides to the
      // session's next sweep, the corpus-sized one dies now)
      val mixed = graft.pipeline.Mix.byTemperature(
          deduped.select("doc_id", "lang"), "doc_id", "lang", tau = 2.0)
        .select(col("doc_id"), col("lang"), col("copy"))
        .localCheckpoint(true)
      graft.core.Pinned.release(kept)
      mixed.orderBy(col("doc_id"), col("copy"))
    }),

    // BPE tokenizer training (Sennrich et al. 2016): one distributed
    // word-count agg feeds the driver merge loop over the bounded
    // vocabulary — the learned merge table is the exported artifact
    "bpe_train" -> ((s, d) =>
      graft.pipeline.Bpe.trainTable(s, tbl(s, d, "documents"), "text",
          numMerges = 60)
        .orderBy(col("rank"))),

    // the OPEN-VOCABULARY training path — the word table is first
    // capped to the maxVocab most frequent words via the two-pass
    // heavy-hitters cut, so the driver collect is maxVocab rows
    // regardless of corpus vocabulary; this is the variant whose
    // shape survives 100 TB, so it is the one the gate must pin
    "bpe_train_capped" -> ((s, d) =>
      graft.pipeline.Bpe.trainCappedTable(s, tbl(s, d, "documents"), "text",
          numMerges = 40, maxVocab = 20)
        .orderBy(col("rank"))),

    // encoding under the trained model: broadcast-model codegen map
    // pass, per-doc BPE token count
    "bpe_token_count" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val m = graft.pipeline.Bpe.train(docs, "text", numMerges = 60)
      docs.select(col("doc_id"),
          graft.pipeline.Bpe.bpeTokenCount(col("text"), m).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled multilingual mixing (mT5/XLM-R alpha
    // sampling): one pruned stratum-count agg -> driver weight table
    // (sorted fold, sqrt at tau=2 for cross-engine IEEE exactness) ->
    // the zero-shuffle byWeight map pass
    "corpus_mix_temperature" -> ((s, d) =>
      graft.pipeline.Mix.byTemperature(
          tbl(s, d, "documents").select("doc_id", "lang"),
          "doc_id", "lang", tau = 2.0, seed = 42L)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))),

    // exact top-k frequent terms via the two-pass heavy-hitters
    // design: Misra-Gries bounded-state candidate sketch (shuffle =
    // capacity counters per partition, not the vocabulary), then an
    // exact filtered re-count of the <= capacity candidates — output
    // is exact, so plain SQL oracles it
    "corpus_top_terms" -> ((s, d) =>
      graft.pipeline.HeavyHitters.topTerms(s,
        tbl(s, d, "documents"), "text", k = 30, capacity = 512)),

    // exact substring (duplicate-span) detection, Lee et al. 2022:
    // maximal token spans whose w-token windows all repeat corpus-wide
    // — over the real documents table (near/exact dup docs exist at
    // every sf), w=8 so the synthetic texts carry detectable repeats
    "text_dup_spans" -> ((s, d) =>
      graft.pipeline.Dedup.duplicateSpans(
          tbl(s, d, "documents"), "text", "doc_id", w = 8)
        .orderBy(col("doc"), col("start_tok"))),

    // the per-document duplication fraction from the same windows —
    // the curation-side signal that gates filtering
    "text_dup_fraction" -> ((s, d) =>
      graft.pipeline.Dedup.duplicateWindowStats(
          tbl(s, d, "documents"), "text", "doc_id", w = 8)
        .select(col("doc"), col("n_windows"), col("dup_windows"),
          round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy(col("doc"))),

    // the span surgery over the same windows: duplicated spans removed
    // from every document (all occurrences), order preserved
    "text_span_dedup" -> ((s, d) =>
      graft.pipeline.Dedup.dropDuplicateSpans(
          tbl(s, d, "documents"), "text", "doc_id", w = 8)
        .orderBy(col("doc"))),

    // cross-corpus decontamination by span surgery: training spans
    // whose 8-token windows appear anywhere in the eval third are
    // excised, the rest of each document survives
    "decontam_span_scrub" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      graft.pipeline.Dedup.decontamSpanScrub(
          docs.where(col("doc_id") % 3 =!= 0),
          docs.where(col("doc_id") % 3 === 0), "text", "doc_id", w = 8)
        .orderBy(col("doc"))
    }),

    "text_line_dedup" -> ((s, d) => {
      import s.implicits._
      // C4-style global line dedup over an inline multiline corpus
      // (parquet docs are single-line — same fixture pattern as
      // text_dup_lines): cross-document boilerplate vanishes, unique
      // prose survives in order, all-boilerplate docs collapse to ""
      Seq(
        (1L, "keep me\nshared banner\nunique one"),
        (2L, "shared banner\nanother keeper"),
        (3L, "totally unique\ncontent here"),
        (4L, "shared banner\nshared banner"),
        (5L, "zz\nzz\nmiddle text")
      ).toDF("doc_id", "text")
        .transform(df => graft.pipeline.TextAnalysis
          .dropDuplicatedLines(df, "text", "doc_id"))
        .orderBy(col("doc"))
    }),

    "text_vocabulary" -> ((s, d) =>
      // corpus vocabulary induction: term -> (tf, df) — the input to
      // tokenizer training and df-based filtering
      graft.pipeline.TextAnalysis.vocabulary(
        tbl(s, d, "documents"), "text", "doc_id")
        .orderBy(col("term"))),

    "text_tfidf" -> ((s, d) =>
      // top-5 characteristic terms per doc by tf·N/df (log-free idf
      // surrogate, rank-equivalent and bit-reproducible)
      graft.pipeline.TextAnalysis.tfidfTopTerms(
        tbl(s, d, "documents"), "text", "doc_id", k = 5)
        .orderBy(col("doc"), col("rk"))),

    "eval_contamination" -> ((s, d) => {
      // the eval-card metric: per eval doc, the share of its distinct
      // trigram shingles present anywhere in the training split —
      // semi-join shape, no pair rows, linear in postings
      val docs = tbl(s, d, "documents")
      graft.pipeline.Dedup.contaminationFraction(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", "doc_id", w = 3)
        .orderBy(col("doc"))
    }),

    "gopher_filter" -> ((s, d) =>
      // Gopher-rule quality gate: one single-pass struct-accumulator
      // fold over the token array (split evaluated once, no UDF, no
      // shuffle); DuckDB recomputes every rule independently
      graft.pipeline.TextAnalysis.gopherFlags(
        tbl(s, d, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))),

    "decontam_bloom" -> ((s, d) => {
      // same contamination result as decontam_pairs, but the training
      // side's postings are Bloom-prefiltered map-side before the
      // cross-corpus join — the shuffled-bytes reducer at 100 TB.
      // Exact equality with the plain path is the oracle (no false
      // negatives; set sizes from full sets).
      val docs = tbl(s, d, "documents")
      graft.pipeline.Dedup.crossJaccardPairsBloom(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", "doc_id", w = 3, threshold = 0.2)
        .orderBy(col("left_doc"), col("right_doc"))
    }),

    "corpus_shuffle" -> ((s, d) =>
      // deterministic global training order: distributed
      // range-partitioned sort on splitmix64(doc_id + seed) — the
      // reproducible pre-packing shuffle of a training pipeline
      graft.pipeline.Mix.shuffleOrder(
        tbl(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", seed = 42L)
        .select(col("doc_id"), col("skey"))),

    "corpus_mix" -> ((s, d) =>
      // deterministic weighted data mixture over language strata:
      // fr dropped, en 2x-downsampled, zh repeated 2-3x (expected
      // 2.25), de pass-through, default (es) 4x-downsampled — one
      // map-side pass, golden-checked against the Python mirror of
      // the splitmix64 decision
      graft.pipeline.Mix.byWeight(
        tbl(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        weights = Map("en" -> 0.5, "zh" -> 2.25, "fr" -> 0.0, "de" -> 1.0),
        defaultWeight = 0.25, seed = 42L)
        .orderBy(col("doc_id"), col("copy"))),

    "semdedup_hier" -> ((s, d) => {
      // SemDeDup over the two-level quantizer — the train-cost path
      // for corpus-proportional nlist (9.2x at the 16x curve point,
      // PLANS.md); same drop rule, golden-checked like the flat one
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.trainHierarchical(emb, "embedding",
        "vec_id", nlist = 16, iters = 3)
      val assigned = graft.pipeline.Ivf.assign(emb, "embedding", model)
        .localCheckpoint(true)
      // snapshot the keep-decisions so the assign pin releases here
      // instead of leaking into composed callers (returned-frame
      // convention, as in corpus_curation_v2)
      val res = graft.pipeline.Dedup.semDedupPostings(assigned,
          "embedding", "vec_id", threshold = 0.35)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"),
          col("keep"))
        .localCheckpoint(true)
      graft.core.Pinned.release(assigned)
      res.orderBy(col("vec_id"))
    }),

    // cluster-balanced sampling: k-means-assign embeddings, keep at
    // most `quota` rows per cluster by the deterministic splitmix
    // uniform — flattens the topic distribution (bounded-heap
    // aggregate: only survivors cross the shuffle, never a full
    // per-cluster sort). Golden-checked against the Python mirror
    // (same deterministic k-means + uniform).
    "corpus_cluster_sample" -> ((s, d) => {
      val emb = tbl(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val model = graft.pipeline.Ivf.train(emb, "embedding", "vec_id",
        nlist = 16, iters = 3)
      graft.pipeline.Curation.clusterBalancedSample(
          emb, "embedding", "vec_id", model, quota = 20, seed = 42L)
        .select(col("cluster").cast(LongType).as("cluster"),
          col("vec_id"), col("u"))
        .orderBy(col("cluster"), col("vec_id"))
    }),

    "semdedup" -> ((s, d) =>
      // SemDeDup: k-means-clustered embeddings, drop rows with a
      // lower-id cluster-mate above the cosine threshold — the
      // semantic-dedup step of a training pipeline, golden-checked
      // against the Python mirror (same deterministic k-means, same
      // sequential-double cosine)
      graft.pipeline.Dedup.semDedup(
        tbl(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", threshold = 0.35)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"),
          col("keep"))
        .orderBy(col("vec_id"))),

    // SemDeDup end-to-end on the FULL-CORPUS deterministic trainer
    // (Dedup.semDedupDistributed — the scale path: at nlist ∝ corpus
    // a bounded sample under-represents exactly the rare clusters
    // semantic dedup exists to separate); every cluster id and keep
    // flag golden-replayed through the fixed-point fold
    "semdedup_dist" -> ((s, d) =>
      graft.pipeline.Dedup.semDedupDistributed(
        tbl(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", threshold = 0.35)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"),
          col("keep"))
        .orderBy(col("vec_id"))))

  /** stream_hourly is oracle-checkable: complete-mode streaming over a
    * static source must equal the batch aggregation.
    */
  /** Committed golden parquet (generated by tools/gen_*_golden.py from
    * independent reimplementations or reference-executed functions);
    * the DuckDB oracle reads them directly.
    */
  private val goldenDir = "/root/repo/src/test/resources/golden"

  /** Golden oracles for algorithms DuckDB SQL cannot express —
    * independent Python reimplementations (or reference-executed
    * functions) in tools/gen_pipeline_golden.py, bit-exact with the
    * engine (sequential-double folds, exact integer hashing, f32
    * round-trips). The input-dependent ones are generated from the
    * sf0.01 tables, the scale the driver's correctness gate runs at.
    */
  private val pipeGold = s"$goldenDir/pipeline"

  val opsSql: Map[String, String] = Map(
    "multimodal_features" ->
      s"""SELECT id, kind, f0, f1, f2, f3, f4, f5, f6, f7
         |FROM '$goldenDir/multimodal_features.parquet'
         |ORDER BY id""".stripMargin,

    "multimodal_neardup" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_neardup.parquet' ORDER BY d1, d2",

    "multimodal_topk" ->
      s"""WITH f AS (SELECT id, [f0, f1, f2, f3, f4, f5, f6, f7] AS v
         |    FROM '$goldenDir/multimodal_features.parquet'),
         |p AS (SELECT q.id AS qid, e.id AS nid,
         |    ${cosSql("e.v", "q.v")} AS sim
         |  FROM f q, f e WHERE q.id < 6 AND e.id <> q.id)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "multimodal_audio_neardup" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_audio_neardup.parquet' ORDER BY d1, d2",

    "audio_index_incremental" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_audio_neardup.parquet' ORDER BY d1, d2",

    // the audio corpus is synthetic: ids 3i+1 and 3i+1001 for i<33;
    // kept = not a later near-dup side over the one-shot pass
    "stream_audio_dedup" ->
      s"""WITH ids AS (SELECT 3 * i + 1 AS id FROM range(33) t(i)
         |  UNION ALL SELECT 3 * i + 1001 FROM range(33) t(i))
         |SELECT id FROM ids
         |WHERE id NOT IN (SELECT d2 FROM '$goldenDir/multimodal_audio_neardup.parquet')
         |ORDER BY id""".stripMargin,

    "multimodal_video_neardup" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_video_neardup.parquet' ORDER BY d1, d2",

    "video_index_incremental" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_video_neardup.parquet' ORDER BY d1, d2",

    // the video corpus is synthetic: ids 3i+2 and 3i+1002 for i<33;
    // kept = not a later near-dup side over the one-shot pass
    "stream_video_dedup" ->
      s"""WITH ids AS (SELECT 3 * i + 2 AS id FROM range(33) t(i)
         |  UNION ALL SELECT 3 * i + 1002 FROM range(33) t(i))
         |SELECT id FROM ids
         |WHERE id NOT IN (SELECT d2 FROM '$goldenDir/multimodal_video_neardup.parquet')
         |ORDER BY id""".stripMargin,

    "phash_index_incremental" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_neardup.parquet' ORDER BY d1, d2",

    "phash_index_deleted" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_neardup.parquet' ORDER BY d1, d2",

    // corrupted index restored mid-lifecycle ≡ the one-shot pass
    "phash_index_restored" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_neardup.parquet' ORDER BY d1, d2",

    // shard-parallel build + segment merge ≡ the one-shot banded pass
    "phash_index_merged" ->
      s"SELECT d1, d2, dist FROM '$goldenDir/multimodal_neardup.parquet' ORDER BY d1, d2",

    // the image corpus is synthetic: ids 3i and 3i+1000 for i<33;
    // kept = not a later near-dup side over the one-shot pass
    "stream_image_dedup" ->
      s"""WITH ids AS (SELECT 3 * i AS id FROM range(33) t(i)
         |  UNION ALL SELECT 3 * i + 1000 FROM range(33) t(i))
         |SELECT id FROM ids
         |WHERE id NOT IN (SELECT d2 FROM '$goldenDir/multimodal_neardup.parquet')
         |ORDER BY id""".stripMargin,

    "multimodal_resize" ->
      s"""SELECT id, f0, f1, f2, f3, f4, f5, f6, f7
         |FROM '$goldenDir/multimodal_resize.parquet'
         |ORDER BY id""".stripMargin,

    "multimodal_frames" ->
      s"""SELECT id, "frameIdx", "lumaMean"
         |FROM '$goldenDir/multimodal_frames.parquet'
         |ORDER BY id, "frameIdx"""".stripMargin,

    "lang_id" ->
      s"SELECT doc_id, lang, lang_pred, lang_score FROM '$pipeGold/lang_id.parquet' ORDER BY doc_id",

    // Direct SQL oracle: DuckDB's RE2 runs the same portable patterns
    // on the same composed text. (Java regex and RE2 agree on this
    // subset: char classes, bounded repeats, \b, alternation-free.)
    "pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' via 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(txt, '\+\d{1,2}-\d{3}-\d{3,4}(-\d{4})?')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,2}-\d{3}-\d{3,4}(-\d{4})?', '<PHONE>', 'g') AS scrubbed
        |FROM t ORDER BY doc_id""".stripMargin,

    "corpus_mix" ->
      s"SELECT doc_id, lang, copy FROM '$pipeGold/corpus_mix.parquet' ORDER BY doc_id, copy",

    "corpus_shuffle" ->
      s"SELECT doc_id, skey FROM '$pipeGold/corpus_shuffle.parquet' ORDER BY skey, doc_id",

    "text_lm_quality" ->
      s"SELECT doc, n_bigrams, xent_fp, xent FROM '$pipeGold/text_lm_quality.parquet' ORDER BY doc",

    "ccnet_buckets" ->
      s"""WITH s AS (
         |  SELECT doc,
         |    CASE WHEN n_bigrams > 0
         |      THEN CAST((CAST(xent_fp AS HUGEINT) * 1024) // n_bigrams AS BIGINT)
         |      ELSE 0 END AS avg_fp
         |  FROM '$pipeGold/text_lm_quality.parquet'),
         |c AS (SELECT count(*) AS n FROM s),
         |r AS (SELECT avg_fp, doc,
         |        row_number() OVER (ORDER BY avg_fp, doc) - 1 AS rk FROM s),
         |t AS (SELECT
         |    max(CASE WHEN rk = (33 * (n - 1)) // 100 THEN avg_fp END) AS t1,
         |    max(CASE WHEN rk = (66 * (n - 1)) // 100 THEN avg_fp END) AS t2
         |  FROM r, c)
         |SELECT s.doc, s.avg_fp,
         |  CASE WHEN s.avg_fp <= t.t1 THEN 'head'
         |       WHEN s.avg_fp <= t.t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM s, t ORDER BY s.doc""".stripMargin,

    "dsir_select" ->
      s"SELECT doc, n_feats, logw_fp, logw FROM '$pipeGold/dsir_select.parquet' ORDER BY logw_fp DESC, doc",

    "nb_classifier_select" ->
      s"SELECT doc, n_feats, logodds_fp, pred FROM '$pipeGold/nb_classifier_select.parquet' ORDER BY logodds_fp DESC, doc",

    // Direct SQL oracle: the two-pass output is EXACT top-k, so plain
    // explode + group + order replays it (same tie-break).
    "corpus_top_terms" ->
      """SELECT t.term, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents) t
        |GROUP BY t.term ORDER BY cnt DESC, t.term LIMIT 30""".stripMargin,

    // streaming MG over a static source run to completion: weights
    // are exact counts (vocab << capacity), so the same SQL applies
    "stream_top_terms" ->
      """SELECT t.term, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents) t
        |GROUP BY t.term ORDER BY cnt DESC, t.term LIMIT 30""".stripMargin,

    // Direct SQL oracle: the same derived host, suffix semantics as
    // EXISTS(exact-or-dot-suffix) over the same 3-entry blocklist.
    "url_blocklist" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 1 THEN 'cdn.' ELSE '' END) ||
        |      source || '.example.com' AS host
        |  FROM documents),
        |bl(h) AS (VALUES ('src3.example.com'), ('src7.example.com'),
        |                 ('cdn.src1.example.com'))
        |SELECT doc_id, host,
        |  EXISTS(SELECT 1 FROM bl
        |         WHERE t.host = bl.h OR t.host LIKE '%.' || bl.h) AS blocked
        |FROM t ORDER BY doc_id""".stripMargin,

    "corpus_split_assign" ->
      s"SELECT doc_id, lang, split FROM '$pipeGold/corpus_split_assign.parquet' ORDER BY doc_id",

    "corpus_split_stratified" ->
      s"SELECT doc, stratum, u, split FROM '$pipeGold/corpus_split_stratified.parquet' ORDER BY doc",
    "corpus_weighted_sample" ->
      s"SELECT doc, w, key_fp, rk FROM '$pipeGold/corpus_weighted_sample.parquet' ORDER BY rk",
    "stream_weighted_sample" ->
      s"SELECT doc, key_fp, rk FROM '$pipeGold/corpus_weighted_sample.parquet' ORDER BY rk",
    "corpus_length_percentiles" ->
      """WITH ranked AS (
        |  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS r0,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |pcts(pct) AS (VALUES (0), (25), (50), (75), (100))
        |SELECT grp, CAST(pct AS INT) AS pct, v
        |FROM ranked JOIN pcts ON r0 = (pct * (n - 1)) // 100
        |ORDER BY grp, pct""".stripMargin,
    "corpus_weighted_sample_strat" ->
      s"SELECT stratum, doc, key_fp, rk FROM '$pipeGold/corpus_weighted_sample_strat.parquet' ORDER BY stratum, rk",

    "corpus_split_content" ->
      """WITH un AS (
        |  SELECT doc_id, replace(text, 'a', 'á') AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, replace(text, 'a', 'á') AS text
        |  FROM documents),
        |k AS (SELECT doc_id,
        |  substring(md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))), 1, 2) AS b
        |  FROM un)
        |SELECT doc_id,
        |  CASE WHEN b < 'cc' THEN 'train' WHEN b < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM k ORDER BY doc_id""".stripMargin,

    "corpus_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 10 = 5),
        |o AS (SELECT doc_id AS id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fo FROM old),
        |n AS (SELECT doc_id AS id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fn FROM documents)
        |SELECT COALESCE(o.id, n.id) AS id,
        |  CASE WHEN o.id IS NULL THEN 'added' WHEN n.id IS NULL THEN 'removed'
        |       WHEN fo = fn THEN 'unchanged' ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.id = n.id ORDER BY id""".stripMargin,

    "profile_documents" ->
      """SELECT col_name, metric, value FROM (
        |  SELECT 'doc_id' AS col_name, 'n_nulls' AS metric, CAST(count(*) - count(doc_id) AS BIGINT) AS value FROM documents
        |  UNION ALL SELECT 'doc_id', 'n_distinct', CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'doc_id', 'min', CAST(min(doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'doc_id', 'max', CAST(max(doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'n_nulls', CAST(count(*) - count(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'n_distinct', CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'min', CAST(min(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'max', CAST(max(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'n_nulls', CAST(count(*) - count(text) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'n_distinct', CAST(count(DISTINCT text) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_min', CAST(min(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_max', CAST(max(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_sum', CAST(sum(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'n_nulls', CAST(count(*) - count(lang) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'n_distinct', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_min', CAST(min(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_max', CAST(max(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_sum', CAST(sum(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'n_nulls', CAST(count(*) - count(source) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'n_distinct', CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_min', CAST(min(length(source)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_max', CAST(max(length(source)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_sum', CAST(sum(length(source)) AS BIGINT) FROM documents
        |) ORDER BY col_name, metric""".stripMargin,

    "check_constraints" ->
      """SELECT constraint_name, violations FROM (
        |  SELECT 'not_null(o_custkey)' AS constraint_name, CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations FROM orders
        |  UNION ALL SELECT 'accepted(o_orderstatus)', CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P')) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'in_range(o_totalprice)', CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice >= 0 AND o_totalprice <= 1000000)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'unique(o_orderkey)', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'subset(o_custkey,customer.c_custkey)', CAST((SELECT count(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_custkey IS NOT NULL) AS BIGINT)
        |  UNION ALL SELECT 'accepted(lang)', CAST(count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN ('en','de')) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'in_range(n_chars)', CAST(count(*) FILTER (WHERE n_chars IS NOT NULL AND NOT (n_chars >= 100 AND n_chars <= 1000)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'matches(source)', CAST(count(*) FILTER (WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')) AS BIGINT) FROM documents
        |) ORDER BY constraint_name""".stripMargin,

    "bm25_topk" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    "hybrid_topk" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    "hybrid_topk_deleted" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    "hybrid_topk_appended" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // two paired shard roots, both sides file-move merged ≡ one-shot
    "hybrid_topk_merged" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // the same two paired shards served together WITHOUT the merge
    // (global lexical stats + dense union) ≡ one-shot
    "hybrid_topk_segments" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // snapshot → wreck both sides → restore ≡ the never-wrecked pair
    "hybrid_topk_restored" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // the disk-served hybrid (persisted BM25 + exhaustively-probed
    // persisted IVF) must be byte-identical to the scan-based fusion
    "hybrid_topk_indexed" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // multi-tenant fused serve: the mirror replays both sides ranked
    // within each (query, tenant) and fuses per tenant
    "hybrid_topk_grouped" ->
      s"SELECT qid, label, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk_grouped.parquet' ORDER BY qid, label, rk",

    // filter-inside-search on the paired layout — the mirror replays
    // both sides' filtered rankings (lexical under corpus-level
    // stats, dense exact over the filtered corpus) and the fusion
    "hybrid_topk_filtered" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk_filtered.parquet' ORDER BY qid, rk",

    // the Lucene delete model: stats carry the tombstoned decoys,
    // candidates don't — the mirror replays exactly that
    "bm25_topk_tombstoned" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk_tombstoned.parquet' ORDER BY qid, rk",

    "hybrid_topk_tombstoned" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk_tombstoned.parquet' ORDER BY qid, rk",

    "bm25_topk_indexed" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // two shard builds file-move merged ≡ one-shot (same golden)
    "bm25_topk_merged" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // three shards served together with GLOBALLY merged collection
    // stats ≡ one-shot (same golden, no physical merge)
    "bm25_topk_segments" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // keyset scroll on the lexical tier: every doc yields at least
    // one posting (the tokenizer emits [""] for empty text), so the
    // live doc listing is exactly the documents table minus the
    // tombstones, under the filter
    "bm25_scroll" ->
      """WITH live AS (
        |  SELECT doc_id AS doc FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3),
        |p1 AS (SELECT doc FROM live ORDER BY doc LIMIT 20),
        |p2 AS (SELECT doc FROM live ORDER BY doc LIMIT 20 OFFSET 20)
        |SELECT CAST(1 AS BIGINT) AS page, doc FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS page, doc FROM p2
        |ORDER BY page, doc""".stripMargin,

    "bm25_count_filtered" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents
        |WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3""".stripMargin,

    // the hybrid pair's doc universe is its lexical side: same live
    // set as the bm25 count/scroll, reached through the paired
    // lifecycle entry points (tombstoneDocs drives BOTH sides)
    "hybrid_count_filtered" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents
        |WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3""".stripMargin,
    "hybrid_scroll" ->
      """WITH live AS (
        |  SELECT doc_id AS doc FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3),
        |p1 AS (SELECT doc FROM live ORDER BY doc LIMIT 20),
        |p2 AS (SELECT doc FROM live ORDER BY doc LIMIT 20 OFFSET 20)
        |SELECT CAST(1 AS BIGINT) AS page, doc FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS page, doc FROM p2
        |ORDER BY page, doc""".stripMargin,

    // segment-per-microbatch lexical ingest: the across-segments
    // serve (global stats merge) AND the post-mergeAll serve must
    // both equal the one-shot build
    "stream_bm25_segments" ->
      s"""SELECT 'merged' AS stage, qid, doc, score_fp, rk
         |FROM '$pipeGold/bm25_topk.parquet'
         |UNION ALL
         |SELECT 'segments' AS stage, qid, doc, score_fp, rk
         |FROM '$pipeGold/bm25_topk.parquet'
         |ORDER BY stage, qid, rk""".stripMargin,

    // in-stream tiered maintenance on the lexical tier: the serve over
    // the mid-policy {cascaded survivor, protected tail} shape ≡
    // one-shot (global N/T/df stats merge is grouping-invariant)
    "stream_bm25_segments_tiered" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // deliberately skewed batch sizes (~90%/4%/4%/2%): the segments
    // serve must be partition-shape-invariant
    "bm25_segments_skewed" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // segment-per-microbatch paired hybrid ingest: both stages equal
    // the scan-based fusion (exhaustive probe ⇒ byte-identical)
    "stream_hybrid_segments" ->
      s"""SELECT 'merged' AS stage, qid, doc, rrf_fp, rk
         |FROM '$pipeGold/hybrid_topk.parquet'
         |UNION ALL
         |SELECT 'segments' AS stage, qid, doc, rrf_fp, rk
         |FROM '$pipeGold/hybrid_topk.parquet'
         |ORDER BY stage, qid, rk""".stripMargin,

    // the sparse tier: every lifecycle row must reproduce the direct
    // DuckDB brute force (exact integer scores — no golden, no
    // tolerance), the deleted/merged/incremental rows through their
    // respective lifecycles
    "sparse_topk" -> sparseTopkSql(),
    "sparse_topk_indexed" -> sparseTopkSql(),
    "sparse_topk_incremental" -> sparseTopkSql(),
    "sparse_topk_deleted" -> sparseTopkSql(),
    "sparse_topk_merged" -> sparseTopkSql(),
    // three shards union-served with per-segment tombstone masks ≡
    // the decoy-free brute force (no physical merge)
    "sparse_topk_segments" -> sparseTopkSql(),
    // the sparse count-API: a doc is live when any dim survives the
    // sparsify threshold (the expl/sp CTE the topk rows share) and
    // its id passes filter + mask
    "sparse_count_filtered" ->
      """WITH expl AS (
        |  SELECT vec_id AS doc, unnest(embedding) AS val
        |  FROM embeddings),
        |live AS (
        |  SELECT DISTINCT doc FROM expl
        |  WHERE CAST(val AS DOUBLE) >= 0.05
        |    AND doc % 2 = 0 AND doc % 7 <> 3)
        |SELECT CAST(count(*) AS BIGINT) AS cnt FROM live""".stripMargin,

    // two keyset pages over the filtered, masked sparse live-doc set
    // ≡ ordered LIMIT/OFFSET over the same set
    "sparse_scroll" ->
      """WITH expl AS (
        |  SELECT vec_id AS doc, unnest(embedding) AS val
        |  FROM embeddings),
        |live AS (
        |  SELECT DISTINCT doc FROM expl
        |  WHERE CAST(val AS DOUBLE) >= 0.05
        |    AND doc % 2 = 0 AND doc % 7 <> 3),
        |p1 AS (SELECT doc FROM live ORDER BY doc LIMIT 20),
        |p2 AS (SELECT doc FROM live ORDER BY doc LIMIT 20 OFFSET 20)
        |SELECT CAST(1 AS BIGINT) AS page, doc FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS page, doc FROM p2
        |ORDER BY page, doc""".stripMargin,

    // segment-per-microbatch sparse ingest: both stages (across
    // segments, post-mergeAll) replay the same brute force
    "stream_sparse_segments" ->
      s"""WITH base AS (${sparseTopkSql()})
         |SELECT 'segments' AS stage, qid, nid, score, rk FROM base
         |UNION ALL
         |SELECT 'merged' AS stage, qid, nid, score, rk FROM base
         |ORDER BY stage, qid, rk""".stripMargin,
    // in-stream tiered maintenance on the sparse tier: the mid-policy
    // {cascaded survivor, protected tail} serve ≡ the brute force
    "stream_sparse_segments_tiered" -> sparseTopkSql(),
    // ~90%/4%/4%/2% skewed segments: the dim-bucketed postings union
    // is partition-shape-invariant
    "sparse_segments_skewed" -> sparseTopkSql(),
    "sparse_topk_filtered" -> sparseTopkSql("p.doc % 2 = 0"),
    // filter + per-segment tombstones + segments composed: the decoys
    // are even-id (filter-passing), so only the mask removes them —
    // the mirror is simply the filtered decoy-free brute force
    "sparse_topk_segments_filtered" -> sparseTopkSql("p.doc % 2 = 0"),
    "stream_sparse_search" -> sparseTopkSql(),
    // stale ids replaced by their true embeddings ≡ never corrupted
    "sparse_topk_upserted" -> sparseTopkSql(),
    // corrupted layout restored from its snapshot ≡ never corrupted
    "sparse_topk_restored" -> sparseTopkSql(),

    // multi-tenant sparse serve: the same brute force ranked within
    // each (query, tenant) — scores are tenant-independent, only the
    // window key changes
    "sparse_topk_grouped" ->
      s"""WITH expl AS (
         |  SELECT vec_id AS doc, unnest(embedding) AS val,
         |    unnest(range(1, len(embedding) + 1)) AS dim
         |  FROM embeddings),
         |sp AS (
         |  SELECT doc, dim,
         |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
         |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05),
         |lab AS (SELECT vec_id AS doc, label FROM embeddings)
         |SELECT qid, label, nid, score, rk FROM (
         |  SELECT q.doc AS qid, l.label AS label, p.doc AS nid,
         |    CAST(sum(q.w * p.w) AS BIGINT) AS score,
         |    row_number() OVER (PARTITION BY q.doc, l.label
         |      ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
         |  FROM sp q JOIN sp p USING (dim) JOIN lab l ON l.doc = p.doc
         |  WHERE q.doc < 4 AND p.doc <> q.doc
         |  GROUP BY q.doc, l.label, p.doc)
         |WHERE rk <= 5 ORDER BY qid, label, rk""".stripMargin,

    // exact range search ≡ brute force over the corpus, by its sound
    // radius bound — the oracle IS the brute force
    "ivf_range_search" -> rangeSearchSql(),
    "ivf_range_incremental" -> rangeSearchSql(),
    // tombstoned decoys masked out ≡ the decoy-free brute force
    "ivf_range_tombstoned" -> rangeSearchSql(),
    // filter below the radius cut ≡ brute force over the filtered
    // corpus (no k to under-fill — the sound-prune bound is over the
    // full membership, so filtering only removes candidates)
    "ivf_range_filtered" -> rangeSearchSql("e.vec_id % 2 = 0"),

    // two keyset pages over the filtered, masked layout ≡ ordered
    // LIMIT/OFFSET over the same live set
    "ivf_scroll" ->
      """WITH live AS (
        |  SELECT vec_id FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id % 7 <> 3),
        |p1 AS (SELECT vec_id FROM live ORDER BY vec_id LIMIT 20),
        |p2 AS (SELECT vec_id FROM live ORDER BY vec_id LIMIT 20 OFFSET 20)
        |SELECT CAST(1 AS BIGINT) AS page, vec_id FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS page, vec_id FROM p2
        |ORDER BY page, vec_id""".stripMargin,

    // exact served count under filter + live tombstones
    "ivf_count_filtered" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt FROM embeddings
        |WHERE vec_id % 2 = 0 AND vec_id % 7 <> 3""".stripMargin,

    // late interaction: brute-force max-sim, fixed-point exact; the
    // indexed/lifecycle rows run the exhaustive probe so the same
    // SQL pins them all
    "multivec_topk" -> multivecSql(),
    // the late-interaction count-API: one count per DOC (vec_id // 4
    // groups of token vectors) under filter + mask
    "multivec_count_filtered" ->
      """WITH live AS (
        |  SELECT DISTINCT vec_id // 4 AS doc FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS cnt FROM live
        |WHERE doc % 2 = 0 AND doc % 7 <> 3""".stripMargin,
    // two keyset pages over the filtered, masked late-interaction
    // doc set ≡ ordered LIMIT/OFFSET over the same set
    "multivec_scroll" ->
      """WITH live AS (
        |  SELECT DISTINCT vec_id // 4 AS doc FROM embeddings
        |  WHERE (vec_id // 4) % 2 = 0 AND (vec_id // 4) % 7 <> 3),
        |p1 AS (SELECT doc FROM live ORDER BY doc LIMIT 20),
        |p2 AS (SELECT doc FROM live ORDER BY doc LIMIT 20 OFFSET 20)
        |SELECT CAST(1 AS BIGINT) AS page, doc FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS page, doc FROM p2
        |ORDER BY page, doc""".stripMargin,
    "multivec_topk_indexed" -> multivecSql(),
    "multivec_topk_incremental" -> multivecSql(),
    "multivec_topk_deleted" -> multivecSql(),
    "multivec_topk_merged" -> multivecSql(),
    "multivec_topk_filtered" -> multivecSql("doc % 2 = 0"),
    // one tenant key (doc % 3) added to the ranking window; the
    // exhaustive probe makes each tenant's rows per-tenant brute force
    "multivec_topk_grouped" ->
      s"""WITH pairs AS (
         |  SELECT q.vec_id // 2 AS qid, q.vec_id AS qv,
         |    e.vec_id // 4 AS doc,
         |    CAST(round(${cosSql("q.embedding", "e.embedding")}
         |      * 1000000000) AS BIGINT) AS c
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 4),
         |mx AS (SELECT qid, qv, doc, max(c) AS m FROM pairs GROUP BY 1, 2, 3),
         |sc AS (SELECT qid, doc, CAST(sum(m) AS BIGINT) AS score FROM mx
         |       GROUP BY 1, 2 HAVING doc <> qid // 2)
         |SELECT qid, doc % 3 AS grp, doc, score,
         |  row_number() OVER (PARTITION BY qid, doc % 3
         |    ORDER BY score DESC, doc) AS rk
         |FROM sc QUALIFY rk <= 3 ORDER BY qid, grp, rk""".stripMargin,
    "stream_multivec_search" -> multivecSql(),
    // segment-per-microbatch multivec ingest: both stages (across
    // witness-verified segment pairs, post-mergeAll) replay the same
    // fixed-point brute force
    "stream_multivec_segments" ->
      s"""WITH base AS (${multivecSql()})
         |SELECT 'segments' AS stage, qid, doc, score, rk FROM base
         |UNION ALL
         |SELECT 'merged' AS stage, qid, doc, score, rk FROM base
         |ORDER BY stage, qid, rk""".stripMargin,
    // in-stream tiered maintenance on the late-interaction tier: the
    // mid-policy serve ≡ the fixed-point brute force
    "stream_multivec_segments_tiered" -> multivecSql(),
    // ~90%/4%/4%/2% skew split on the DOC column (whole docs per
    // batch): per-segment Σ max-cos stays exact
    "multivec_segments_skewed" -> multivecSql(),
    // stale docs replaced by their true vector sets ≡ never corrupted
    "multivec_topk_upserted" -> multivecSql(),
    // corrupted pair restored from its snapshot ≡ never corrupted
    "multivec_topk_restored" -> multivecSql(),
    // two pair roots served together (per-segment masks, no merge) ≡
    // the decoy-free brute force
    "multivec_topk_segments" -> multivecSql(),
    // decoys masked, then folded: both stages ≡ decoy-free brute force
    "multivec_topk_tombstoned" -> multivecStagedSql,

    // sparse tombstones: both the masked serve and the post-fold
    // serve must equal the decoy-free brute force
    "sparse_topk_tombstoned" ->
      s"""WITH expl AS (
         |  SELECT vec_id AS doc, unnest(embedding) AS val,
         |    unnest(range(1, len(embedding) + 1)) AS dim
         |  FROM embeddings),
         |sp AS (
         |  SELECT doc, dim,
         |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
         |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05),
         |base AS (
         |  SELECT qid, nid, score, rk FROM (
         |    SELECT q.doc AS qid, p.doc AS nid,
         |      CAST(sum(q.w * p.w) AS BIGINT) AS score,
         |      row_number() OVER (PARTITION BY q.doc
         |        ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
         |    FROM sp q JOIN sp p USING (dim)
         |    WHERE q.doc < 4 AND p.doc <> q.doc
         |    GROUP BY q.doc, p.doc)
         |  WHERE rk <= 10)
         |SELECT 'masked' AS stage, qid, nid, score, rk FROM base
         |UNION ALL
         |SELECT 'folded' AS stage, qid, nid, score, rk FROM base
         |ORDER BY stage, qid, rk""".stripMargin,

    // dense top-20 (exact cosine) ∪ sparse top-20 (exact integer
    // dots) fused with floor(2^20/(60+rk)) contributions — every
    // stage exact, the whole stack replayed in SQL
    "hybrid_dense_sparse" ->
      s"""WITH expl AS (
         |  SELECT vec_id AS doc, unnest(embedding) AS val,
         |    unnest(range(1, len(embedding) + 1)) AS dim
         |  FROM embeddings),
         |sp AS (
         |  SELECT doc, dim,
         |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
         |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05),
         |sparse_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.doc AS qid, p.doc AS doc,
         |      row_number() OVER (PARTITION BY q.doc
         |        ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
         |    FROM sp q JOIN sp p USING (dim)
         |    WHERE q.doc < 4 AND p.doc <> q.doc
         |    GROUP BY q.doc, p.doc)
         |  WHERE rk <= 20),
         |dense_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS doc,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC,
         |          e.vec_id) AS rk
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 20),
         |contrib AS (
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM sparse_rk
         |  UNION ALL
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM dense_rk),
         |f AS (SELECT qid, doc, CAST(sum(c) AS BIGINT) AS rrf_fp
         |      FROM contrib GROUP BY 1, 2)
         |SELECT qid, doc, rrf_fp,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf_fp DESC, doc) AS rk
         |FROM f QUALIFY rk <= 10 ORDER BY qid, rk""".stripMargin,

    // tri-modal RRF: lexical ranks from the bm25 golden, dense and
    // sparse ranks recomputed exactly, floor(2^20/(60+rk)) sums
    // the end-to-end production-serving composition: every tier's
    // mirror is the live (decoy-free) corpus under the even-id
    // filter — the tombstone masks make the decoys invisible on the
    // dense/sparse sides, while the lexical golden carries their
    // stats mass (Lucene model) with filtered candidates
    "hybrid_trimodal_filtered_tombstoned" ->
      s"""WITH expl AS (
         |  SELECT vec_id AS doc, unnest(embedding) AS val,
         |    unnest(range(1, len(embedding) + 1)) AS dim
         |  FROM embeddings),
         |sp AS (
         |  SELECT doc, dim,
         |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
         |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05),
         |sparse_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.doc AS qid, p.doc AS doc,
         |      row_number() OVER (PARTITION BY q.doc
         |        ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
         |    FROM sp q JOIN sp p USING (dim)
         |    WHERE q.doc < 3 AND p.doc <> q.doc AND p.doc % 2 = 0
         |    GROUP BY q.doc, p.doc)
         |  WHERE rk <= 10),
         |dense_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS doc,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC,
         |          e.vec_id) AS rk
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id
         |      AND e.vec_id % 2 = 0)
         |  WHERE rk <= 10),
         |lex_rk AS (
         |  SELECT qid, doc, rk FROM '$pipeGold/bm25_topk_decoy_filtered.parquet'),
         |contrib AS (
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM lex_rk
         |  UNION ALL
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM dense_rk
         |  UNION ALL
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM sparse_rk),
         |f AS (SELECT qid, doc, CAST(sum(c) AS BIGINT) AS rrf_fp
         |      FROM contrib GROUP BY 1, 2)
         |SELECT qid, doc, rrf_fp,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf_fp DESC, doc) AS rk
         |FROM f QUALIFY rk <= 10 ORDER BY qid, rk""".stripMargin,

    "hybrid_trimodal" ->
      s"""WITH expl AS (
         |  SELECT vec_id AS doc, unnest(embedding) AS val,
         |    unnest(range(1, len(embedding) + 1)) AS dim
         |  FROM embeddings),
         |sp AS (
         |  SELECT doc, dim,
         |    CAST(round(CAST(val AS DOUBLE) * 10000) AS BIGINT) AS w
         |  FROM expl WHERE CAST(val AS DOUBLE) >= 0.05),
         |sparse_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.doc AS qid, p.doc AS doc,
         |      row_number() OVER (PARTITION BY q.doc
         |        ORDER BY sum(q.w * p.w) DESC, p.doc) AS rk
         |    FROM sp q JOIN sp p USING (dim)
         |    WHERE q.doc < 3 AND p.doc <> q.doc
         |    GROUP BY q.doc, p.doc)
         |  WHERE rk <= 10),
         |dense_rk AS (
         |  SELECT qid, doc, rk FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS doc,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC,
         |          e.vec_id) AS rk
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 10),
         |lex_rk AS (
         |  SELECT qid, doc, rk FROM '$pipeGold/bm25_topk.parquet'),
         |contrib AS (
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM lex_rk
         |  UNION ALL
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM dense_rk
         |  UNION ALL
         |  SELECT qid, doc, 1048576 // (60 + rk) AS c FROM sparse_rk),
         |f AS (SELECT qid, doc, CAST(sum(c) AS BIGINT) AS rrf_fp
         |      FROM contrib GROUP BY 1, 2)
         |SELECT qid, doc, rrf_fp,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf_fp DESC, doc) AS rk
         |FROM f QUALIFY rk <= 10 ORDER BY qid, rk""".stripMargin,

    // recommend: (p0 + p1) − n0 composed in the same double order,
    // then plain cosine ranking with examples excluded
    "ann_recommend" ->
      s"""WITH ex AS (
         |  SELECT
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) AS p0,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 1) AS p1,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 2) AS n0),
         |q AS (
         |  SELECT list_transform(list_zip(p0, p1, n0),
         |    s -> (CAST(s[1] AS DOUBLE) + CAST(s[2] AS DOUBLE))
         |      - CAST(s[3] AS DOUBLE)) AS qv
         |  FROM ex),
         |sc AS (
         |  SELECT e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e, q WHERE e.vec_id NOT IN (0, 1, 2))
         |SELECT nid, round(sim, 6) AS sim,
         |  row_number() OVER (ORDER BY sim DESC, nid) AS rk
         |FROM sc QUALIFY rk <= 10 ORDER BY rk""".stripMargin,

    "bm25_topk_incremental" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // post-deletion search ≡ a one-shot build over the survivors
    "bm25_topk_deleted" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    "corpus_mix_temperature" ->
      s"SELECT doc_id, lang, copy FROM '$pipeGold/corpus_mix_temperature.parquet' ORDER BY doc_id, copy",

    "bpe_train" ->
      s"""SELECT "rank", "left", "right", pair_count FROM '$pipeGold/bpe_train.parquet' ORDER BY "rank"""",

    "bpe_train_capped" ->
      s"""SELECT "rank", "left", "right", pair_count FROM '$pipeGold/bpe_train_capped.parquet' ORDER BY "rank"""",

    "corpus_curation_v2" ->
      s"SELECT doc_id, lang, copy FROM '$pipeGold/corpus_curation_v2.parquet' ORDER BY doc_id, copy",

    "bpe_token_count" ->
      s"SELECT doc_id, n_bpe FROM '$pipeGold/bpe_token_count.parquet' ORDER BY doc_id",

    // the exclusive prefix sum replayed over the BPE golden's
    // per-doc token counts (the in-query trainer reproduces the
    // bpe_token_count merges exactly)
    "corpus_pack_bpe" ->
      s"""WITH c AS (SELECT doc_id, n_bpe,
         |    COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM '$pipeGold/bpe_token_count.parquet')
         |SELECT doc_id AS doc, CAST(n_bpe AS BIGINT) AS n_tokens,
         |  CAST(cum_before AS BIGINT) AS cum_before,
         |  CAST(cum_before // 1024 AS BIGINT) AS seq_first,
         |  CAST((cum_before + n_bpe - 1) // 1024 AS BIGINT) AS seq_last
         |FROM c ORDER BY doc""".stripMargin,

    "embed_pca" ->
      s"SELECT vec_id, p0, p1, p2, p3, p4, p5, p6, p7 FROM '$pipeGold/embed_pca.parquet' ORDER BY vec_id",

    "ann_topk_pca" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ann_topk_pca.parquet' ORDER BY qid, rk",

    "ann_topk_pq" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ann_topk_pq.parquet' ORDER BY qid, rk",

    "ann_topk_pq_dist" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ann_topk_pq_dist.parquet' ORDER BY qid, rk",

    "ivf_topk_pq" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pq.parquet' ORDER BY qid, rk",

    // disk-served codes ≡ the in-memory IVF-PQ (same golden)
    "ivf_topk_pq_indexed" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pq.parquet' ORDER BY qid, rk",

    "ivf_topk_pq256" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pq256.parquet' ORDER BY qid, rk",

    // sign-bit binary quantization: the golden mirrors the Hamming
    // shortlist + exact rescore; the incremental row is the SAME
    // golden (training-free encoding => grown ≡ one-shot)
    "ivf_topk_bq" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_bq.parquet' ORDER BY qid, rk",

    "ivf_topk_bq_incremental" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_bq.parquet' ORDER BY qid, rk",

    // decoy-oracled deletion on the sign-bit layout (same golden: a
    // surviving decoy posting would displace a rank-1 row)
    "ivf_topk_bq_deleted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_bq.parquet' ORDER BY qid, rk",

    // the sign-bit layout under the < k-match predicate — exhaustive
    // escalation + exact rescore ⇒ the direct brute-force oracle
    "ivf_topk_bq_filtered" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "ivf_topk_pqr" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    "ivf_topk_pqr_indexed" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    // recluster cascaded into the derived codes layout (PQ retrain +
    // re-encode from the index's own contents) ≡ the one-shot build
    "ivf_topk_pqr_reclustered" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    // append-grown residual codes + serve from the RELOADED
    // (coarse, codebook) pair ≡ the one-shot build — same golden
    "ivf_topk_pqr_incremental" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    // post-deletion serve over the codes layout ≡ the decoy-free
    // one-shot build — same golden
    "ivf_topk_pqr_deleted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    // post-delete serve from the reloaded pair ≡ the decoy-free
    // one-shot golden, on the raw-PQ and int8 layouts too —
    // right-to-be-forgotten pinned on all three quantized layouts
    "ivf_topk_pq_deleted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pq.parquet' ORDER BY qid, rk",

    "ivf_topk_int8_deleted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // the stream-grown codes layout ≡ the one-shot build (pure
    // per-row encoding under the frozen pair) — same golden
    "stream_ivfpqr_search" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pqr.parquet' ORDER BY qid, rk",

    // the sign-bit layout streamed on ingest ≡ one-shot (same golden)
    "stream_bq_search" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_bq.parquet' ORDER BY qid, rk",

    "corpus_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id AS doc,
        |         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS score,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc, score, n_tokens,
        |         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc, round(score, 6) AS score, n_tokens, cum_tokens,
        |       cum_tokens <= 10000 AS selected
        |FROM c ORDER BY doc""".stripMargin,

    "text_dup_spans" ->
      s"SELECT doc, start_tok, end_tok FROM '$pipeGold/text_dup_spans.parquet' ORDER BY doc, start_tok",

    "text_dup_fraction" ->
      s"SELECT doc, n_windows, dup_windows, dup_frac FROM '$pipeGold/text_dup_fraction.parquet' ORDER BY doc",

    "text_span_dedup" ->
      s"SELECT doc, cleaned FROM '$pipeGold/text_span_dedup.parquet' ORDER BY doc",

    "decontam_span_scrub" -> spanScrubSql,

    // the streamed scrub is per-doc local ⇒ union over batches ≡ the
    // one-shot pass: same oracle
    "stream_span_scrub" -> spanScrubSql,

    "text_line_dedup" ->
      """WITH t(doc_id, text) AS (VALUES
        |  (1, 'keep me' || chr(10) || 'shared banner' || chr(10) || 'unique one'),
        |  (2, 'shared banner' || chr(10) || 'another keeper'),
        |  (3, 'totally unique' || chr(10) || 'content here'),
        |  (4, 'shared banner' || chr(10) || 'shared banner'),
        |  (5, 'zz' || chr(10) || 'zz' || chr(10) || 'middle text')),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
        |flat AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |  i -> struct_pack(ord := i, line := ls[i]))) AS s FROM ls),
        |f AS (SELECT doc_id, s.ord AS ord, s.line AS line FROM flat),
        |dup AS (SELECT line FROM f GROUP BY line HAVING count(*) >= 2),
        |kept AS (SELECT doc_id, ord, line FROM f
        |         WHERE line NOT IN (SELECT line FROM dup)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS cleaned
        |        FROM kept GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc, coalesce(agg.cleaned, '') AS cleaned
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY doc""".stripMargin,

    "text_vocabulary" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok WHERE term <> '' GROUP BY term ORDER BY term""".stripMargin,

    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id AS doc, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |scored AS (
        |  SELECT doc, tf.term AS term, tf, df,
        |    CAST(tf AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM documents)
        |      / CAST(df AS DOUBLE) AS score
        |  FROM tf JOIN dfq ON tf.term = dfq.term),
        |rked AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc ORDER BY score DESC, term) AS rk FROM scored)
        |SELECT doc, CAST(rk AS BIGINT) AS rk, term, tf, df, score
        |FROM rked WHERE rk <= 5 ORDER BY doc, rk""".stripMargin,

    // set-membership over shingle STRINGS mirrors the engine's rolling
    // hashes — same injectivity assumption the decontam oracle already
    // relies on
    "eval_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        |  FROM tok WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
        |trainh AS (SELECT DISTINCT sg FROM e WHERE doc_id % 2 = 0),
        |ev AS (SELECT doc_id, sg FROM e WHERE doc_id % 2 = 1),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1),
        |cont AS (SELECT doc_id, count(*) AS n_contaminated FROM ev
        |         WHERE sg IN (SELECT sg FROM trainh) GROUP BY 1)
        |SELECT t.doc_id AS doc, CAST(t.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(coalesce(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(c.n_contaminated, 0) AS DOUBLE)
        |    / CAST(t.n_shingles AS DOUBLE) AS frac
        |FROM tot t LEFT JOIN cont c ON c.doc_id = t.doc_id
        |ORDER BY doc""".stripMargin,

    "gopher_filter" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '^#|\.\.\.$'))) AS BIGINT) AS sym,
        |    CAST(list_contains(ws, 'the') AS BIGINT) + CAST(list_contains(ws, 'and') AS BIGINT)
        |      + CAST(list_contains(ws, 'of') AS BIGINT) + CAST(list_contains(ws, 'to') AS BIGINT)
        |      + CAST(list_contains(ws, 'in') AS BIGINT) AS n_stop
        |  FROM tok)
        |SELECT doc_id, n AS n_words,
        |  CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE) AS mean_word_len,
        |  CAST(sym AS DOUBLE) / CAST(n AS DOUBLE) AS symbol_ratio,
        |  CAST(alpha AS DOUBLE) / CAST(n AS DOUBLE) AS alpha_frac,
        |  n_stop,
        |  (n BETWEEN 10 AND 100000)
        |    AND (CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE) BETWEEN 3.0 AND 10.0)
        |    AND (CAST(sym AS DOUBLE) / CAST(n AS DOUBLE) < 0.1)
        |    AND (CAST(alpha AS DOUBLE) / CAST(n AS DOUBLE) >= 0.8)
        |    AND n_stop >= 2 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "semdedup" ->
      s"SELECT vec_id, cluster, keep FROM '$pipeGold/semdedup.parquet' ORDER BY vec_id",

    "semdedup_dist" ->
      s"SELECT vec_id, cluster, keep FROM '$pipeGold/semdedup_dist.parquet' ORDER BY vec_id",

    "corpus_cluster_sample" ->
      s"SELECT cluster, vec_id, u FROM '$pipeGold/corpus_cluster_sample.parquet' ORDER BY cluster, vec_id",

    "semdedup_hier" ->
      s"SELECT vec_id, cluster, keep FROM '$pipeGold/semdedup_hier.parquet' ORDER BY vec_id",

    "text_bpeish_tokens" ->
      s"SELECT doc_id, n_pieces FROM '$pipeGold/text_bpeish_tokens.parquet' ORDER BY doc_id",

    "simhash_pairs" ->
      s"SELECT d1, d2, dist FROM '$pipeGold/simhash_pairs.parquet' ORDER BY d1, d2",

    "minhash_pairs" ->
      s"SELECT d1, d2, jac FROM '$pipeGold/minhash_pairs.parquet' ORDER BY d1, d2",

    // the grown near-dup index must reproduce the one-shot pass
    "neardup_index_incremental" ->
      s"SELECT d1, d2, jac FROM '$pipeGold/minhash_pairs.parquet' ORDER BY d1, d2",

    "neardup_index_deleted" ->
      s"SELECT d1, d2, jac FROM '$pipeGold/minhash_pairs.parquet' ORDER BY d1, d2",

    // shard-parallel build + segment merge: build-A ∪ build-B ∪ the
    // merge's cross-shard report ∪ later probe ≡ the one-shot pass
    "neardup_index_merged" ->
      s"SELECT d1, d2, jac FROM '$pipeGold/minhash_pairs.parquet' ORDER BY d1, d2",

    // corrupted index restored from its snapshot mid-lifecycle ≡ the
    // never-corrupted lifecycle ≡ the one-shot pass
    "neardup_index_restored" ->
      s"SELECT d1, d2, jac FROM '$pipeGold/minhash_pairs.parquet' ORDER BY d1, d2",

    "lsh_topk" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/lsh_topk.parquet' ORDER BY qid, rk",

    "ann_recall_lsh" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/lsh_topk.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // same harness, approx side = the RRF hybrid's fused top-10 (its
    // own golden), truth = inline brute-force cosine top-5
    "hybrid_recall" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, doc AS nid FROM '$pipeGold/hybrid_topk.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_ivf" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_ivf_dist" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk_dist.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_pca" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ann_topk_pca.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_pca_dist" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ann_topk_pca_dist.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_ivfpq" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk_pq.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_recall_ivfpqr" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk_pqr.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // grouped top-k at the exhaustive probe: top-5 per (query,
    // label) straight off DuckDB's window over the brute-force sims
    "ivf_topk_grouped" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.label AS label, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id)
         |SELECT qid, label, nid, sim, rk FROM (
         |  SELECT qid, label, nid, sim,
         |    row_number() OVER (PARTITION BY qid, label
         |                       ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, label, rk""".stripMargin,

    // the sign-bit tier's recall against brute-force truth, with the
    // approximate side pinned to the ivf_topk_bq golden
    "ann_recall_bq" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk_bq.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "ann_topk_mmr" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/mmr_topk.parquet' ORDER BY qid, rk",

    "embed_neardup_lsh" ->
      s"SELECT v1, v2, sim FROM '$pipeGold/embed_neardup_lsh.parquet' ORDER BY v1, v2",

    "ivf_topk" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // incremental append must be indistinguishable from the one-shot
    // build — same golden
    "ivf_topk_incremental" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // post-deletion search ≡ a one-shot build over the survivors
    "ivf_topk_deleted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // upsert (replace-by-id) ≡ a one-shot build over the true corpus
    "ivf_topk_upserted" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // versioned upsert: the masked serve (both versions' bytes still
    // on disk) ≡ the one-shot build over the corrected corpus
    "ivf_topk_versioned" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // streamed corrections + close-of-run version fold ≡ the same
    "stream_upsert" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // filter ∘ tombstone composition: the filtered serve over the
    // masked read ≡ brute force over the predicate on the true corpus
    "ivf_topk_filtered_tombstoned" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the health surface's counts recomputed from the corpus: the
    // layout holds two corpus copies, one fully tombstoned
    "ivf_index_health" ->
      s"""SELECT CAST(2 * count(*) AS BIGINT) AS postings,
         |  CAST(count(*) AS BIGINT) AS tombstoned,
         |  CAST(count(*) AS BIGINT) AS live
         |FROM embeddings""".stripMargin,

    // tombstone masking at serving latency (no rewrite yet) must
    // read as if the decoys never existed — same golden
    "ivf_topk_tombstoned" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // streamed erasure requests + amortized folds + close-of-run
    // fold ≡ a one-shot build over the survivors — same golden
    "stream_forget" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // filter-inside-search under a < k-match predicate: the adaptive
    // widening must reach the exhaustive probe, making the result
    // EXACT over the filtered corpus — oracled directly against
    // DuckDB brute force over the same predicate (no golden)
    // payload layout grown by the payload-aware append, served
    // filtered at the exhaustive probe ≡ brute force over the
    // filtered union corpus
    "ivf_topk_payload_appended" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "ivf_topk_filtered" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the payload-PARTITIONED layout under the same predicate: the
    // label leg prunes directories, the result is unchanged — same
    // brute-force oracle
    "ivf_topk_payload_pruned" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0),
         |cut AS (
         |  SELECT qid, nid, sim, rk FROM (
         |    SELECT qid, nid, sim,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5)
         |SELECT 'masked' AS stage, qid, nid, sim, rk FROM cut
         |UNION ALL
         |SELECT 'folded' AS stage, qid, nid, sim, rk FROM cut
         |ORDER BY stage, qid, rk""".stripMargin,

    // the quantized serving path under the same predicate — the
    // exhaustive probe's ADC shortlist holds every match (4 < k·os),
    // so the exact rescore meets the same brute-force oracle
    "ivf_topk_pq_filtered" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the residual codes layout under the same < k-match predicate —
    // exhaustive escalation + exact rescore ⇒ the same direct oracle
    "ivf_topk_pqr_filtered" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
         |    AND e.label = 3 AND e.vec_id % 13 = 0)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the int8 codes layout under the same widening schedule, scored
    // by the mirror's exact-integer kernel
    "ivf_topk_int8_filtered" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8_filtered.parquet' ORDER BY qid, rk",

    // the fill guarantee at ~10% selectivity: the Python mirror
    // replays the widening schedule, fill check, and scoring
    "ivf_topk_filtered_recall" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_filtered_recall.parquet' ORDER BY qid, rk",

    // recall@k of the filtered probe vs brute force over the
    // FILTERED corpus — truth recomputed in SQL, approx from the
    // mirror's golden (the ann_recall_ivf pattern)
    "ann_recall_ivf_filtered" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id AND e.label = 3),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |    FROM p) t
         |  WHERE rk <= 5),
         |ap AS (SELECT qid, nid FROM '$pipeGold/ivf_topk_filtered_recall.parquet')
         |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
         |  count(a.nid) / least(5.0, count(*)) AS recall
         |FROM ex e LEFT JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // the tuner's sweep table — sweep, stopping rule, and the single
    // hits/denom division all mirrored exactly in Python
    "ivf_tune_nprobe" ->
      s"SELECT nprobe, hits, denom, recall, chosen FROM '$pipeGold/ivf_tune_nprobe.parquet' ORDER BY nprobe",

    // per-list sizes over every row's deterministic assignment —
    // the metadata-only drift alarm, mirrored exactly in Python
    "ivf_index_stats" ->
      s"SELECT cluster, size FROM '$pipeGold/ivf_index_stats.parquet' ORDER BY cluster",

    // recluster retrains on the index's own contents (TrainSample
    // determinism ⇒ bit-identical to training on the union) and
    // reassigns every posting ⇒ search equals the one-shot build
    "ivf_topk_reclustered" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    "ivf_topk_int8" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // disk-served int8 codes ≡ the in-memory quantized IVF (same golden)
    "ivf_topk_int8_indexed" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // append-grown codes layout ≡ the one-shot build (pure encoding
    // under frozen models) — same golden
    "ivf_topk_int8_incremental" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // two shard builds under one frozen quantizer, file-move merged
    // ≡ the one-shot build (same golden)
    "ivf_topk_merged" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // three shards served as one (per-segment models verified,
    // per-segment tombstone masks) ≡ the decoy-free one-shot build
    // (same golden, no physical merge)
    "ivf_topk_segments" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // tiered maintenance is serve-invariant: the post-cascade survivor
    // must serve the same one-shot golden
    "ivf_topk_segments_tiered" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // the segments-COMPOSITION serve (mask × filter × group ×
    // segment-union in one query): per-tenant brute force over the
    // filtered corpus — tombstoned decoys (which pass the filter)
    // never appear
    "ivf_topk_segments_grouped" ->
      s"""WITH p AS (
         |  SELECT q.vec_id AS qid, e.label AS label, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM embeddings q, embeddings e
         |  WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id
         |    AND e.vec_id % 2 = 0)
         |SELECT qid, label, nid, sim, rk FROM (
         |  SELECT qid, label, nid, sim,
         |    row_number() OVER (PARTITION BY qid, label
         |                       ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, label, rk""".stripMargin,

    // segment-per-microbatch ingest: the across-segments serve AND
    // the post-mergeAll serve must both equal the one-shot build
    "stream_ivf_segments" ->
      s"""SELECT 'merged' AS stage, qid, nid, sim, rk
         |FROM '$pipeGold/ivf_topk_int8.parquet'
         |UNION ALL
         |SELECT 'segments' AS stage, qid, nid, sim, rk
         |FROM '$pipeGold/ivf_topk_int8.parquet'
         |ORDER BY stage, qid, rk""".stripMargin,

    // dedup → hier-dist train → segment ingest + cadence → filtered
    // partial-probe serve, against the Python end-to-end replay
    "e2e_dist_pipeline" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/e2e_dist_pipeline.parquet' ORDER BY qid, rk",

    // in-stream tiered maintenance (maintainEvery): the mid-policy
    // serve over {cascaded survivor, protected tail} ≡ one-shot
    "stream_ivf_segments_tiered" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // one ~90% segment beside slivers: the dense segment union is
    // partition-shape-invariant (assignment is per-vector)
    "ivf_segments_skewed" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // int8 payload layout grown through the codec-dispatched append
    // ≡ the one-shot full-corpus int8 build (pure per-row encodes)
    "ivf_topk_payload_appended_int8" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // snapshot → wreck → restore ≡ the never-wrecked one-shot
    "ivf_topk_restored" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_int8.parquet' ORDER BY qid, rk",

    // the raw-PQ twin, serving from the reloaded pair — same golden
    // as its one-shot row
    "ivf_topk_pq_incremental" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_pq.parquet' ORDER BY qid, rk",

    "ivf_topk_hier" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_hier.parquet' ORDER BY qid, rk",

    "ivf_topk_hier_dist" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk_hier_dist.parquet' ORDER BY qid, rk",

    "store_retrieve" ->
      s"SELECT sim, source, text FROM '$pipeGold/store_retrieve.parquet' ORDER BY sim DESC",

    "memory_context" ->
      s"SELECT score, id, role, text, timestamp FROM '$pipeGold/memory_context.parquet' ORDER BY id",

    // M2 on the indexed serving path must be byte-equal to the
    // exact path — same golden (filter inside the probe, widening
    // to exhaustive over the 3-message conversation, top-2 cut)
    "memory_context_indexed" ->
      s"SELECT score, id, role, text, timestamp FROM '$pipeGold/memory_context.parquet' ORDER BY id",

    "memory_generate" ->
      s"SELECT id, role, text, timestamp FROM '$pipeGold/memory_generate.parquet' ORDER BY timestamp, id",

    "ingest_dir" ->
      s"SELECT file, n_chars, wrapped_len FROM '$pipeGold/ingest_dir.parquet' ORDER BY file",

    "policy_sections" ->
      s"SELECT idx, sectionId, level, heading FROM '$pipeGold/policy_sections.parquet' ORDER BY idx",

    "chunk_stats" ->
      s"SELECT doc_id, n_chunks FROM '$pipeGold/chunk_stats.parquet' ORDER BY doc_id",

    "mapreduce_fold" ->
      s"SELECT len, result FROM '$pipeGold/mapreduce_fold.parquet'",

    "e2e_pipeline" ->
      s"SELECT sim, source, summary_len FROM '$pipeGold/e2e_pipeline.parquet' ORDER BY sim DESC, source",

    "stream_neardup" ->
      s"SELECT doc_id FROM '$pipeGold/stream_neardup.parquet' ORDER BY doc_id",

    // kept ⇔ the doc is nobody's LATER near-dup in the one-shot LSH
    // pair set (the minhash_pairs golden, threshold 0.2)
    "stream_minhash_dedup" ->
      s"""SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT d2 FROM '$pipeGold/minhash_pairs.parquet')
         |ORDER BY doc_id""".stripMargin,

    // the grown embedding index's pair set ≡ the one-shot blocked
    // pass — same golden
    "embed_index_incremental" ->
      s"SELECT v1, v2, sim FROM '$pipeGold/embed_neardup_lsh.parquet' ORDER BY v1, v2",

    "embed_index_deleted" ->
      s"SELECT v1, v2, sim FROM '$pipeGold/embed_neardup_lsh.parquet' ORDER BY v1, v2",

    // corrupted index restored mid-lifecycle ≡ the one-shot pass
    "embed_index_restored" ->
      s"SELECT v1, v2, sim FROM '$pipeGold/embed_neardup_lsh.parquet' ORDER BY v1, v2",

    // shard-parallel build + segment merge ≡ the one-shot blocked pass
    "embed_index_merged" ->
      s"SELECT v1, v2, sim FROM '$pipeGold/embed_neardup_lsh.parquet' ORDER BY v1, v2",

    // the merged incremental card ≡ the batch profile minus
    // n_distinct (the one non-mergeable metric)
    "stream_profile" ->
      """SELECT col_name, metric, value FROM (
        |  SELECT 'doc_id' AS col_name, 'n_nulls' AS metric, CAST(count(*) - count(doc_id) AS BIGINT) AS value FROM documents
        |  UNION ALL SELECT 'doc_id', 'min', CAST(min(doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'doc_id', 'max', CAST(max(doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'n_nulls', CAST(count(*) - count(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'min', CAST(min(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_chars', 'max', CAST(max(n_chars) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'n_nulls', CAST(count(*) - count(text) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_min', CAST(min(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_max', CAST(max(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text', 'len_sum', CAST(sum(length(text)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'n_nulls', CAST(count(*) - count(lang) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_min', CAST(min(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_max', CAST(max(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'lang', 'len_sum', CAST(sum(length(lang)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'n_nulls', CAST(count(*) - count(source) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_min', CAST(min(length(source)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_max', CAST(max(length(source)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'source', 'len_sum', CAST(sum(length(source)) AS BIGINT) FROM documents
        |) ORDER BY col_name, metric""".stripMargin,

    // the streamed curation ≡ the batch composition, replayed stage
    // by stage: blocklist suffix match → rounded quality gate →
    // min-id-per-fingerprint among the survivors
    "stream_curation" ->
      s"""WITH ${curationKeptCtes("documents")}
         |SELECT doc_id FROM k WHERE doc_id = keep ORDER BY doc_id""".stripMargin,

    // late iff the straggler lands in batch ≥ 1 (its 28h lag dwarfs
    // the id range + 1h delay, and batch 0 has no watermark yet);
    // batch of d replays Staging.stageWithKey's least(n−1, (d−lo) div
    // span) with span = (hi−lo) div n + 1; kept = the curation
    // composition over the on-time corpus
    "stream_watermarked_curation" ->
      s"""WITH bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |    FROM documents),
         |lt AS (SELECT doc_id FROM documents, bounds
         |  WHERE doc_id % 17 = 5
         |    AND least(2, (doc_id - lo) // ((hi - lo) // 3 + 1)) >= 1),
         |${curationKeptCtes(
             """(SELECT doc_id, text, source FROM documents
               |   WHERE doc_id NOT IN (SELECT doc_id FROM lt))""".stripMargin)}
         |SELECT doc_id, 'kept' AS status FROM k WHERE doc_id = keep
         |UNION ALL SELECT doc_id, 'late' AS status FROM lt
         |ORDER BY doc_id""".stripMargin,

    // kept ⇔ the vector is nobody's LATER cosine near-dup in the
    // one-shot signature-blocked pair set (the embed_neardup_lsh
    // golden, threshold 0.3)
    "stream_embed_dedup" ->
      s"""SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT v2 FROM '$pipeGold/embed_neardup_lsh.parquet')
         |ORDER BY vec_id""".stripMargin,

    // the stream-grown BM25 layout is additive ⇒ search ≡ the
    // one-shot build's golden
    "stream_bm25_search" ->
      s"SELECT qid, doc, score_fp, rk FROM '$pipeGold/bm25_topk.parquet' ORDER BY qid, rk",

    // the stream-grown IVF index holds exactly the one-shot build's
    // postings (frozen quantizer, per-row assignment) ⇒ same golden
    "stream_ivf_search" ->
      s"SELECT qid, nid, sim, rk FROM '$pipeGold/ivf_topk.parquet' ORDER BY qid, rk",

    // the self-maintaining ingest's exhaustive serve ≡ brute-force
    // cosine over the staged (original ∪ abs-drifted) corpus —
    // model-independent, so DuckDB replays it without the k-means
    "stream_ivf_autorecluster" ->
      s"""WITH all_vecs AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
         |         list_transform(embedding, v -> abs(v)) AS embedding
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    ${cosSql("e.embedding", "q.embedding")} AS sim
         |  FROM all_vecs q, all_vecs e
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
         |SELECT qid, nid, sim, rk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
         |  FROM p) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // the stream-grown PAIRED hybrid serves identically to the
    // scan-based fusion (both sides one-shot-identical) ⇒ the
    // hybrid_topk golden pins the whole streaming paired lifecycle
    "stream_hybrid_search" ->
      s"SELECT qid, doc, rrf_fp, rk FROM '$pipeGold/hybrid_topk.parquet' ORDER BY qid, rk",

    // kept ⇔ the document is its fingerprint group's min id — the
    // one-shot exact-dedup rule, replayed in plain SQL
    "stream_exact_dedup" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (
        |      PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    ) AS keep_id
        |  FROM documents) t
        |WHERE doc_id = keep_id ORDER BY doc_id""".stripMargin,

    "stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stateful streaming sessionization over a static source must
    // equal the batch gaps-and-islands query
    "stream_sessionize" -> analyticsSql("events_sessionize"),

    // native session windows: gaps-and-islands with session_window's
    // half-open merge rule (gap >= window size splits) and the final
    // watermark's emission cutoff (window end <= max ts, since the
    // watermark delay is zero)
    "stream_session_window" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |agg AS (SELECT user_id, sid, min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    count(*) AS n
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n FROM agg
        |WHERE session_end <= (SELECT max(ts) FROM events)
        |ORDER BY user_id, session_start""".stripMargin,

    // a static source run to completion makes the watermarked
    // stream-stream inner join equal the batch interval join
    "stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |AND a.event_type = 'click' AND b.event_type = 'view'
        |AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin,

    // watermark semantics replayed as batch SQL over the inline
    // 4-micro-batch fixture. Spark's late filter lags eviction by one
    // batch (SPARK-40925): the filter watermark for batch b is the
    // max event time over batches < b−1 (the `2 PRECEDING` frame),
    // minus the 1h delay; a row survives iff its window end > that;
    // a window is emitted iff its end ≤ the final watermark.
    "stream_hourly_watermark" ->
      """WITH ev(batch, ts, event_type, value) AS (VALUES
        |  (0, TIMESTAMP '2026-01-01 10:05:00', 'click', 1.0),
        |  (0, TIMESTAMP '2026-01-01 10:20:00', 'view', 2.0),
        |  (0, TIMESTAMP '2026-01-01 10:40:00', 'click', 3.0),
        |  (0, TIMESTAMP '2026-01-01 11:10:00', 'click', 4.0),
        |  (0, TIMESTAMP '2026-01-01 12:30:00', 'view', 5.0),
        |  (1, TIMESTAMP '2026-01-01 11:45:00', 'view', 6.0),
        |  (1, TIMESTAMP '2026-01-01 13:45:00', 'click', 7.0),
        |  (2, TIMESTAMP '2026-01-01 10:15:00', 'click', 99.0),
        |  (2, TIMESTAMP '2026-01-01 12:50:00', 'view', 8.0),
        |  (2, TIMESTAMP '2026-01-01 14:30:00', 'view', 9.0),
        |  (3, TIMESTAMP '2026-01-01 11:50:00', 'click', 98.0),
        |  (3, TIMESTAMP '2026-01-01 15:20:00', 'click', 10.0)),
        |wm AS (SELECT *, max(ts) OVER (ORDER BY batch
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |    - INTERVAL 1 HOUR AS wm_late FROM ev),
        |kept AS (SELECT * FROM wm
        |  WHERE wm_late IS NULL
        |     OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm_late)
        |SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM kept
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <=
        |  (SELECT max(ts) - INTERVAL 1 HOUR FROM ev)
        |ORDER BY 1, 2""".stripMargin,

    // the SQL-registered cosine function must agree with the Column API
    "sql_topk_cosine" -> vectorSql("vdb_topk_cosine"),

    "stream_dedup" ->
      """SELECT CAST(count(DISTINCT (user_id, event_type)) AS BIGINT) AS n
        |FROM events""".stripMargin,

    "vdb_topk_big" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |big AS (SELECT e.vec_id * 128 + t.range AS vec_id, e.embedding
         |        FROM embeddings e, range(0, 128) t)
         |SELECT b.vec_id, ${cosSql("b.embedding", "q.qv")} AS sim
         |FROM big b, q
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)

  // ======================================================== union ======

  val all: Map[String, Q] = analytics ++ vector ++ text ++ ops

  val allSql: Map[String, String] = analyticsSql ++ vectorSql ++ textSql ++ opsSql
}
