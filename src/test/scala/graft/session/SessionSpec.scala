package graft.session

import graft.SparkTestBase
import graft.core.SetOps
import graft.mapreduce.{FunctorRegistry, LossyEchoFunctor}
import org.apache.spark.sql.functions._

class SessionSpec extends SparkTestBase {

  test("session dump → load round-trips; unknown role errors (replay.py:28-57)") {
    val s = new ChatSession(spark)
    s.append("system", "be helpful")
    s.append("user", "hi\nthere \"quoted\"")
    s.append("assistant", "hello")
    intercept[IllegalArgumentException](s.append("robot", "beep"))
    val path = java.nio.file.Files.createTempDirectory("sess")
      .resolve("session.json").toString
    s.dump(path)
    val loaded = ChatSession.load(spark, path).collect()
    assert(loaded.length == 3)
    assert(loaded.map(_.getAs[String]("role")).toSet ==
      Set("system", "user", "assistant"))
    // corrupt role fails on load
    val badPath = java.nio.file.Files.createTempDirectory("sess")
      .resolve("bad.json").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(badPath),
      """[{"role": "wizard", "content": "x"}]""")
    intercept[IllegalArgumentException](ChatSession.load(spark, badPath))
  }

  test("U1: union of chunk frames, last occurrence wins (reader.py:194-207)") {
    import spark.implicits._
    val a = Seq(("p", 0, 1, "old", 0), ("p", 1, 2, "keep", 0))
      .toDF("path", "start", "end", "content", "specOrd")
    val b = Seq(("p", 0, 1, "new", 1), ("q", 0, 1, "other", 1))
      .toDF("path", "start", "end", "content", "specOrd")
    val merged = SetOps.unionLastWins(Seq(a, b))
      .orderBy("path", "start")
      .select("path", "start", "content").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(merged.toSeq == Seq(("p", 0, "new"), ("p", 1, "keep"), ("q", 0, "other")))
  }

  test("F6 shorten: word-safe truncation with placeholder") {
    import graft.core.PyText
    assert(PyText.shorten("short text", 100) == "short text")
    assert(PyText.shorten("a   b\n c", 100) == "a b c") // whitespace collapse
    val out = PyText.shorten("one two three four five six seven", 20)
    assert(out.length <= 20 && out.endsWith(" [...]"))
  }

  test("M7: watermarked windowed aggregation runs over the event stream") {
    // update mode emits rows as the watermark allows; over a static
    // source one batch yields the full aggregation state
    val out = graft.streaming.EventStream.withEvents(spark, sf()) { sdf =>
      graft.streaming.EventStream.runToMemory(spark,
        graft.streaming.EventStream.hourlyWindowed(sdf),
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
    assert(out.columns.toSet == Set("window", "event_type", "n", "sum_value"))
    assert(out.count() > 0)
    val total = out.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == graft.queries.Queries.tbl(spark, sf(), "events").count())
  }

  test("X4: functor registry resolves names, errors on unknown") {
    assert(FunctorRegistry("echo")("abc") == "abc")
    assert(FunctorRegistry("lossy-echo")("abcd") == "ac")
    FunctorRegistry.register("upper", (s: String) => s.toUpperCase)
    assert(FunctorRegistry("upper")("abc") == "ABC")
    intercept[NoSuchElementException](FunctorRegistry("gpt-12"))
  }

  test("X3: rate-limit retry loops until success, fixed wait, rethrows others") {
    var calls = 0
    var sleeps = Vector.empty[Long]
    val flaky = new graft.mapreduce.TextFunctor {
      override def apply(p: String): String = {
        calls += 1
        if (calls < 3) throw new RuntimeException("rate limit exceeded")
        p.toUpperCase
      }
    }
    val wrapped = graft.mapreduce.RetryOnRateLimit(flaky,
      isRateLimit = _.getMessage.contains("rate limit"),
      waitMs = 15000L, sleep = ms => sleeps :+= ms)
    assert(wrapped("ok") == "OK")
    assert(calls == 3)
    assert(sleeps == Vector(15000L, 15000L))
    val hardFail = graft.mapreduce.RetryOnRateLimit(
      (_: String) => throw new IllegalStateException("boom"),
      isRateLimit = _.getMessage.contains("rate limit"),
      sleep = _ => ())
    intercept[IllegalStateException](hardFail("x"))
  }

  test("replay render plan follows process_entry (replay.py:28-65)") {
    val s = new ChatSession(spark)
    s.append("system", "be [bold] helpful")
    s.append("user", "what is [red]x?")
    s.append("assistant", "# answer\n*markdown*")
    val p = java.nio.file.Files.createTempDirectory("rp")
      .resolve("sess.json").toString
    s.dump(p)
    val loaded = ChatSession.load(spark, p)

    val rendered = ChatSession.renderPlan(loaded, render = true)
    assert(rendered.map(d => (d.role, d.panelTitle, d.borderStyle, d.markdown)) ==
      Seq(("system", Some("System Message"), Some("red"), false),
        ("user", Some("User Input"), Some("cyan"), false),
        ("assistant", None, None, true)))
    assert(rendered(0).text == "be \\[bold] helpful") // panels escape markup
    assert(rendered(1).text == "what is \\[red]x?")
    assert(rendered(2).text == "# answer\n*markdown*") // Markdown: verbatim

    val plain = ChatSession.renderPlan(loaded, render = false)
    assert(plain(2).markdown == false)
    // unknown role raises, replay.py:56-57
    import spark.implicits._
    val badDf = Seq(("tool", "x")).toDF("role", "content")
    intercept[IllegalArgumentException](ChatSession.renderPlan(badDf))
  }

  test("richEscape reproduces rich.markup.escape") {
    import ChatSession.richEscape
    assert(richEscape("plain") == "plain")
    assert(richEscape("a [bold] b") == "a \\[bold] b")
    assert(richEscape("back\\ [red]x") == "back\\ \\[red]x")
    // a backslash RIGHT BEFORE the bracket doubles, then escapes
    assert(richEscape("pre\\[red]") == "pre\\\\\\[red]")
    assert(richEscape("trailing\\") == "trailing\\\\")
    assert(richEscape("no [Upper] case") == "no [Upper] case")
    assert(richEscape("[@click] and [/done] and [#ff0000]") ==
      "\\[@click] and \\[/done] and \\[#ff0000]")
    assert(richEscape("dbl [[red]]") == "dbl [\\[red]]")
    assert(richEscape("open [cyan") == "open [cyan") // never closed
    assert(richEscape("[a]b]") == "\\[a]b]") // lazy match
  }

  test("streaming sessionize matches the batch gaps-and-islands query") {
    val streaming = graft.streaming.EventStream.withEvents(spark, sf()) {
        sdf =>
          graft.streaming.EventStream.runToMemory(spark,
            graft.streaming.EventStream.sessionize(spark, sdf).toDF(),
            org.apache.spark.sql.streaming.OutputMode.Append())
      }
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = graft.queries.Queries.analytics("events_sessionize")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streaming.toSeq == batch.toSeq)
  }
}
