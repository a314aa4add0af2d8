package graft.streaming

import graft.SparkTestBase
import graft.classify.{KeywordClassifier, Predictions}
import graft.functions.expressions.CleanTokensExpr
import graft.sinks.InMemoryKVSink
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ScalaUDF}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

/** Streaming-semantics tests (SURVEY.md §5.2): MemoryStream feeds the
  * real pipeline; running counts across multiple processAllAvailable
  * batches must reproduce the reference's `updateStateByKey` semantics —
  * key absent in a batch keeps its total, new key initializes,
  * multiplicities sum (including the >1-value-per-key case the
  * reference's fold gets wrong, SURVEY.md §2.11.2).
  */
class StreamingPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def line(user: String, chan: String, text: String) =
    s":$user!$user@$user.tmi.twitch.tv PRIVMSG #$chan :$text"

  test("running word counts across batches: absent keeps, new initializes, multiplicity sums") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "test")
    val ckpt = Files.createTempDirectory("graft-ckpt-wc").toString

    val query = StreamingPipeline.startSnapshotQuery(
      StreamingPipeline.wordCounts(StreamingPipeline.parse(input.toDF()), cfg),
      sink, "test_wordcount", 0, ckpt, Trigger.ProcessingTime("100 milliseconds"))

    def totals: Map[String, Long] = {
      query.processAllAvailable()
      sink.snapshot("test_wordcount").map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    input.addData(line("u1", "test", "hello hello world"))
    assert(totals == Map("hello" -> 2L, "world" -> 1L))

    // batch 2: "hello" absent → keeps its total; "strong" new; "world" sums
    input.addData(line("u2", "test", "world strong world"))
    assert(totals == Map("hello" -> 2L, "world" -> 3L, "strong" -> 1L))

    // batch 3: multiple messages in one batch, same key many times
    input.addData(
      line("u1", "test", "strong strong"),
      line("u3", "test", "strong hello"))
    assert(totals == Map("hello" -> 3L, "world" -> 3L, "strong" -> 4L))

    // the word branch's EXECUTED micro-batch plan tokenizes with the
    // native clean_tokens kernel — no interpreted HOF filter, no ScalaUDF
    val exec = org.apache.spark.sql.graftbridge.Bridge.lastExecutedPlan(query)
    val exprs = exec.collect { case node => node.expressions }.flatten.flatMap(_.collect {
      case e @ (_: CleanTokensExpr | _: ArrayFilter | _: ScalaUDF) => e.getClass.getSimpleName
    })
    assert(exprs.contains("CleanTokensExpr") && !exprs.exists(_ != "CleanTokensExpr"),
      exec.toString)
    query.stop()
  }

  test("streaming word counts equal the batch wordcount: case, whitespace, stop-words, code-point length") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "par")
    val ckpt = Files.createTempDirectory("graft-ckpt-parity").toString
    val fire = "\uD83D\uDD25" // one code point, two UTF-16 units
    val lines = Seq(
      line("u1", "par", "Hello HELLO hello World"), // upper case
      line("u2", "par", "spark\tstreaming   spark\t\tdata"), // tabs, space runs
      line("u3", "par", "this that with from the and"), // stop-words only
      line("u4", "par", "cat cats"), // 3 letters dropped, 4 kept
      line("u5", "par", s"${fire * 2} ${fire * 4}"), // 2 code points dropped, 4 kept
      line("u6", "par", "")) // empty message body
    val expected = Map(
      "hello" -> 3L, "world" -> 1L, "spark" -> 2L, "streaming" -> 1L, "data" -> 1L,
      "cats" -> 1L, fire * 4 -> 1L)

    val query = StreamingPipeline.startSnapshotQuery(
      StreamingPipeline.wordCounts(StreamingPipeline.parse(input.toDF()), cfg),
      sink, "par_wordcount", 0, ckpt, Trigger.ProcessingTime("100 milliseconds"))
    input.addData(lines: _*)
    query.processAllAvailable()
    val streamed = sink.snapshot("par_wordcount").map(r => r.getString(0) -> r.getLong(1)).toMap
    query.stop()
    assert(streamed == expected)

    val batch = graft.operators.WordCount
      .wordCounts(StreamingPipeline.parse(lines.toDF("value")), "text", cfg.language,
        cfg.minWordLength)
      .as[(String, Long)].collect().toMap
    assert(batch == expected)
  }

  test("checkpoint restart recovers running-count state (ST7)") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "rst")
    val ckpt = Files.createTempDirectory("graft-ckpt-restart").toString

    val q1 = StreamingPipeline.startSnapshotQuery(
      StreamingPipeline.wordCounts(StreamingPipeline.parse(input.toDF()), cfg),
      sink, "rst_wordcount", 0, ckpt, Trigger.ProcessingTime("100 milliseconds"))
    input.addData(line("u1", "rst", "alpha alpha beta"))
    q1.processAllAvailable()
    assert(sink.snapshot("rst_wordcount").map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("alpha" -> 2L, "beta" -> 1L))
    q1.stop()

    // a NEW query from the SAME checkpoint must resume the state store,
    // not restart counts from zero
    val q2 = StreamingPipeline.startSnapshotQuery(
      StreamingPipeline.wordCounts(StreamingPipeline.parse(input.toDF()), cfg),
      sink, "rst_wordcount", 0, ckpt, Trigger.ProcessingTime("100 milliseconds"))
    input.addData(line("u2", "rst", "beta gamma"))
    q2.processAllAvailable()
    assert(sink.snapshot("rst_wordcount").map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    q2.stop()
  }

  test("running category counts; keyword-classifier branch executes UDF-free (native keyword_classify)") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val clf = KeywordClassifier(Seq(
      "gaming" -> Seq("game", "play"),
      "music" -> Seq("song", "band")))
    val ckpt = Files.createTempDirectory("graft-ckpt-cc").toString

    val query = StreamingPipeline.startSnapshotQuery(
      StreamingPipeline.categoryCounts(StreamingPipeline.parse(input.toDF()), clf),
      sink, "test_categoryCount", 0, ckpt, Trigger.ProcessingTime("100 milliseconds"))

    input.addData(
      line("u1", "test", "what a great game to play"), // gaming: 2/2
      line("u2", "test", "this song is from my favourite band"), // music: 2/2
      line("u3", "test", "just a game"), // gaming: 1/2 = 0.5, NOT > 0.5
      line("u4", "test", "nothing relevant"))
    query.processAllAvailable()
    val got = sink.snapshot("test_categoryCount").map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("gaming" -> 1L, "music" -> 1L))

    // the category branch's EXECUTED micro-batch plan runs the native
    // keyword_classify expression — no ScalaUDF boundary anywhere
    val plan = org.apache.spark.sql.graftbridge.Bridge.lastExecutedPlan(query).toString
    assert(plan.contains("keyword_classify"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    query.stop()
  }

  test("Predictions.decode: threshold strict, duplicate scores keep their own indices") {
    val labels = IndexedSeq("a", "b", "c", "d")
    // duplicate 0.9 scores: reference's indexOf would decode both to "a"
    assert(Predictions.decode(Seq(0.9, 0.9, 0.5, 0.51), labels, 0.5) == Seq("a", "b", "d"))
    assert(Predictions.decode(Seq.empty, labels, 0.5).isEmpty)
  }

  test("full topology: both branches run from one line stream") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val clf = KeywordClassifier(Seq("gaming" -> Seq("game")))
    val ckptRoot = Files.createTempDirectory("graft-ckpt-full").toString
    val cfg = StreamingPipeline.Config(channel = "chan", batchInterval = "1 second")

    val (wc, cc) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    input.addData(line("u1", "chan", "nice game indeed"))
    wc.processAllAvailable()
    cc.processAllAvailable()
    val words = sink.snapshot("chan_wordcount").map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(words == Map("nice" -> 1L, "game" -> 1L, "indeed" -> 1L))
    val cats = sink.snapshot("chan_categoryCount").map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cats == Map("gaming" -> 1L))
    wc.stop(); cc.stop()
  }
}
