package graft.streaming

import graft.classify.TextClassifier
import graft.model.IrcParser
import graft.operators.WordCount
import graft.sinks.KVTableSink
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's live topology (`/root/reference/src/main/scala/TwitchStream/SparkRunner.scala:51-165`)
  * re-expressed on Structured Streaming: one source of raw IRC lines →
  * parse → tokenize/stop-words → two streaming aggregations (running
  * word counts, running predicted-category counts) → per-batch snapshot
  * sinks.
  *
  * Semantics parity (SURVEY.md §2.9):
  *  - running totals over ALL time, keys never expire (ST3) — Complete
  *    output mode, no watermark; Spark's StateStore replaces the
  *    hand-rolled `updateStateByKey` fold (and is sum-correct for any
  *    batch multiplicity, fixing §2.11.2);
  *  - per-batch snapshot-overwrite of the result table (ST6) —
  *    `foreachBatch` + `SaveMode.Overwrite` against a [[KVTableSink]];
  *  - micro-batch cadence via processing-time trigger (ST1);
  *  - checkpointing via `checkpointLocation` (ST7).
  */
object StreamingPipeline {

  final case class Config(
      channel: String,
      language: String = "english",
      minWordLength: Int = 3,
      batchInterval: String = "1 second",
      wordCountTtl: Int = 0,
      categoryCountTtl: Int = 0,
      // admission control for the twitch-irc source (0 = unlimited): caps
      // lines per micro-batch so a post-stall backlog drains across
      // bounded batches; see TwitchIrcMicroBatchStream
      maxLinesPerTrigger: Long = 0L,
      linesPerPartition: Int = 5000,
      // driver-side buffer bound (0 = unbounded): a full buffer parks the
      // reader thread, so TCP flow control pushes back on the server
      maxBufferedLines: Long = 0L)

  /** `twitch-irc` line stream with the Config's admission-control options
    * applied — the standard way to build the topology's source. Joins
    * `#channel` whether or not `cfg.channel` carries the `#`.
    */
  def readTwitchIrc(
      spark: org.apache.spark.sql.SparkSession,
      cfg: Config,
      host: String = "irc.chat.twitch.tv",
      port: Int = 6667,
      nick: String = "justinfan0",
      pass: String = ""): DataFrame =
    spark.readStream
      .format("twitch-irc")
      .option("host", host)
      .option("port", port.toString)
      .option("channel", "#" + cfg.channel.stripPrefix("#"))
      .option("nick", nick)
      .option("pass", pass)
      .option("maxLinesPerTrigger", cfg.maxLinesPerTrigger.toString)
      .option("linesPerPartition", cfg.linesPerPartition.toString)
      .option("maxBufferedLines", cfg.maxBufferedLines.toString)
      .load()

  /** Raw `value` lines → parsed message frame (columnar, codegen). */
  def parse(lines: DataFrame): DataFrame = IrcParser.parse(lines)

  /** Streaming running word counts (A3+A4): explode the tokens of the
    * batch tokenizer (`WordCount.cleanTokens`, native `clean_tokens`,
    * stop-words and the `minWordLength` gate applied before the explode),
    * unbounded `groupBy.count`. Catalyst plans partial + final hash
    * aggregation into the state store — the map-side combine the
    * reference hand-wrote with `reduceByKey` (`SparkRunner.scala:126`).
    */
  def wordCounts(messages: DataFrame, cfg: Config): DataFrame =
    messages
      .select(explode(WordCount.cleanTokens(col("text"), cfg.language, cfg.minWordLength))
        .alias("word"))
      .groupBy("word")
      .count()

  /** Streaming running category counts: classify → explode labels →
    * unbounded `groupBy.count` (`SparkRunner.scala:82-118`). With the
    * default keyword classifier the classify step is the native
    * `keyword_classify` expression, so the branch's plan is UDF-free;
    * an RPC-backed classifier falls back to the scalar UDF.
    */
  def categoryCounts(messages: DataFrame, clf: TextClassifier): DataFrame =
    messages
      .select(explode(TextClassifier.asColumn(clf)(col("text"))).alias("category"))
      .groupBy("category")
      .count()

  /** Start one running-total query writing `${channel}_<suffix>` snapshots
    * (the reference's Redis table naming, `SparkRunner.scala:140-158`).
    */
  def startSnapshotQuery(
      aggregated: DataFrame,
      sink: KVTableSink,
      table: String,
      ttlSeconds: Int,
      checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    aggregated.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.write(batch, table, SaveMode.Overwrite, ttlSeconds)
      }
      .start()

  /** Full topology: both branches from one line stream. Returns the two
    * queries (wordcount, categoryCount).
    */
  def start(
      lines: DataFrame,
      cfg: Config,
      clf: TextClassifier,
      sink: KVTableSink,
      checkpointRoot: String): (StreamingQuery, StreamingQuery) = {
    val messages = parse(lines)
    val trigger = Trigger.ProcessingTime(cfg.batchInterval)
    val wc = startSnapshotQuery(
      wordCounts(messages, cfg), sink, s"${cfg.channel}_wordcount",
      cfg.wordCountTtl, s"$checkpointRoot/wordcount", trigger)
    val cc = startSnapshotQuery(
      categoryCounts(messages, clf), sink, s"${cfg.channel}_categoryCount",
      cfg.categoryCountTtl, s"$checkpointRoot/categoryCount", trigger)
    (wc, cc)
  }
}
