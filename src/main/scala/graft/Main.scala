package graft

import graft.classify.{KeywordClassifier, TextClassifier}
import graft.sinks.ParquetKVSink
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession

/** CLI entry point — the reference's application surface
  * (`/root/reference/src/main/scala/TwitchStream/TwitchStream.scala:3-37`:
  * `channel batchSeconds language nick oauth`), wired to the Spark-native
  * topology: `twitch-irc` DSv2 source → parse/clean → running-count
  * aggregations → parquet KV snapshot tables. The `language` argument is
  * honored (the reference accepted and ignored it — SURVEY.md §2.11.4).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: graft.Main <#channel> <batchSeconds> <language> <nick> <oauth-pass> " +
          "[outDir=/tmp/graft-tables] [checkpointDir=/tmp/graft-checkpoints]")
      sys.exit(2)
    }
    val Array(channel, batchSeconds, language, nick, pass) = args.take(5)
    val outDir = if (args.length > 5) args(5) else "/tmp/graft-tables"
    val ckptDir = if (args.length > 6) args(6) else "/tmp/graft-checkpoints"

    val spark = SparkSession.builder()
      .appName(s"graft-$channel")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    // one shuffle partition per core unless set by the user: with the
    // default 200, every trigger of the small running-count shuffles
    // schedules 200 near-empty tasks
    if (!spark.conf.getAll.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toLong)

    val cfg = StreamingPipeline.Config(
      channel = channel.stripPrefix("#"),
      language = language,
      batchInterval = s"$batchSeconds seconds")
    val lines = StreamingPipeline.readTwitchIrc(spark, cfg, nick = nick, pass = pass)
    val (wc, cc) = StreamingPipeline.start(
      lines, cfg, TextClassifier.default, new ParquetKVSink(outDir), ckptDir)

    wc.awaitTermination()
    cc.awaitTermination()
  }
}
