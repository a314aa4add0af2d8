package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.classify.TextClassifier
import graft.model.IrcParser
import graft.operators.WordCount
import graft.sinks.{KVTableSink, ParquetKVSink}
import graft.streaming.StreamingPipeline
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run against the program's public entry points.
  *
  * `perfbench.Harness CONFIG.json` runs the chat topology (`mode: chat`)
  * or the query roster (`mode: roster`) as CONFIG says and writes what it
  * observed (set-up times, streaming progress records, sink writes, query
  * timings and, when tracing, jobs and stages) as one JSON document to
  * CONFIG's `out`. perfbench/run.py turns that into metrics.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new java.io.File(args(0)))
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("spin_ms_before") = Host.spinMs()
    cfg.get("mode").asText match {
      case "chat"   => Chat.run(cfg, out)
      case "roster" => Roster.run(cfg, out)
    }
    out("spin_ms_after") = Host.spinMs()
    out("heap_samples") = Heap.samples.toSeq
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    out("progress") = Rec.progress.asScala.map(json.readTree).toSeq
    out("sink_writes") = Rec.sinkWrites.asScala.toSeq
    out("jobs") = Rec.jobs.asScala.toSeq
    out("stages") = Rec.stages.asScala.toSeq
    json.writeValue(new java.io.File(cfg.get("out").asText), out)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** Sessions built the way the program's own entry points build theirs;
  * master, UI and scratch directories are deployment settings.
  */
object Sessions {
  private def base(cores: Int, work: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")

  /** As `graft.Main` configures the live app, deployed with one shuffle
    * (and state-store) partition per core, as the repo's other entry
    * points configure theirs: with Spark's default of 200, every trigger
    * commits 200 state-store partitions and takes 10-30 s on 4 cores. */
  def main(cores: Int, work: String): SparkSession = quiet(base(cores, work)
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .getOrCreate())

  /** As `graft.Bench` and `graft.Verify` configure the roster session. */
  def bench(cores: Int, work: String): SparkSession = quiet(base(cores, work)
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate())

  private def quiet(s: SparkSession): SparkSession = {
    s.sparkContext.setLogLevel("WARN")
    Rec.install(s)
    s
  }
}

/** Everything observed from outside the program, kept in memory until
  * the run ends. Streaming progress is always recorded (freshness is an
  * end-to-end metric); jobs and stages only while `tracing` is set.
  */
object Rec {
  val progress = new ConcurrentLinkedQueue[String]()
  val sinkWrites = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var tracing = false
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tracing) jobStarts.put(e.jobId, e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { s =>
          def prop(k: String): String = Option(s.properties).map(_.getProperty(k)).orNull
          jobs.add(Map(
            "job" -> e.jobId, "start_ms" -> s.time, "end_ms" -> e.time,
            "stages" -> s.stageIds, "ok" -> (e.jobResult == JobSucceeded),
            "unit" -> prop("perfbench.unit"),
            "query_id" -> prop("sql.streaming.queryId"),
            "batch_id" -> prop("streaming.sql.batchId")))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (tracing) {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages.add(Map(
            "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
            "start_ms" -> si.submissionTime.getOrElse(-1L),
            "end_ms" -> si.completionTime.getOrElse(-1L),
            "tasks" -> si.numTasks, "run_ms" -> m.executorRunTime,
            "gc_ms" -> m.jvmGCTime,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
            "failed" -> si.failureReason.isDefined))
        }
    })
  }

  def sinkWrite(chan: String, table: String, startMs: Double, endMs: Double): Unit =
    sinkWrites.add(Map("chan" -> chan, "table" -> table, "start_ms" -> startMs, "end_ms" -> endMs))
}

/** Times every snapshot write of the wrapped sink. */
final class TimedSink(inner: KVTableSink, chan: String) extends KVTableSink {
  override def write(df: DataFrame, table: String, mode: SaveMode, ttlSeconds: Int): Unit = {
    val t0 = Clock.ms()
    inner.write(df, table, mode, ttlSeconds)
    Rec.sinkWrite(chan, table, t0, Clock.ms())
  }
  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    inner.read(spark, table, schema)
}

object Clock {
  private val epochAtStartMs = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def ms(): Double = epochAtStartMs + (System.nanoTime() - nanoAtStart) / 1e6
}

/** Host speed: the best of five runs of a fixed single-threaded loop. */
object Host {
  @volatile private var sink = 0L
  def spinMs(): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }.min
}

/** Peak live heap: heap in use after a full collection, sampled outside
  * the timed windows at the end of the chat live phase (where state is
  * largest) and of every roster query. */
object Heap {
  private val bean = ManagementFactory.getMemoryMXBean
  private var peak = 0L
  val samples = mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = {
    System.gc()
    val used = bean.getHeapMemoryUsage.getUsed
    samples += used / 1048576.0
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / 1048576.0
}

object Chat {
  /** Start the topology on `#chan`, wait until both queries have consumed
    * `expect` lines, stop them. */
  def session(spark: SparkSession, cfg: JsonNode, chan: String, interval: String,
      maxLines: Long, expect: Long, heap: Boolean = false): Map[String, Any] = {
    val dir = s"${cfg.get("work").asText}/chat/$chan"
    var reader = spark.readStream.format("twitch-irc")
      .option("host", "127.0.0.1")
      .option("port", cfg.get("port").asText)
      .option("channel", s"#$chan")
      .option("nick", "perfbench")
      .option("pass", "oauth:perfbench")
    if (maxLines > 0) reader = reader.option("maxLinesPerTrigger", maxLines.toString)
    val pipeline = StreamingPipeline.Config(channel = "perfbench", batchInterval = interval)
    val startMs = Clock.ms()
    val (wc, cc) = StreamingPipeline.start(reader.load(), pipeline, TextClassifier.default,
      new TimedSink(new ParquetKVSink(s"$dir/tables"), chan), s"$dir/ckpt")
    def offset(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).flatMap(p => Option(p.sources.head.endOffset)).map(_.toLong).getOrElse(0L)
    val deadline = startMs + cfg.get("timeout_s").asDouble * 1000
    while ((offset(wc) < expect || offset(cc) < expect) && Clock.ms() < deadline &&
      wc.exception.isEmpty && cc.exception.isEmpty) Thread.sleep(5)
    val doneMs = Clock.ms()
    if (heap) Heap.sample()
    val consumed = math.min(offset(wc), offset(cc))
    val error = wc.exception.orElse(cc.exception).map(_.getMessage).orNull
    wc.stop()
    cc.stop()
    Map("chan" -> chan, "start_ms" -> startMs, "done_ms" -> doneMs, "expect" -> expect,
      "consumed" -> consumed, "error" -> error, "tables" -> s"$dir/tables",
      "queries" -> Map(wc.id.toString -> "wordcount", cc.id.toString -> "categoryCount"))
  }

  def run(cfg: JsonNode, out: mutable.Map[String, Any]): Unit = {
    val cores = cfg.get("cores").asInt
    val work = cfg.get("work").asText
    val liveLines = cfg.get("live_lines").asLong
    val drainLines = cfg.get("drain_lines").asLong
    val maxLines = cfg.get("max_lines_per_trigger").asLong
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asBoolean

    // set-up: a fresh session, the topology started, and the first
    // snapshot of both tables written; repeated, the median is reported
    var spark: SparkSession = null
    val setups = (0 until cfg.get("setup_rounds").asInt).map { r =>
      if (spark != null) spark.stop()
      val t0 = Clock.ms()
      spark = Sessions.main(cores, work)
      val s = session(spark, cfg, s"setup-$r", "0 seconds", 0L,
        cfg.get("setup_lines").asLong)
      s + ("label" -> "setup") + ("s" -> (Clock.ms() - t0) / 1000)
    }
    out("setup_s") = setups.map(_("s"))
    out("setup_sessions") = setups

    // measured sessions: the live phase (one open-loop session of
    // `seconds`), then the drain phase (backlog drains for at least
    // `seconds` / 2). A traced run traces its live session and alternates
    // untraced ("m") and traced ("t") drains, whose ratio is the tracing
    // overhead.
    val sessions = mutable.ArrayBuffer.empty[Map[String, Any]]
    def measured(phase: String, label: String, interval: String, cap: Long, expect: Long): Unit = {
      Rec.tracing = label == "t"
      sessions += session(spark, cfg, s"$phase-$label${sessions.size}", interval, cap, expect,
        heap = phase == "live") +
        ("label" -> label) + ("phase" -> phase)
      Rec.tracing = false
    }
    measured("live", if (trace) "t" else "m", cfg.get("live_interval").asText, 0L, liveLines)
    val labels = if (trace) Seq("m", "t") else Seq("m")
    val t0 = Clock.ms()
    while (sessions.count(_("phase") == "drain") < cfg.get("min_drains").asInt * labels.size ||
      Clock.ms() - t0 < seconds * 500 * labels.size) {
      val k = sessions.count(_("phase") == "drain")
      measured("drain", labels(k % labels.size), "0 seconds", maxLines, drainLines)
    }
    out("heap_mb_peak") = Heap.peakMb
    if (trace) {
      out("kernels") = kernels(spark, cfg.get("drain_file").asText)
      // scaling baseline: one drain on a single core
      spark.stop()
      spark = Sessions.main(1, work)
      sessions += session(spark, cfg, "drain-1core", "0 seconds", maxLines, drainLines) +
        ("label" -> "1core") + ("phase" -> "drain")
    }
    out("sessions") = sessions.toSeq
  }

  /** ns per line of each per-line kernel, evaluated through its public
    * column function over the workload's lines, repeated to at least
    * 100k rows and cached (median of 3). */
  def kernels(spark: SparkSession, linesFile: String): Map[String, Any] = {
    val base = spark.read.text(linesFile)
    val reps = math.max(1L, 100000L / base.count() + 1)
    val raw = base.crossJoin(spark.range(reps)).select("value").cache()
    val n = raw.count().toDouble
    val texts = raw.select(IrcParser.parseColumns(col("value")): _*).select("text").cache()
    texts.count()
    def nsPerLine(df: DataFrame): Double = {
      val rdd = df.queryExecution.toRdd
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); rdd.count(); System.nanoTime() - t0 }
      ts.sorted.apply(1) / n
    }
    val r = Map(
      "lines" -> n,
      "parse_ns_per_line" -> nsPerLine(raw.select(IrcParser.parseColumns(col("value")): _*)),
      "clean_tokens_ns_per_line" ->
        nsPerLine(texts.select(WordCount.cleanTokens(col("text"), "english"))),
      "classify_ns_per_line" ->
        nsPerLine(texts.select(TextClassifier.asColumn(TextClassifier.default)(col("text")))))
    raw.unpersist(true)
    texts.unpersist(true)
    r
  }
}

object Roster {
  private def clean(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def run(cfg: JsonNode, out: mutable.Map[String, Any]): Unit = {
    val cores = cfg.get("cores").asInt
    val work = cfg.get("work").asText
    val data = cfg.get("data").asText
    // a fixed sample of the roster: every `stride`-th query in name order
    val stride = cfg.get("stride").asInt
    val names = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % stride == 0 => n }
    out("queries") = names
    val seconds = cfg.get("seconds").asDouble

    // set-up: a fresh session and the warm-up queries graft.Bench runs
    var spark: SparkSession = null
    out("setup_s") = (0 until cfg.get("setup_rounds").asInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = Clock.ms()
      spark = Sessions.bench(cores, work)
      for (q <- Seq("q04_wordcount", "q01_tpch_q1"))
        SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count()
      clean(spark)
      (Clock.ms() - t0) / 1000
    }

    // untimed pass: every output written for the oracle comparison
    val verifyDir = cfg.get("verify_dir").asText
    out("verify") = names.map { n =>
      val t0 = Clock.ms()
      val err = try {
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$verifyDir/$n")
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      clean(spark)
      Map("query" -> n, "error" -> err, "s" -> (Clock.ms() - t0) / 1000)
    }
    out("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap

    def pass(label: String, p: Int): Seq[Map[String, Any]] = names.map { n =>
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.unit", s"$label:$p:$n")
      val t0 = Clock.ms()
      var t1 = t0
      val err = try {
        val df = SparkEntry.queries(n)(spark, data)
        t1 = Clock.ms()
        // toRdd.count(): Dataset.count() would let Catalyst prune columns
        df.queryExecution.toRdd.count()
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val t2 = Clock.ms()
      sc.setLocalProperty("perfbench.unit", null)
      val leaked = sc.getPersistentRDDs.size + org.apache.spark.sql.perfbench.CacheEntries.count(spark)
      // every pass runs the same queries: the first one's heap is enough
      if (p == 0) Heap.sample()
      clean(spark)
      Map("label" -> label, "pass" -> p, "query" -> n, "start_ms" -> t0, "end_ms" -> t2,
        "construct_s" -> (t1 - t0) / 1000, "action_s" -> (t2 - t1) / 1000,
        "leaked" -> leaked, "error" -> err)
    }
    // timed passes; a traced run alternates untraced ("m") and traced
    // ("t") passes so that both see the same warm-up
    val labels = if (cfg.get("trace").asBoolean) Seq("m", "t") else Seq("m")
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.ms()
    var p = 0
    while (p < cfg.get("min_passes").asInt * labels.size ||
      Clock.ms() - t0 < seconds * 1000 * labels.size) {
      val label = labels(p % labels.size)
      Rec.tracing = label == "t"
      runs ++= pass(label, p)
      p += 1
    }
    Rec.tracing = false
    out("heap_mb_peak") = Heap.peakMb
    out("runs") = runs.toSeq
  }
}
