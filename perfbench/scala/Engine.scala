package perfbench

import java.io.{BufferedReader, File, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.GraftFunctions
import graft.sources.replay.{FileLogClient, KafkaLogClient, ReplayLog}

/** One span: a timed interval at a layer boundary. Times are epoch ms. */
final case class Span(id: String, parent: String, name: String,
    start: Double, end: Double)

/** The engine process of the benchmark: Spark runs here, the load
  * generator and broker double run in a child JVM ([[GenMain]]). Every
  * layer is observed from outside, through public calls and Spark's public
  * callbacks. Writes one raw JSON document; `perfbench/run.py` turns it
  * into metrics and checks the outputs. */
object EngineMain {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = cpuBean.getProcessCpuTime / 1e9
  /** Heap still reachable after a full collection, in MB. */
  private def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch ms with sub-ms resolution, for spans. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var tracing = false
  private val spanIds = new java.util.concurrent.atomic.AtomicLong()
  def span[T](name: String, parent: String)(body: String => T): T = {
    val id = s"b${spanIds.incrementAndGet()}"
    val t0 = nowMs
    try body(id) finally if (tracing) spans.add(Span(id, parent, name, t0, nowMs))
  }

  // ---- JSON writing ---------------------------------------------------------
  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case Raw(s) => s
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(js).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(js).mkString("[", ",", "]")
  }
  final case class Raw(json: String)

  // ---- the generator child --------------------------------------------------
  final class Child(args: Seq[String], work: File) extends AutoCloseable {
    private val proc = new ProcessBuilder((Seq(
      ProcessHandle.current().info().command().get(), "-Xmx1g", "-XX:-UsePerfData",
      s"-Djava.io.tmpdir=${new File(work, "tmp")}", "-cp", sys.props("java.class.path"),
      "perfbench.GenMain") ++ args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    private val out = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
    private val in = new PrintWriter(new OutputStreamWriter(proc.getOutputStream, UTF_8), true)
    def expect(tag: String): String = {
      val l = out.readLine()
      require(l != null && l.startsWith(tag + " "), s"generator: expected $tag, got $l")
      l.substring(tag.length + 1)
    }
    def send(s: String): Unit = in.println(s)
    override def close(): Unit = {
      try send("EXIT") catch { case _: Throwable => () }
      if (!proc.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly(); proc.waitFor()
      }
    }
  }

  // ---- recorded observations ------------------------------------------------
  /** One foreachBatch call: wall ms when the rows were held, and each
    * row's (window start ms, campaign, count, max created_ms). */
  final case class SinkBatch(episode: Int, batchId: Long, startMs: Double,
      heldMs: Long, endMs: Double, rows: Seq[(Long, Int, Long, Long)])
  private val sinkBatches = new ConcurrentLinkedQueue[SinkBatch]()
  private val progress = new ConcurrentLinkedQueue[String]()

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val behind = p.sources.headOption.flatMap(s =>
        Option(s.metrics.get("recordsBehindLatest"))).map(_.toLong).getOrElse(-1L)
      progress.add(js(Map(
        "run_id" -> p.runId.toString, "batch_id" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "records_behind" -> behind)))
    }
  }

  /** Task metrics, always: task CPU is an end-to-end metric. When tracing,
    * also job, stage and task spans and Catalyst phases. */
  final class Listener extends SparkListener with QueryExecutionListener {
    val tasks = new ConcurrentLinkedQueue[String]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val phases = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).getOrElse("?")
      jobStart.put(e.jobId, (e.time, parent))
      e.stageIds.foreach(s => stageJob.put(s, s"job${e.jobId}"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (tracing) Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        spans.add(Span(s"job${e.jobId}", parent, "exec.job", t0.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        spans.add(Span(s"stage${i.stageId}.${i.attemptNumber()}",
          Option(stageJob.get(i.stageId)).getOrElse("?"), "exec.stage",
          s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val parent = s"stage${e.stageId}.${e.stageAttemptId}"
      if (tracing) spans.add(Span(s"task${i.taskId}", parent, "exec.task",
        i.launchTime.toDouble, i.finishTime.toDouble))
      if (m != null) tasks.add(js(Map(
        "end_ms" -> i.finishTime, "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val id = s"qe${spanIds.incrementAndGet()}"
        spans.add(Span(id, "?", "catalyst.query",
          ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble))
        ph.foreach { case (name, s) =>
          spans.add(Span(s"$id.$name", id, s"catalyst.$name",
            s.startTimeMs.toDouble, s.endTimeMs.toDouble))
          phases.add(js(Map("phase" -> name, "start_ms" -> s.startTimeMs,
            "end_ms" -> s.endTimeMs)))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- the query --------------------------------------------------------------
  private val eventSchema = new StructType()
    .add("ad_id", IntegerType).add("event_type", StringType)
    .add("user_id", IntegerType).add("created_ms", LongType)

  /** `view` events joined to their campaign, counted per 10 s event-time
    * window and campaign with a 10 s watermark, in update mode. */
  def startQuery(spark: SparkSession, seed: Long, path: String, ckpt: String,
      maxRowsPerPartition: Option[Long], trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val ads = Shape.campaigns(seed).toSeq.zipWithIndex
      .map { case (c, ad) => (ad, c) }.toDF("ad_id", "campaign_id")
    val src = spark.readStream.format("graft-replay")
      .option("client", "kafka").option("path", path)
      .option("startingOffsets", "earliest")
    val raw = maxRowsPerPartition.fold(src)(n => src.option("maxRowsPerTrigger", n)).load()
    val agg = raw
      .select(from_json(col("value").cast("string"), eventSchema).as("e"), col("timestamp"))
      .select(col("e.ad_id"), col("e.event_type"), col("e.created_ms"), col("timestamp"))
      .where(col("event_type") === "view")
      .withWatermark("timestamp", "10 seconds")
      .join(broadcast(ads), "ad_id")
      .groupBy(window(col("timestamp"), "10 seconds"), col("campaign_id"))
      .agg(count(lit(1)).as("n"), max(col("created_ms")).as("max_created"))
      .select(unix_millis(col("window.start")).as("w"), col("campaign_id"),
        col("n"), col("max_created"))
    val sink: (DataFrame, Long) => Unit = (df, batchId) => {
      val t0 = nowMs
      val id = s"sink$batchId.${System.identityHashCode(df)}"
      df.sparkSession.sparkContext.setLocalProperty("perfbench.span", id)
      val rows = df.collect()
      val held = System.currentTimeMillis()
      df.sparkSession.sparkContext.setLocalProperty("perfbench.span", null)
      val end = nowMs
      sinkBatches.add(SinkBatch(episodeNow, batchId, t0, held, end,
        rows.toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))))
      if (tracing) spans.add(Span(id, "?", "streaming.sink_batch", t0, end))
    }
    agg.writeStream.outputMode("update").trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink).start()
  }

  // ---- workloads ----------------------------------------------------------------
  /** One episode: a fresh generator child with its broker, then a fresh
    * query. `setupS` is everything from the fork to the measured window. */
  final case class Episode(index: Int, seed: Long, startMs: Double, setupS: Double,
      windowStart: Double, windowEnd: Double, cpuS: Double, heapMb: Double, runId: String,
      gen: String, timed: Boolean)
  @volatile private var episodeNow = -1

  /** Live: open-loop load; the query triggers every second. The
    * window opens after `warmMs` and lasts `measureMs`; then the generator
    * stops and the query drains what is left, so the output is complete. */
  def liveEpisode(spark: SparkSession, ep: Int, seed: Long, work: File, parent: String,
      warmMs: Long, measureMs: Long, probe: Boolean): (Episode, Map[String, Any]) =
    span("episode", parent) { epSpan =>
      val s0 = nowMs
      val child = span("setup.generator", epSpan)(_ => new Child(Seq("--mode", "live",
        "--seed", seed.toString, "--dir", new File(work, s"ep$ep/broker").getPath), work))
      try {
        val path = child.expect("READY")
        val q = span("setup.query_start", epSpan)(_ => startQuery(spark, seed, path,
          new File(work, s"ep$ep/ckpt").getPath, None, Trigger.ProcessingTime(LiveTriggerMs)))
        child.send("GO")
        span("setup.warmup", epSpan)(_ => Thread.sleep(warmMs))
        val w0 = nowMs; val c0 = cpuS
        span("measure", epSpan)(_ => Thread.sleep(measureMs))
        val w1 = nowMs; val c1 = cpuS
        child.send("STOP")
        val done = child.expect("DONE")
        span("drain", epSpan)(_ => q.processAllAvailable())
        q.stop()
        val heap = liveHeapMb
        val layers =
          if (probe) layerProbe(spark, path, seed, work, epSpan) else Map.empty[String, Any]
        (Episode(ep, seed, s0, (w0 - s0) / 1e3, w0, w1, c1 - c0, heap, q.runId.toString, done,
          timed = true), layers)
      } finally child.close()
    }

  /** Catch-up: the generator preloads `records` into a fresh broker (setup);
    * the window is one AvailableNow drain of that backlog. */
  def catchupEpisode(spark: SparkSession, ep: Int, seed: Long, work: File, parent: String,
      records: Long, triggers: Int, timed: Boolean,
      probeIf: Double => Boolean): (Episode, Map[String, Any]) =
    span("episode", parent) { epSpan =>
      val s0 = nowMs
      val child = span("setup.generator", epSpan)(_ => new Child(Seq("--mode", "preload",
        "--seed", seed.toString, "--records", records.toString,
        "--dir", new File(work, s"ep$ep/broker").getPath), work))
      try {
        val path = child.expect("READY")
        val done = child.expect("DONE")
        val w0 = nowMs; val c0 = cpuS
        val q = span("measure", epSpan) { _ =>
          val q = startQuery(spark, seed, path, new File(work, s"ep$ep/ckpt").getPath,
            Some(records / Shape.Partitions / triggers), Trigger.AvailableNow())
          q.awaitTermination()
          q
        }
        val w1 = nowMs; val c1 = cpuS
        val heap = liveHeapMb
        val layers = if (probeIf((w1 - w0) / 1e3)) layerProbe(spark, path, seed, work, epSpan)
          else Map.empty[String, Any]
        (Episode(ep, seed, s0, (w0 - s0) / 1e3, w0, w1, c1 - c0, heap, q.runId.toString, done,
          timed), layers)
      } finally child.close()
    }

  // several triggers, so the per-trigger paths get hot too
  val WarmupRecords = 100000L
  val WarmupTriggers = 10
  val CatchupRecords = 300000L
  val CatchupTriggers = 3
  // a fixed interval above the trigger's own duration: with back-to-back
  // triggers each trigger's size follows the previous one's duration, and
  // that feedback turns small speed changes into large latency swings
  val LiveTriggerMs = 1000L

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    tracing = o("trace") == "1"
    val work = new File(o("work")).getAbsoluteFile
    val runSpan = "run"
    val runStart = nowMs
    val cpus = Runtime.getRuntime.availableProcessors().toString

    val (spark, sessionS) = {
      val t0 = nowMs
      // the session conf of graft.Bench, so lane numbers stay comparable
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, (nowMs - t0) / 1e3)
    }
    if (tracing) spans.add(Span("session", runSpan, "engine.session", runStart, nowMs))
    spark.streams.addListener(progressListener)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    if (tracing) spark.listenerManager.register(listener)

    // episode 0 warms the JIT on a small backlog drain and is not timed;
    // every episode gets its own seed, generator, broker and query
    val episodes = mutable.ArrayBuffer.empty[Episode]
    var probe: Map[String, Any] = Map.empty
    def record(r: (Episode, Map[String, Any])): Unit = {
      episodes += r._1
      if (r._2.nonEmpty) probe = r._2
    }
    def epSeed(k: Int): Long = seed * 1000003L + k
    def measuredS = episodes.filter(_.timed).map(e => e.windowEnd - e.windowStart).sum / 1e3
    episodeNow = 0
    record(catchupEpisode(spark, 0, epSeed(0), work, runSpan, WarmupRecords,
      WarmupTriggers, timed = false, probeIf = _ => false))
    workload match {
      case "kafka_live" =>
        // one window of `seconds`: each fresh query takes seconds to settle,
        // so a second live episode would cost more warm-up than it measures
        episodeNow = 1
        record(liveEpisode(spark, 1, epSeed(1), work, runSpan, warmMs = 5000,
          measureMs = (seconds * 1000).toLong, probe = tracing))
      case "kafka_catchup" =>
        // drains repeat until `seconds` of drain time have been measured,
        // and at least four times: the median drain steadies the rate, and
        // the pooled latency samples (about 500 result rows a drain)
        // support a p99
        var ep = 1
        while (ep <= 4 || measuredS < seconds) {
          episodeNow = ep
          record(catchupEpisode(spark, ep, epSeed(ep), work, runSpan, CatchupRecords,
            CatchupTriggers, timed = true,
            probeIf = d => tracing && ep >= 4 && measuredS + d >= seconds))
          ep += 1
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.streams.removeListener(progressListener)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    if (tracing) spans.add(Span(runSpan, "", "run", runStart, nowMs))

    val doc = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_s" -> sessionS, "peak_rss_mb" -> rssMb,
      "episodes" -> episodes.map(e => Map(
        "index" -> e.index, "seed" -> e.seed, "start_ms" -> e.startMs, "setup_s" -> e.setupS,
        "window" -> Seq(e.windowStart, e.windowEnd), "cpu_s" -> e.cpuS,
        "heap_live_mb" -> e.heapMb,
        "run_id" -> e.runId, "timed" -> e.timed, "gen" -> Raw(e.gen))),
      "sink" -> sinkBatches.asScala.map(b => Map(
        "episode" -> b.episode, "batch_id" -> b.batchId, "start_ms" -> b.startMs,
        "held_ms" -> b.heldMs, "end_ms" -> b.endMs, "rows" -> b.rows)),
      "progress" -> progress.asScala.map(Raw),
      "tasks" -> listener.tasks.asScala.map(Raw),
      "phases" -> listener.phases.asScala.map(Raw),
      "spans" -> spans.asScala.map(s => Seq(s.id, s.parent, s.name, s.start, s.end)),
      "probe" -> probe)
    val f = new File(o("out"))
    java.nio.file.Files.writeString(f.toPath, js(doc))
    spark.stop()
  }

  // ---- direct layer probes (traced run only) --------------------------------------
  /** Times single layers in isolation: a single-thread wire fetch drain of
    * the broker's log, a file-log drain of the same records written with
    * `ReplayLog.writePartitionFile`, and graft's native functions per row. */
  def layerProbe(spark: SparkSession, path: String, seed: Long, work: File,
      parent: String): Map[String, Any] = span("probe", parent) { probeSpan =>
    val client = new KafkaLogClient(path)
    val parts = 0 until Shape.Partitions
    val ends = parts.map(p => p -> client.endOffset(p)).toMap
    var wireRecords = 0L; var wireBytes = 0L
    val wireS = span("replay.wire.fetch_drain", probeSpan) { _ =>
      val t0 = System.nanoTime()
      parts.foreach { p =>
        val fr = client.openFrames(p, 0L, needKey = true, needValue = true)
        try {
          while (fr.readFrameBefore(ends(p))) {
            wireRecords += 1; wireBytes += fr.value.length
          }
        } finally fr.close()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // the same records, regenerated from the episode's seed, into a file log
    val logDir = new File(work, "probe-log").getPath
    val gen = new RecordGen(seed)
    val byPart = parts.map(_ => mutable.ArrayBuffer.empty[Row])
    (0 until (wireRecords / Shape.RecordsPerCall).toInt).foreach { k =>
      gen.batch(k * Shape.TickMs, k * Shape.TickMs).foreach { case (key, v, ts) =>
        byPart(k % Shape.Partitions) += Row(key, v, ts * 1000L) }
    }
    parts.foreach(p => ReplayLog.writePartitionFile(logDir, p, byPart(p).iterator))
    val file = new FileLogClient(logDir)
    var logRecords = 0L
    val logS = span("replay.log.read_drain", probeSpan) { _ =>
      val t0 = System.nanoTime()
      parts.foreach { p =>
        val end = file.endOffset(p)
        val fr = file.openFrames(p, 0L, needKey = true, needValue = true)
        try { var i = 0L; while (i < end) { fr.readFrame(); i += 1 } } finally fr.close()
        logRecords += end
      }
      (System.nanoTime() - t0) / 1e9
    }
    Map("wire_records" -> wireRecords, "wire_bytes" -> wireBytes, "wire_s" -> wireS,
      "log_records" -> logRecords, "log_s" -> logS,
      "functions" -> span("functions", probeSpan)(_ => functionProbe(spark)))
  }

  /** ns per row of graft native functions: select-into-`noop` over a cached
    * input, minus a select of the same columns through a trivial expression
    * with the same kind of output (so both read the same cached columns and
    * write one scalar); each the fastest of three passes after a warm one. */
  def functionProbe(spark: SparkSession): Map[String, Double] = {
    val rows = 1000000L
    val schema = """{"type":"record","name":"E","fields":[{"name":"user_id","type":"long"},{"name":"cents","type":"long"}]}"""
    def vec(f: Column => Column) = transform(sequence(lit(0), lit(15)), f)
    val id = col("id")
    val input = spark.range(rows).select(
      vec(i => (i * id + i) % 256).cast("array<int>").as("ints"),
      vec(i => (i + id) / 7.0).as("a"), vec(i => (i * 3 - id) / 5.0).as("b"),
      GraftFunctions.avro_encode(struct(id.as("user_id"), (id * 7).as("cents")), schema)
        .as("avro")).cache()
    input.count()
    def fastestNs(c: Column): Double = (0 to 3).map { _ =>
      val t0 = System.nanoTime()
      input.select(c).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0).toDouble
    }.tail.min
    def nsRow(fn: Column, trivial: Column): Double = (fastestNs(fn) - fastestNs(trivial)) / rows
    try Map(
      "pack_bytes" -> nsRow(GraftFunctions.pack_bytes(col("ints")), size(col("ints"))),
      "l2_dist" -> nsRow(GraftFunctions.l2_dist(col("a"), col("b")),
        (size(col("a")) + size(col("b"))).cast("double")),
      "avro_decode" -> nsRow(GraftFunctions.avro_decode(col("avro"), schema),
        length(col("avro"))))
    finally input.unpersist()
  }
}
