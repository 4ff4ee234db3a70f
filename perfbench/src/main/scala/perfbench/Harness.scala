package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, StreamCli}
import graft.normalize.Normalizers
import graft.sources.WsReplay

/** Benchmark driver JVM. Every measurement is taken from outside the
  * program: through `StreamCli.run`, the public functions of each layer and
  * Spark's public listener APIs. The harness writes one raw JSON record
  * (`--result`); `run.py` turns it into metrics and checks the outputs.
  *
  * Modes:
  *   - `ingest`: `StreamCli.run --all --sink both` into CSV plus an
  *     in-memory Derby table, over the captures in `--frames`;
  *   - `batch`: the queries named in `--queries`, each built and counted
  *     once over the tables in `--data`;
  *   - `normcheck`: the batch normalizers over a capture, rows dumped for
  *     the reference test.
  *
  * `ready_ms` marks the end of set-up: the first micro-batch of the first
  * streaming query committed (session built, Derby schema bootstrapped), or
  * the session built and the warm-up reads done. */
object Harness {

  val mapper = new ObjectMapper

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "ingest" => Ingest.run(opts)
      case "batch" => Batch.run(opts)
      case "normcheck" => NormCheck.run(opts)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def writeJson(path: String, value: AnyRef): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(value))

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def rssPeakKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def session(master: String, runDir: String,
      confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Time spent inside the benchmark's own listener callbacks: the in-process
  * share of the tracing overhead. */
object Overhead {
  val nanos = new AtomicLong
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally nanos.addAndGet(System.nanoTime() - t0)
  }
}

/** Spark engine counters for the whole run, plus jobs per job group. */
final class EngineListener extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong
  val tasks = new AtomicLong; val taskMs = new AtomicLong
  val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = Overhead.timed {
    jobs.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => jobsByGroup.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Overhead.timed(stages.incrementAndGet(): Unit)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Overhead.timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def summary: java.util.Map[String, Any] = Harness.jmap(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get)
}

/** One record per successful action: what it was, when it ended, how long
  * it took, and its Catalyst phase times. */
final class ActionListener extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Overhead.timed {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      events.add(Harness.jmap(
        "func" -> funcName,
        "plan" -> qe.logical.nodeName,
        "end_ms" -> System.currentTimeMillis(),
        "ms" -> durationNs / 1e6,
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Ingest {
  import Harness._

  def run(o: Map[String, String]): Unit = {
    val runDir = o("run-dir")
    val frames = o("frames")
    val trace = o.getOrElse("trace", "0") == "1"
    val resultPath = o("result")
    val loadStart = loadAvg()
    val spark = session(o.getOrElse("master", "local[4]"), runDir, Seq(
      // StreamCli.main's session
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.caseSensitive" -> "true",
      "spark.ui.enabled" -> "false"))
    val sessionMs = System.currentTimeMillis()
    // progress of every query, keyed by run id; the measured query is the
    // last one started (after the optional warm-up run)
    val progress = new ConcurrentLinkedQueue[(java.util.UUID, String)]()
    val runIds = new ConcurrentLinkedQueue[java.util.UUID]()
    val warmup = o.get("warmup")
    @volatile var readyMs = 0L
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Overhead.timed {
          runIds.add(e.runId)
          if (runIds.size == (if (warmup.isDefined) 2 else 1))
            o.get("started-flag").foreach(f => Files.createFile(Paths.get(f)))
        }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Overhead.timed {
          // set-up ends when the first micro-batch has committed
          if (readyMs == 0L) readyMs =
            java.time.Instant.parse(e.progress.timestamp).toEpochMilli +
              e.progress.durationMs.get("triggerExecution")
          progress.add((e.progress.runId, e.progress.json))
        }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val pgUrl = "jdbc:derby:memory:bench;create=true"
    def cliArgs(framesRoot: String, out: String, table: String) =
      StreamCli.parse(Array("--all", "--sink", "both", "--frames-root", framesRoot,
        "--outdir-root", out, "--pg-url", pgUrl, "--pg-table", table, "--no-color"))
    // a long-running stream is past its cold start: first drain a small
    // capture in the same JVM (own sinks), then measure
    warmup.foreach(w => StreamCli.run(spark, cliArgs(w, s"$runDir/warm", "liq_warm")))
    val engine = new EngineListener
    val actions = new ActionListener
    if (trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(actions)
    }
    val t0 = System.currentTimeMillis()
    val (csvRows, pgRows) = StreamCli.run(spark, cliArgs(frames, s"$runDir/out", "liquidations"))
    val runEndMs = System.currentTimeMillis()
    val loadEnd = loadAvg()
    val measured = runIds.asScala.last
    // rows landed in Derby, with the micro-batch that committed each
    val conn = java.sql.DriverManager.getConnection(pgUrl)
    val batchIds = scala.collection.mutable.Set[Long]()
    val out = new PrintWriter(s"$runDir/derby_rows.tsv", "UTF-8")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "batch_id","exchange","market","symbol","side","qty","price",""" +
        """"notional","ts_exch_ms" FROM liquidations""")
      def s(i: Int): String = { val v = rs.getString(i); if (v == null) "\\N" else v }
      def d(i: Int): String = { val v = rs.getDouble(i); if (rs.wasNull) "\\N" else v.toString }
      while (rs.next()) {
        batchIds += rs.getLong(1)
        out.println(Seq(rs.getLong(1).toString, s(2), s(3), s(4), s(5), d(6), d(7),
          d(8), s(9)).mkString("\t"))
      }
    } finally { out.close(); conn.close() }
    // progress events arrive on the listener bus after the query stops:
    // wait until every committed batch has reported
    def measuredProgress = progress.asScala.collect { case (id, j) if id == measured =>
      mapper.readTree(j) }.toList
    def reported: Set[Long] = measuredProgress.map(_.get("batchId").asLong).toSet
    val deadline = System.currentTimeMillis() + 10000
    while (!batchIds.subsetOf(reported) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    if (trace) {
      // engine counters and actions of the streaming run only: the
      // normalizer timing below runs jobs of its own
      extra("engine") = engine.summary
      extra("actions") = actions.events.asScala.toList.asJava
      // source layer: bytes the driver-side frame index scanned vs capture
      val scanned = Seq("binance", "aster", "bybit", "okx").map { ex =>
        val p = s"$frames/$ex.jsonl"
        (WsReplay.indexFor(p).bytesScanned, new File(p).length)
      }
      extra("bytes_scanned") = scanned.map(_._1).sum
      extra("capture_bytes") = scanned.map(_._2).sum
      extra("normalize") = NormCheck.timeNormalizers(spark, frames)
      extra("ws_dead_letters") = NormCheck.wsDeadLetters(frames)
    }
    writeJson(resultPath, jmap(
      "session_ms" -> sessionMs, "ready_ms" -> readyMs,
      "run_start_ms" -> t0, "run_end_ms" -> runEndMs,
      "csv_rows" -> csvRows, "pg_rows" -> pgRows,
      "progress" -> measuredProgress.asJava,
      "rss_peak_kb" -> rssPeakKb(), "load_start" -> loadStart, "load_end" -> loadEnd,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "listener_ms" -> Overhead.nanos.get / 1e6,
      "trace" -> jmap(extra.toSeq: _*)))
    spark.stop()
  }
}

object Batch {
  import Harness._

  /** The 16 modules with a `queries` map, for attributing each query. */
  def modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries.keySet,
    "TimeWindows" -> graft.ops.TimeWindows.queries.keySet,
    "JsonOps" -> graft.ops.JsonOps.queries.keySet,
    "TextOps" -> graft.ops.TextOps.queries.keySet,
    "DedupOps" -> graft.ops.DedupOps.queries.keySet,
    "VectorOps" -> graft.ops.VectorOps.queries.keySet,
    "Multimodal" -> graft.ops.Multimodal.queries.keySet,
    "Extended" -> graft.ops.Extended.queries.keySet,
    "Curation" -> graft.ops.Curation.queries.keySet,
    "Formats" -> graft.ops.Formats.queries.keySet,
    "Bucketing" -> graft.ops.Bucketing.queries.keySet,
    "DataQuality" -> graft.ops.DataQuality.queries.keySet,
    "EventOps" -> graft.ops.EventOps.queries.keySet,
    "GraphOps" -> graft.ops.GraphOps.queries.keySet,
    "MarketOps" -> graft.ops.MarketOps.queries.keySet,
    "NormalizeOps" -> graft.normalize.NormalizeOps.queries.keySet)

  val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  def run(o: Map[String, String]): Unit = {
    val runDir = o("run-dir")
    val data = o("data")
    val trace = o.getOrElse("trace", "0") == "1"
    val resultPath = o("result")
    val cpus = o.getOrElse("cpus", "4")
    val loadStart = loadAvg()
    val spark = session(s"local[$cpus]", runDir, Seq(
      // graft.Bench's session
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.caseSensitive" -> "true",
      "spark.ui.enabled" -> "false"))
    val sessionMs = System.currentTimeMillis()
    tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
    val readyMs = System.currentTimeMillis()
    val engine = new EngineListener
    val actions = new ActionListener
    if (trace) spark.listenerManager.register(actions)
    // jobs per construction/action phase are counted by job group, so the
    // engine listener runs in both modes; it only bumps counters
    spark.sparkContext.addSparkListener(engine)
    val all = SparkEntry.queries
    val names = o("queries").split(",").toSeq
    val owner = modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
    val results = names.map { name =>
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      try {
        sc.setJobGroup(s"c:$name", name)
        val df: DataFrame = all(name)(spark, data)
        val tc = System.nanoTime()
        sc.setJobGroup(s"a:$name", name)
        val rows = df.count()
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        jmap("name" -> name, "module" -> owner.getOrElse(name, "?"), "ok" -> true,
          "rows" -> rows, "construct_s" -> (tc - t0) / 1e9,
          "action_s" -> (t1 - tc) / 1e9, "wall_s" -> (t1 - t0) / 1e9,
          "end_ms" -> System.currentTimeMillis())
      } catch {
        case e: Throwable =>
          sc.clearJobGroup()
          jmap("name" -> name, "module" -> owner.getOrElse(name, "?"), "ok" -> false,
            "error" -> String.valueOf(e.getMessage).take(300),
            "wall_s" -> (System.nanoTime() - t0) / 1e9)
      }
    }
    val loadEnd = loadAvg()
    // let the listener bus deliver the last job starts before reading groups
    Thread.sleep(300)
    results.foreach { r =>
      val n = r.get("name")
      def jobs(g: String) = Option(engine.jobsByGroup.get(s"$g:$n")).map(_.get).getOrElse(0L)
      r.put("construct_jobs", jobs("c")); r.put("action_jobs", jobs("a"))
    }
    Files.write(Paths.get(s"$runDir/oracle_sql.json"), mapper.writeValueAsBytes(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap.asJava))
    val traced =
      if (trace) jmap("actions" -> actions.events.asScala.toList.asJava,
        "engine" -> engine.summary)
      else jmap()
    writeJson(resultPath, jmap(
      "session_ms" -> sessionMs, "ready_ms" -> readyMs,
      "queries" -> results.asJava,
      "rss_peak_kb" -> rssPeakKb(), "load_start" -> loadStart, "load_end" -> loadEnd,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "listener_ms" -> Overhead.nanos.get / 1e6,
      "trace" -> traced))
    spark.stop()
  }
}

object NormCheck {
  import Harness._
  import org.apache.spark.sql.functions.col

  private def raw(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(col("value").as("raw"))

  /** The batch normalizer for each (exchange, market) pair of the roster
    * over its capture — the same calls `StreamCli.buildUnified` streams. */
  def normalized(spark: SparkSession, frames: String): Seq[(String, DataFrame)] =
    StreamCli.allPairs.map { case (ex, mk) =>
      val df = ex match {
        case "hyperliquid" => Normalizers.hyperliquid(
          spark.read.text(s"$frames/hyperliquid").select(col("value").as("raw")), mk)
        case "binance" => Normalizers.binance(raw(spark, s"$frames/$ex.jsonl"), mk)
        case "aster" => Normalizers.aster(raw(spark, s"$frames/$ex.jsonl"), mk)
        case "bybit" => Normalizers.bybit(raw(spark, s"$frames/$ex.jsonl"), mk)
        case "okx" => Normalizers.okx(raw(spark, s"$frames/$ex.jsonl"), mk)
      }
      s"$ex:$mk" -> df
    }

  private def lines(path: String): Long = {
    val f = new File(path)
    val files = if (f.isDirectory) f.listFiles().filter(_.isFile).toSeq else Seq(f)
    files.map(p => Files.lines(p.toPath).count()).sum
  }

  /** Per-exchange batch-normalizer time over the workload's captures, in
    * ms per thousand frames (one warm-up pass, then the timed pass). */
  def timeNormalizers(spark: SparkSession, frames: String): java.util.Map[String, Any] = {
    val pairs = normalized(spark, frames)
    pairs.foreach(_._2.count())
    val byEx = pairs.groupBy(_._1.split(":")(0))
    val m = new java.util.LinkedHashMap[String, Any]()
    byEx.foreach { case (ex, dfs) =>
      val path = if (ex == "hyperliquid") s"$frames/hyperliquid" else s"$frames/$ex.jsonl"
      val t0 = System.nanoTime()
      val rows = dfs.map(_._2.count()).sum
      val ms = (System.nanoTime() - t0) / 1e6
      m.put(ex, jmap("ms" -> ms, "frames" -> lines(path) * dfs.size, "rows" -> rows))
    }
    m
  }

  /** Non-control WS frames that are not valid JSON: dropped by the
    * normalizers' PERMISSIVE parse without a counter of their own. */
  def wsDeadLetters(frames: String): Long = {
    val m = new ObjectMapper
    Seq("binance", "aster", "bybit", "okx").map { ex =>
      val it = Files.lines(Paths.get(s"$frames/$ex.jsonl")).iterator().asScala
      it.count { l =>
        !WsReplay.isControlFrame(l) &&
          (try { m.readTree(l); false } catch { case _: Exception => true })
      }.toLong
    }.sum
  }

  def run(o: Map[String, String]): Unit = {
    val runDir = o("run-dir")
    val spark = session("local[2]", runDir, Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.caseSensitive" -> "true",
      "spark.ui.enabled" -> "false"))
    val out = new PrintWriter(o("out"), "UTF-8")
    try normalized(spark, o("frames")).foreach { case (_, df) =>
      df.select("exchange", "market", "symbol", "side", "qty", "price",
        "notional", "ts_exch_ms").collect().foreach { r =>
        out.println((0 until 8).map(i =>
          if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString("\t"))
      }
    } finally out.close()
    spark.stop()
  }
}
