package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, date_format, timestamp_millis}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.normalize.Fixtures

/** CLI orchestrator spec: stream resolution semantics (incl. the aster/
  * hyperliquid market rewrites, `stream.py:90-122`) and an end-to-end run
  * over fixture frame files producing both fan-out sinks. */
class StreamCliSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** A capture that drains in `batches` micro-batches: each WS file holds
    * `batches` blocks of 1000 frames (the source's pacing per batch), every
    * block the exchange's fixture frames padded with pong heartbeats, which
    * advance the offset but emit no rows; Hyperliquid gets one hour-file. */
  private def paddedCapture(batches: Int): String = {
    val root = tmp("cli_padded_frames")
    Seq("binance" -> Fixtures.binance, "aster" -> Fixtures.aster,
      "bybit" -> Fixtures.bybit, "okx" -> Fixtures.okx).foreach { case (ex, fx) =>
      val block = fx ++ Seq.fill(1000 - fx.size)("""{"op":"pong"}""")
      Files.write(Paths.get(s"$root/$ex.jsonl"),
        Seq.fill(batches)(block).flatten.mkString("\n").getBytes)
    }
    Files.createDirectories(Paths.get(s"$root/hyperliquid"))
    Files.write(Paths.get(s"$root/hyperliquid/hour1.json"),
      Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)
    root
  }

  /** `batchTimestampMs` of every micro-batch in a checkpoint's offset log,
    * read from the files themselves (line 1 the version, line 2 the batch
    * metadata as JSON). */
  private def batchTimestamps(ckpt: String): Map[Long, Long] = {
    val mapper = new ObjectMapper
    new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).map { f =>
        val meta = Files.readAllLines(f.toPath).get(1)
        f.getName.toLong -> mapper.readTree(meta).get("batchTimestampMs").asLong
      }.toMap
  }

  /** Runs the CLI and returns, per micro-batch id, how many classes Spark's
    * code generator compiled since the previous batch's progress event. */
  private def compilesPerBatch(args: StreamCli.CliArgs): Seq[(Long, Long)] = {
    val samples = new ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        samples.add((e.progress.batchId,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount)): Unit
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      StreamCli.run(spark, args)
      // progress events reach the listener bus asynchronously
      val committed = new java.io.File(s"${args.outdirRoot}/ckpt/commits")
        .listFiles().count(_.getName.forall(_.isDigit))
      val deadline = System.currentTimeMillis() + 10000
      while (samples.size < committed && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally spark.streams.removeListener(listener)
    val sorted = samples.asScala.toSeq.sortBy(_._1)
    sorted.zip(sorted.drop(1)).map { case ((_, c0), (id, c1)) => (id, c1 - c0) }
  }

  test("codegen: steady micro-batches compile a constant number of classes, whatever the union width") {
    // a literal that changes every trigger (the ingest stamp) would make
    // every branch of the union recompile every batch; batches 0 and 1
    // legitimately compile (the first plan, then the plan once the
    // Hyperliquid backfill is drained), so the guard starts at batch 2
    def steady(args: StreamCli.CliArgs): Seq[Long] = {
      val perBatch = compilesPerBatch(args)
      assert(perBatch.count(_._1 >= 2) >= 3, s"too few micro-batches: $perBatch")
      perBatch.collect { case (id, n) if id >= 2 => n }
    }
    val url = "jdbc:derby:memory:cli_codegen;create=true"
    def args(pairs: Seq[(String, String)], table: String) = StreamCli.CliArgs(
      streams = pairs.map { case (ex, mk) => s"$ex:$mk" }.mkString(","),
      framesRoot = paddedCapture(6), outdirRoot = tmp("cli_codegen_out"),
      triggerMs = 1000L, pgUrl = url, pgTable = table, noColor = true)
    val wide = steady(args(StreamCli.allPairs, "liq_cg_wide"))
    val narrow = steady(args(Seq("binance" -> "usdt"), "liq_cg_narrow"))
    info(s"classes compiled per steady batch: 8 pairs $wide, 1 pair $narrow")
    // compared as means: a progress event the listener handles after the
    // next batch has started moves compiles between neighbouring batches,
    // never in or out of the steady run. A steady batch still compiles
    // the two stages holding a per-batch literal (the stamp and the JDBC
    // batch id), once on the driver and once in a task.
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val bound = 6.0
    assert(mean(wide) <= bound, s"8-pair union, classes per steady batch: $wide")
    assert(mean(narrow) <= bound, s"1-pair stream, classes per steady batch: $narrow")
    assert(mean(wide) <= mean(narrow) + 1,
      s"compiles grow with the union width: 8 pairs $wide vs 1 pair $narrow")
  }

  test("ts_ingest_ms is the batch's batchTimestampMs in CSV and JDBC; day follows it") {
    val out = tmp("cli_stamp_out")
    val url = "jdbc:derby:memory:cli_stamp;create=true"
    StreamCli.run(spark, StreamCli.CliArgs(all = true,
      framesRoot = paddedCapture(3), outdirRoot = out, triggerMs = 100L,
      pgUrl = url, pgTable = "liq_stamp", noColor = true))
    val stamps = batchTimestamps(s"$out/ckpt")
    val jdbc = spark.read.jdbc(url, "liq_stamp", new java.util.Properties())
      .select("batch_id", "ts_ingest_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(jdbc.map(_._1).distinct.length >= 3, "rows from several batches")
    jdbc.foreach { case (b, ts) =>
      assert(ts == stamps(b), s"batch $b row stamped $ts, offset log says ${stamps(b)}")
    }
    // CSV carries no batch id: per stamp, it holds exactly the rows the
    // JDBC sink holds for the batch with that timestamp
    val byStamp = jdbc.groupBy(_._2).map { case (ts, rs) => ts -> rs.length.toLong }
    val csv = spark.read.option("header", "true").csv(s"$out/csv")
      .select(col("ts_ingest_ms").cast("long").as("ts"),
        col("day").cast("string").as("day"))
    assert(csv.groupBy("ts").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == byStamp)
    assert(csv.filter(col("day") =!=
      date_format(timestamp_millis(col("ts")), "yyyy-MM-dd")).count() == 0)
  }

  test("resolveStreams: --all roster, ex:mk list, single pair, market rewrites") {
    import StreamCli._
    assert(resolveStreams(CliArgs(all = true)) == allPairs)
    assert(resolveStreams(CliArgs(all = true)).size == 8)
    // market rewrites on the list path
    assert(resolveStreams(CliArgs(streams = "aster:coin,hyperliquid:usdt,OKX:USDT")) ==
      Seq("aster" -> "usdt", "hyperliquid" -> "usdc", "okx" -> "usdt"))
    // single-pair path rewrites too
    assert(resolveStreams(CliArgs(exchange = Some("hyperliquid"), market = Some("usdt"))) ==
      Seq("hyperliquid" -> "usdc"))
    assert(resolveStreams(CliArgs(exchange = Some("binance"), market = Some("coin"))) ==
      Seq("binance" -> "coin"))
  }

  test("resolveStreams: malformed items and missing mode fail with usable errors") {
    import StreamCli._
    // an item without a colon used to throw scala.MatchError from Array
    // destructuring; now it names the bad item
    val e1 = intercept[IllegalArgumentException](
      resolveStreams(CliArgs(streams = "binance:usdt,binance")))
    assert(e1.getMessage.contains("'binance'"))
    val e2 = intercept[IllegalArgumentException](
      resolveStreams(CliArgs(streams = "okx:")))
    assert(e2.getMessage.contains("expected exchange:market"))
    // no --all/--streams/--exchange used to fail late as "unknown exchange: ''"
    val e3 = intercept[IllegalArgumentException](resolveStreams(CliArgs()))
    assert(e3.getMessage.contains("--all"))
  }

  test("parse: flags map to CliArgs") {
    val a = StreamCli.parse(Array("--streams", "binance:usdt", "--frames-root",
      "/x", "--outdir-root", "/y", "--trigger-ms", "250", "--dry-run"))
    assert(a.streams == "binance:usdt" && a.framesRoot == "/x" &&
      a.outdirRoot == "/y" && a.triggerMs == 250L && a.dryRun)
    intercept[IllegalArgumentException](StreamCli.parse(Array("--bogus")))
  }

  test("parse: sink/write/color/pg/hl flags (stream.py:15-44 surface)") {
    val a = StreamCli.parse(Array("--sink", "pg", "--no-write", "--no-color",
      "--pg-url", "jdbc:derby:memory:liq;create=true", "--pg-table", "liq2",
      "--pg-batch", "250", "--hl-no-catchup", "--outdir", "/z"))
    assert(a.sink == "pg" && a.noWrite && a.noColor && a.hlNoCatchup)
    assert(a.pgUrl.startsWith("jdbc:derby") && a.pgTable == "liq2" && a.pgBatch == 250)
    assert(a.outdir.contains("/z"))
    val e = intercept[IllegalArgumentException](
      StreamCli.parse(Array("--sink", "kafka")))
    assert(e.getMessage.contains("csv|pg|both"))
  }

  test("--sink pg --pg-url: rows land in the JDBC table, no CSV dir is written") {
    val framesRoot = tmp("cli_pg_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      Fixtures.binance.mkString("\n").getBytes)
    val out = tmp("cli_pg_out")
    val url = "jdbc:derby:memory:cli_pg;create=true"
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, sink = "pg", pgUrl = url, pgTable = "liquidations"))
    assert(csvRows == 0L && pgRows == 4L)
    assert(!Files.exists(Paths.get(s"$out/csv")))
    // the rows are really in Derby, with the unified schema columns
    val back = spark.read.jdbc(url, "liquidations", new java.util.Properties())
    assert(back.count() == 4)
    assert(back.columns.contains("exchange") && back.columns.contains("notional"))
  }

  test("--no-write: console only — neither sink directory is created") {
    val framesRoot = tmp("cli_nw_frames")
    Files.write(Paths.get(s"$framesRoot/okx.jsonl"),
      Fixtures.okx.mkString("\n").getBytes)
    val out = tmp("cli_nw_out")
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "okx:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, noWrite = true))
    assert(csvRows == 0L && pgRows == 0L)
    assert(!Files.exists(Paths.get(s"$out/csv")))
    assert(!Files.exists(Paths.get(s"$out/parquet")))
  }

  test("--hl-no-catchup: hour files older than the newest hour are skipped") {
    val framesRoot = tmp("cli_hl_frames")
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    val old = Paths.get(s"$framesRoot/hyperliquid/hour1.json")
    // hour1 carries the ETH self-liq fill (lines 1-2); hour2 skips line 3
    // (the ETH duplicate — it would be re-admitted either way once hour1 is
    // dropped, making the two modes indistinguishable) and carries only the
    // SOL + DOGE fills
    Files.write(old, Fixtures.hyperliquid.take(2).mkString("", "\n", "\n").getBytes)
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3 * 3600 * 1000L))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour2.json"),
      Fixtures.hyperliquid.drop(3).mkString("", "\n", "\n").getBytes)
    val out = tmp("cli_hl_out")
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "hyperliquid:usdc", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, hlNoCatchup = true))
    // catch-up would see 3 fills (ETH from hour1 + SOL/DOGE); tail-only
    // sees just hour2's two
    assert(csvRows == 2L && pgRows == 2L)
    val symbols = spark.read.parquet(s"$out/parquet")
      .select("symbol").collect().map(_.getString(0)).toSet
    assert(symbols == Set("SOLUSDC", "DOGEUSDC"), s"got $symbols")
  }

  test("--all: the full 8-pair roster runs as ONE streaming query over 5 sources") {
    val framesRoot = tmp("cli_all_frames")
    Seq("binance" -> Fixtures.binance, "aster" -> Fixtures.aster,
      "bybit" -> Fixtures.bybit, "okx" -> Fixtures.okx).foreach { case (ex, fx) =>
      Files.write(Paths.get(s"$framesRoot/$ex.jsonl"), fx.mkString("\n").getBytes)
    }
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour1.json"),
      Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)
    val out = tmp("cli_all_out")
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      all = true, framesRoot = framesRoot, outdirRoot = out, triggerMs = 100L))
    assert(csvRows > 0 && csvRows == pgRows)
    val pq = spark.read.parquet(s"$out/parquet")
    val exchanges = pq.select("exchange").distinct()
      .collect().map(_.getString(0)).toSet
    assert(exchanges == Set("binance", "bybit", "okx", "aster", "hyperliquid"))
    // the usdt/coin market split is carried through for the dual-market
    // exchanges (okx:coin legitimately yields no rows — the fixture
    // instruments are all USDT-suffixed and the OKX normalizer filters by
    // instId suffix, okx_adapter.py:15-21)
    val pairs = pq.select("exchange", "market").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(Set("binance" -> "usdt", "binance" -> "coin", "bybit" -> "usdt",
      "bybit" -> "coin", "okx" -> "usdt", "aster" -> "usdt",
      "hyperliquid" -> "usdc").subsetOf(pairs), s"got $pairs")
  }

  test("--candles/--vwap: dashboard queries run over the replay pipeline") {
    // candle emission needs event time to ADVANCE: frames span 3 hours so
    // the 1-minute watermark closes the first two hourly windows; the last
    // hour stays open (append mode emits closed candles only)
    val t0 = 1710000000000L
    def frame(tMs: Long, px: String) =
      s"""{"e":"forceOrder","E":$tMs,"o":{"s":"BTCUSDT","S":"SELL","q":"0.01","p":"$px","ap":"$px","l":"0.01","T":$tMs}}"""
    val frames = Seq(
      frame(t0, "62000.0"), frame(t0 + 20 * 60000L, "62100.0"),
      frame(t0 + 40 * 60000L, "61900.0"),                       // hour 0
      frame(t0 + 70 * 60000L, "63000.0"),
      frame(t0 + 110 * 60000L, "62500.0"),                      // hour 1
      frame(t0 + 125 * 60000L, "62800.0"))                      // hour 2 (open)
    val framesRoot = tmp("cli_dash_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      frames.mkString("\n").getBytes)
    val out = tmp("cli_dash_out")
    StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, noWrite = true, candles = true, candlesDaily = true,
      vwap = true))
    // two closed hourly candles, with the right OHLC shape
    val candles = spark.read.parquet(s"$out/candles")
    assert(candles.count() == 2, "expected the two watermark-closed candles")
    val h0 = candles.filter(col("open") === 62000.0).head()
    assert(h0.getAs[String]("symbol") == "BTCUSDT")
    assert(h0.getAs[Double]("high") == 62100.0 &&
      h0.getAs[Double]("low") == 61900.0 && h0.getAs[Double]("close") == 61900.0)
    assert(h0.getAs[Long]("cnt") == 3L)
    // streaming daily rollup: both closed hours land in one UTC day, so
    // ONE daily candle folds them — open from hour 0, close from hour 1
    // (hour 2 never closed), cnt/volume summed across both
    val daily = spark.read.parquet(s"$out/candles_daily")
      .withColumn("day", col("day").cast("string"))
    assert(daily.count() == 1, "expected one folded symbol-day")
    val d0 = daily.head()
    assert(d0.getAs[String]("symbol") == "BTCUSDT")
    assert(d0.getAs[Double]("open") == 62000.0 &&
      d0.getAs[Double]("high") == 63000.0 &&
      d0.getAs[Double]("low") == 61900.0 &&
      d0.getAs[Double]("close") == 62500.0)
    assert(d0.getAs[Long]("cnt") == 5L)
    // batch/stream parity: folding the hourly store in one batch pass
    // must give exactly what the incremental per-micro-batch fold built
    val batchFold = graft.ops.TimeWindows.dailyFold(
      spark.read.parquet(s"$out/candles_hourly").dropDuplicates("symbol", "hour"),
      "symbol")
    val cols = Seq("symbol", "day", "open", "high", "low", "close", "cnt", "volume")
    assert(daily.select(cols.head, cols.tail: _*).collect().toSet ==
      batchFold.select(cols.head, cols.tail: _*).collect().toSet,
      "incremental daily fold diverged from the one-shot batch fold")
    // VWAP updates emitted (one per micro-batch that touched the symbol);
    // the LAST update carries the full running aggregate over all 6 fills
    val vwap = spark.read.parquet(s"$out/vwap")
    assert(vwap.count() >= 1)
    val last = vwap.orderBy(col("n").desc).head()
    assert(last.getAs[String]("symbol") == "BTCUSDT" && last.getAs[Long]("n") == 6L)
    val px = Seq(62000.0, 62100.0, 61900.0, 63000.0, 62500.0, 62800.0)
    val expVwap = px.map(_ * 0.01).sum / (0.01 * px.size)
    assert(math.abs(last.getAs[Double]("vwap") - expVwap) < 1e-6)
  }

  test("end-to-end: fixture frames -> union of 3 streams -> partitioned CSV + parquet") {
    val framesRoot = tmp("cli_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      // a heartbeat in the middle: the source must drop it
      (Fixtures.binance.take(2) ++ Seq("""{"op":"ping"}""") ++ Fixtures.binance.drop(2))
        .mkString("\n").getBytes)
    Files.write(Paths.get(s"$framesRoot/okx.jsonl"),
      Fixtures.okx.mkString("\n").getBytes)
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour1.json"),
      Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)

    val out = tmp("cli_out")
    val (csvRows, pqRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt,okx:usdt,hyperliquid:usdc",
      framesRoot = framesRoot, outdirRoot = out, triggerMs = 100L))
    assert(csvRows > 0 && csvRows == pqRows)

    val pq = spark.read.parquet(s"$out/parquet")
    val exchanges = pq.select("exchange").distinct()
      .collect().map(_.getString(0)).toSet
    assert(exchanges == Set("binance", "okx", "hyperliquid"))
    // daily CSV rotation: the partition column is present and populated
    val csv = spark.read.option("header", "true").csv(s"$out/csv")
    assert(csv.columns.contains("day"))
    assert(csv.filter(col("day").isNull).count() == 0)
  }
}
