package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** Event-time windowed streaming aggregation (OHLCV/VWAP) + the
  * observed-metrics counter. */
class StreamingAggSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  // two trades in minute 0, one in minute 1, one 20 minutes later so
  // the watermark finalizes the earlier windows
  private val base = 1727784000000L // aligned: 2024-10-01 12:00:00 UTC
  private val lines = Seq(
    (base + 1000L, 1, "100.00000000", "2.00000000", false),
    (base + 2000L, 2, "110.00000000", "1.00000000", false),
    (base + 61000L, 3, "120.00000000", "4.00000000", true),
    (base + 20 * 60000L, 4, "130.00000000", "1.00000000", false)
  ).map { case (ts, id, p, q, m) =>
    s"""{"e":"trade","E":$ts,"s":"BNBUSDT","t":$id,"p":"$p","q":"$q","T":$ts,"m":$m,"M":true}"""
  }

  test("streamingOhlcv emits finalized per-minute windows with exact vwap") {
    val fixtures = tmp("aggfix")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(base))
    val raw = source.stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    val q = Pipelines.streamingOhlcv(Pipelines.trades(raw))
      .writeStream.format("memory").queryName("ohlcv_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ohlcv_out")
      .selectExpr("window_start_ms", "side", "cast(low as string)",
        "cast(high as string)", "cast(volume as string)", "vwap", "n_trades")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).toDouble,
        r.getString(3).toDouble, r.getString(4).toDouble, r.getDouble(5),
        r.getLong(6)))
      .sortBy(t => (t._1, t._2))
    // minute-0 window: two buys, vwap = (100*2 + 110*1) / 3
    assert(rows.contains((base, "buy", 100.0, 110.0, 3.0, 310.0 / 3.0, 2L)))
    // minute-1 window: one sell
    assert(rows.contains((base + 60000L, "sell", 120.0, 120.0, 4.0, 120.0, 1L)))
    // the straggler window (base+20min) is NOT finalized: watermark
    // never advanced past its end
    assert(!rows.exists(_._1 == base + 20 * 60000L))
  }

  test("s09 via Runner: configured ohlcv stream writes candle csv") {
    val fixtures = tmp("runohlcv")
    val out = tmp("runohlcvout")
    val dir = fixtures.resolve("bnbusdt.spot.trade") // ohlcv reads the trade tape
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(base))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.ohlcv"), out.toString,
        sinkFormat = "csv"),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))
    val csv = Files.readAllLines(
      out.resolve("bnbusdt.spot.ohlcv.csv")).asScala.toList
    assert(csv.head ==
      "window_start_ms,side,low,high,volume,vwap,n_trades")
    // the two finalized windows (straggler window stays open)
    val body = csv.tail.sorted
    assert(body.length == 2, s"got $body")
    assert(body.head.startsWith(s"$base,buy,100") && body.head.endsWith(",2"))
    assert(body(1).startsWith(s"${base + 60000L},sell,120") &&
      body(1).endsWith(",1"))
  }

  test("ohlcv with parquet sink partitions candles by window date") {
    val fixtures = tmp("runohlcvpq")
    val out = tmp("runohlcvpqout")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(base))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.ohlcv"), out.toString,
        sinkFormat = "parquet"),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))
    val result = spark.read.parquet(out.resolve("bnbusdt.spot.ohlcv").toString)
    assert(result.columns.contains("ingest_date"))
    assert(result.count() == 2) // the two finalized windows
    assert(result.select("ingest_date").distinct().collect()
      .head.getDate(0).toString == "2024-10-01")
  }

  test("parquet sink writes date-partitioned output (scale path)") {
    val fixtures = tmp("pqfix")
    val out = tmp("pqout")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(base))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString,
        sinkFormat = "parquet"),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))
    val written = spark.read.parquet(out.resolve("bnbusdt.spot.trades").toString)
    assert(written.count() == 4)
    assert(written.columns.contains("ingest_date")) // partition column
    assert(written.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("observed metrics expose the total_messages counter") {
    val fixtures = tmp("obsfix")
    val out = tmp("obscsv")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(base))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    // listener delivery is async: poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (Runner.totalMessages(qs.head._1) < 4L &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    val total = Runner.totalMessages(qs.head._1)
    Runner.stopAll(qs.map(_._1))
    assert(total == 4L) // raw messages observed pre-filter
  }
}
