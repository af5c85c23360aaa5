package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** End-to-end streaming parity tests (SURVEY §2.4 s01-s03, s06-s07):
  * JSONL fixtures in the reference's wire format (FIXTURES.md §2)
  * replayed through the full pipeline into the reference's CSV layout.
  */
class StreamingPipelineSpec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def writeFixture(root: Path, stream: String, lines: Seq[String]): Unit = {
    val dir = root.resolve(stream)
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-0.jsonl"), lines.asJava)
  }

  // FIXTURES §2.1 wire shapes
  private val tradeLines = Seq(
    """{"result":null,"id":1}""", // subscription ack: dropped (filter e)
    """{"e":"trade","E":1727784000123,"s":"BNBUSDT","t":88123001,"p":"571.10000000","q":"0.25600000","T":1727784000120,"m":false,"M":true}""",
    """not json at all{{{""", // malformed: dropped, not failed
    """{"e":"trade","E":1727784000456,"s":"BNBUSDT","t":88123002,"p":"571.20000000","q":"1.00000000","T":1727784000450,"m":true,"M":true}""")

  // FIXTURES §2.4 sync scenario: snapshot lastUpdateId=158;
  // stale [150,155], bridge [156,159], then contiguous deltas.
  private val depthLines = Seq(
    """{"result":null,"id":1}""",
    """{"e":"depthUpdate","E":1727784000100,"s":"BNBUSDT","U":150,"u":155,"b":[["570.00000000","9.00000000"]],"a":[]}""",
    """{"e":"depthUpdate","E":1727784000200,"s":"BNBUSDT","U":156,"u":159,"b":[["571.00000000","1.50000000"],["570.90000000","0.00000000"]],"a":[["571.10000000","2.00000000"]]}""",
    """{"e":"depthUpdate","E":1727784000300,"s":"BNBUSDT","U":160,"u":163,"b":[],"a":[["571.20000000","3.00000000"]]}""")

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000"), Seq("570.80000000", "5.00000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  private def runStreams(events: Seq[String], snaps: Map[String, BookSnapshot],
      fixtures: Path, out: Path): Seq[(org.apache.spark.sql.streaming.StreamingQuery, Option[CsvAppendSink])] = {
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1727784001000L))
    val qs = Runner.startWithSinks(spark, StreamConfig(events, out.toString), source, snaps,
      checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))
    qs
  }

  test("s10 via Runner: configured tob stream writes quote csv") {
    val fixtures = tmp("fixtures")
    val out = tmp("csv")
    writeFixture(fixtures, "bnbusdt.spot.depth", depthLines) // tob reads depth tape
    runStreams(Seq("binance.spot.bnbusdt.tob"),
      Map("bnbusdt.spot" -> snapshot), fixtures, out)
    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.tob.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,best_bid,best_bid_qty," +
      "best_ask,best_ask_qty,spread,bid_levels,ask_levels")
    val rows = csv.tail.toList
    // one quote per synced record: snapshot, bridge x2, post-sync delta
    assert(rows.length == 4, s"got $rows")
    // snapshot-only book: best bid 570.90 x 3.10, best ask 571.00 x 1.20
    assert(rows.head ==
      "1727784000999,1727784000999,570.90000000,3.10000000," +
        "571.00000000,1.20000000,0.10000000,2,1")
    // after the bridge: bid 571.00 added, 570.90 removed (qty 0),
    // ask 571.10 added => crossed-out spread recomputed
    assert(rows(1).startsWith("1727784000200,1727784001000,571.00000000,1.50000000,571.00000000"))
  }

  test("s02/s06: trade stream replays to the reference CSV layout") {
    val fixtures = tmp("fixtures")
    val out = tmp("csv")
    writeFixture(fixtures, "bnbusdt.spot.trade", tradeLines)
    val qs = runStreams(Seq("binance.spot.bnbusdt.trade"), Map.empty, fixtures, out)
    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,id,price,quantity,side")
    // ack + malformed dropped; m:false => buy, m:true => sell; strings verbatim
    assert(csv.tail.toList == List(
      "1727784000123,1727784001000,88123001,571.10000000,0.25600000,buy",
      "1727784000456,1727784001000,88123002,571.20000000,1.00000000,sell"))
    assert(qs.head._2.get.batchesSaved >= 1)
  }

  test("s03/s05: depth stream syncs book and replays to CSV layout") {
    val fixtures = tmp("fixtures")
    val out = tmp("csv")
    writeFixture(fixtures, "bnbusdt.spot.depth", depthLines)
    runStreams(Seq("binance.spot.bnbusdt.depth"),
      Map("bnbusdt.spot" -> snapshot), fixtures, out)
    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.depth.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,side,price,quantity,is_snapshot")
    val rows = csv.tail.toList
    // snapshot first: ts = arrival-1 on both columns, asks before bids
    // ('ask' < 'bid' in the reference's sort_values(['timestamp','side'])),
    // array order within side, is_snapshot=true (spot_depth_etl.py:114-123)
    assert(rows.take(3) == List(
      "1727784000999,1727784000999,ask,571.00000000,1.20000000,True",
      "1727784000999,1727784000999,bid,570.90000000,3.10000000,True",
      "1727784000999,1727784000999,bid,570.80000000,5.00000000,True"))
    // stale delta [150,155] never emitted
    assert(!rows.exists(_.contains("570.00000000")))
    // bridge [156,159] emitted twice (reference falls through to
    // _save_update after the buffer replay) — qty 0 rows KEPT
    assert(rows.count(_ == "1727784000200,1727784001000,bid,570.90000000,0.00000000,False") == 2)
    assert(rows.count(_ == "1727784000200,1727784001000,bid,571.00000000,1.50000000,False") == 2)
    assert(rows.count(_ == "1727784000200,1727784001000,ask,571.10000000,2.00000000,False") == 2)
    // post-sync delta passes through once
    assert(rows.count(_ == "1727784000300,1727784001000,ask,571.20000000,3.00000000,False") == 1)
  }

  test("s04: gap in update ids crashes the stream (reference parity)") {
    val fixtures = tmp("fixtures")
    val out = tmp("csv")
    writeFixture(fixtures, "bnbusdt.spot.depth", Seq(
      """{"e":"depthUpdate","E":1,"s":"BNBUSDT","U":156,"u":159,"b":[["1","1"]],"a":[]}""",
      """{"e":"depthUpdate","E":2,"s":"BNBUSDT","U":165,"u":170,"b":[["2","1"]],"a":[]}"""))
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1000L))
    val qs = Runner.startWithSinks(spark, StreamConfig(Seq("binance.spot.bnbusdt.depth"), out.toString),
      source, Map("bnbusdt.spot" -> snapshot), checkpointRoot = tmp("ckpt").toString)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qs.head._1.processAllAvailable()
    }
    assert(ex.getMessage.contains("inconsistent update") ||
      Option(ex.getCause).exists(_.getMessage.contains("inconsistent update")))
    Runner.stopAll(qs.map(_._1))
  }

  test("s07: multiple streams run side by side and stop gracefully") {
    val fixtures = tmp("fixtures")
    val out = tmp("csv")
    writeFixture(fixtures, "bnbusdt.spot.trade", tradeLines)
    writeFixture(fixtures, "ethusdt.spot.trade", tradeLines)
    val qs = runStreams(
      Seq("binance.spot.bnbusdt.trade", "binance.spot.ethusdt.trade"),
      Map.empty, fixtures, out)
    assert(Files.exists(out.resolve("bnbusdt.spot.trades.csv")))
    assert(Files.exists(out.resolve("ethusdt.spot.trades.csv")))
    assert(qs.forall(!_._1.isActive))
  }

  test("s08: watermark dedup drops duplicate trade ids, keeps state bounded") {
    val fixtures = tmp("fixtures")
    val dup =
      """{"e":"trade","E":1727784000123,"s":"BNBUSDT","t":88123001,"p":"571.10000000","q":"0.25600000","T":1727784000120,"m":false,"M":true}"""
    writeFixture(fixtures, "bnbusdt.spot.trade", Seq(
      dup, dup, // exact duplicate delivery
      """{"e":"trade","E":1727784000456,"s":"BNBUSDT","t":88123002,"p":"571.20000000","q":"1.00000000","T":1727784000450,"m":true,"M":true}"""))
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1727784001000L))
    val raw = source.stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    val q = Pipelines.dedupedTrades(Pipelines.trades(raw))
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(88123001L, 88123002L))
  }

  test("s06: header written once across restarts of the sink file") {
    val out = tmp("csv")
    val sink = CsvAppendSink.forTrades(out.toString, "bnbusdt", "spot")
    import spark.implicits._
    val df = Seq(TradeRow(1L, 2L, 3L, "1.0", "2.0", "buy")).toDF()
    sink.writeBatch(df, 0)
    sink.writeBatch(df, 1)
    val csv = Files.readAllLines(sink.path).asScala
    assert(csv.count(_.startsWith("timestamp,")) == 1)
    assert(csv.size == 3)
  }
}
