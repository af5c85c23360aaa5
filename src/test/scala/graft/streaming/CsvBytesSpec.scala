package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** The bytes the service's CSV sinks write, pinned through
  * `Runner.startWithSinks`: depth levels that are present but
  * malformed on the wire (dropped or nulled exactly as `from_json`
  * leaves them, a level without its quantity skipped), the
  * top-of-book quotes over the same tape, and the ohlcv candles'
  * decimal, double and long columns. */
class CsvBytesSpec extends SparkSpec {

  private val nl = System.lineSeparator

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def csv(lines: String*): String = lines.map(_ + nl).mkString

  /** Runs `events` over `tape` (one file under `dir`) to the end of the
    * tape and returns each stream's CSV bytes, keyed by kind. */
  private def run(dir: String, tape: Seq[String], events: Seq[String],
      kinds: Seq[String], snaps: Map[String, BookSnapshot]): Map[String, String] = {
    val fixtures = tmp("csvbytesfix")
    val out = tmp("csvbytes")
    Files.createDirectories(fixtures.resolve(dir))
    Files.write(fixtures.resolve(dir).resolve("m.jsonl"), tape.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1727784001000L))
    val qs = Runner.startWithSinks(spark, StreamConfig(events, out.toString), source, snaps,
      checkpointRoot = tmp("csvbytesckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))
    kinds.map(k => k -> new String(
      Files.readAllBytes(out.resolve(s"bnbusdt.spot.$k.csv")), UTF_8)).toMap
  }

  // snapshot lastUpdateId=158; the bridge [156,159] syncs, then every
  // delta carries one side that is present but not an array of
  // [price, qty] string pairs
  private def depthLine(u0: Long, b: String, a: String): String =
    s"""{"e":"depthUpdate","E":${1727784000000L + u0},"s":"BNBUSDT","U":$u0,"u":${u0 + 1},"b":$b,"a":$a}"""

  private val ask = """[["571.20000000","1.00000000"]]"""
  private val bid = """[["570.20000000","4.00000000"]]"""
  private val malformedTape = Seq(
    """{"e":"depthUpdate","E":1727784000156,"s":"BNBUSDT","U":156,"u":159,"b":[["571.00000000","1.50000000"]],"a":[["571.10000000","2.00000000"]]}""",
    depthLine(160, "\"570.50000000\"", ask), // a string
    depthLine(162, """{"p":"570.50000000","q":"1.0"}""", ask), // an object
    depthLine(164, "5", ask), // a number
    depthLine(166, "[]", ask), // empty
    depthLine(168, "[[570.3,2]]", ask), // numbers, not strings
    depthLine(170, "[null]", ask), // a null level
    depthLine(172, bid, "\"x\""),
    depthLine(174, bid, """[null,["571.30000000","1.00000000","extra"]]"""))

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  test("malformed level arrays reach the depth and tob CSVs as the parse leaves them") {
    val got = run("bnbusdt.spot.depth", malformedTape,
      Seq("binance.spot.bnbusdt.depth", "binance.spot.bnbusdt.tob"), Seq("depth", "tob"),
      Map("bnbusdt.spot" -> snapshot))
    // the string, object and number sides drop their whole message (the
    // concat of a null array is null); [] adds no level, [[570.3,2]]
    // keeps the number text, a null level renders empty fields
    assert(got("depth") == csv(
      "timestamp,local_timestamp,side,price,quantity,is_snapshot",
      "1727784000999,1727784000999,ask,571.00000000,1.20000000,True",
      "1727784000999,1727784000999,bid,570.90000000,3.10000000,True",
      "1727784000156,1727784001000,ask,571.10000000,2.00000000,False",
      "1727784000156,1727784001000,bid,571.00000000,1.50000000,False",
      "1727784000156,1727784001000,ask,571.10000000,2.00000000,False",
      "1727784000156,1727784001000,bid,571.00000000,1.50000000,False",
      "1727784000166,1727784001000,ask,571.20000000,1.00000000,False",
      "1727784000168,1727784001000,ask,571.20000000,1.00000000,False",
      "1727784000168,1727784001000,bid,570.3,2,False",
      "1727784000170,1727784001000,ask,571.20000000,1.00000000,False",
      "1727784000170,1727784001000,bid,,,False",
      "1727784000174,1727784001000,ask,,,False",
      "1727784000174,1727784001000,ask,571.30000000,1.00000000,False",
      "1727784000174,1727784001000,bid,570.20000000,4.00000000,False"))
    // the book folds each side on its own: a malformed side adds nothing,
    // the other side of its message still applies
    assert(got("tob") == csv(
      "timestamp,local_timestamp,best_bid,best_bid_qty,best_ask,best_ask_qty,spread,bid_levels,ask_levels",
      "1727784000999,1727784000999,570.90000000,3.10000000,571.00000000,1.20000000,0.10000000,1,1",
      "1727784000156,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,2",
      "1727784000156,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,2",
      "1727784000160,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3",
      "1727784000162,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3",
      "1727784000164,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3",
      "1727784000166,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3",
      "1727784000168,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,3,3",
      "1727784000170,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,3,3",
      "1727784000172,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,4,3",
      "1727784000174,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,4,4"))
  }

  // a level without its quantity: both the depth explode and the book
  // fold skip the level; the other side of its message still applies
  private val shortLevelTape = malformedTape.take(2) :+
    depthLine(162, """[["570.40000000"]]""", ask)

  test("a level without a quantity is skipped by the depth and tob streams") {
    val got = run("bnbusdt.spot.depth", shortLevelTape,
      Seq("binance.spot.bnbusdt.depth", "binance.spot.bnbusdt.tob"), Seq("depth", "tob"),
      Map("bnbusdt.spot" -> snapshot))
    assert(got("depth") == csv(
      "timestamp,local_timestamp,side,price,quantity,is_snapshot",
      "1727784000999,1727784000999,ask,571.00000000,1.20000000,True",
      "1727784000999,1727784000999,bid,570.90000000,3.10000000,True",
      "1727784000156,1727784001000,ask,571.10000000,2.00000000,False",
      "1727784000156,1727784001000,bid,571.00000000,1.50000000,False",
      "1727784000156,1727784001000,ask,571.10000000,2.00000000,False",
      "1727784000156,1727784001000,bid,571.00000000,1.50000000,False",
      "1727784000162,1727784001000,ask,571.20000000,1.00000000,False"))
    assert(got("tob") == csv(
      "timestamp,local_timestamp,best_bid,best_bid_qty,best_ask,best_ask_qty,spread,bid_levels,ask_levels",
      "1727784000999,1727784000999,570.90000000,3.10000000,571.00000000,1.20000000,0.10000000,1,1",
      "1727784000156,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,2",
      "1727784000156,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,2",
      "1727784000160,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3",
      "1727784000162,1727784001000,571.00000000,1.50000000,571.00000000,1.20000000,0.00000000,2,3"))
  }

  // three windows: two buys in minute 0, a sell in minute 1 and a
  // sub-micro trade in minute 2 (its decimals print in E notation), then
  // a trade 20 minutes on that moves the watermark past all three
  private val base = 1727784000000L
  private val tradeTape = Seq(
    (base + 1000L, 1, "100.00000000", "2.00000000", false),
    (base + 2000L, 2, "110.50000000", "1.00000000", false),
    (base + 61000L, 3, "120.00000000", "4.00000000", true),
    (base + 121000L, 4, "0.00000100", "0.00000001", true),
    (base + 20 * 60000L, 5, "130.00000000", "1.00000000", false)
  ).map { case (ts, id, p, q, m) =>
    s"""{"e":"trade","E":$ts,"s":"BNBUSDT","t":$id,"p":"$p","q":"$q","T":$ts,"m":$m,"M":true}"""
  }

  test("ohlcv candles render decimals, doubles and longs as before") {
    val got = run("bnbusdt.spot.trade", tradeTape, Seq("binance.spot.bnbusdt.ohlcv"),
      Seq("ohlcv"), Map.empty)
    assert(got("ohlcv") == csv(
      "window_start_ms,side,low,high,volume,vwap,n_trades",
      "1727784120000,sell,0.000001000000000000,0.000001000000000000,1.0000000000E-8,0.0,1",
      "1727784060000,sell,120.000000000000000000,120.000000000000000000,4.000000000000000000,120.0,1",
      "1727784000000,buy,100.000000000000000000,110.500000000000000000,3.000000000000000000,103.5,2"))
  }
}
