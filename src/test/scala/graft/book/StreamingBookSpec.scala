package graft.book

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource
import graft.streaming._

import scala.jdk.CollectionConverters._

/** Continuous top-of-book over the full streaming path: replay →
  * parse → book sync → state-folded ToB emission. */
class StreamingBookSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  test("topOfBookStream tracks best levels through snapshot and deltas") {
    val fixtures = tmp("tobfix")
    val dir = fixtures.resolve("bnbusdt.spot.depth")
    Files.createDirectories(dir)
    Files.write(dir.resolve("m.jsonl"), Seq(
      // bridge: sets bid 571.00, removes nothing; snapshot replays first
      """{"e":"depthUpdate","E":1727784000200,"s":"BNBUSDT","U":156,"u":159,"b":[["571.00000000","1.50000000"]],"a":[]}""",
      // tightens the ask side and removes the snapshot best bid level
      """{"e":"depthUpdate","E":1727784000300,"s":"BNBUSDT","U":160,"u":163,"b":[["570.90000000","0.00000000"]],"a":[["570.95000000","0.70000000"]]}"""
    ).asJava)
    val snapshot = BookSnapshot(158,
      bids = Seq(Seq("570.90000000", "3.10000000"), Seq("570.80000000", "5.00000000")),
      asks = Seq(Seq("571.10000000", "1.20000000")))
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1727784001000L))
    val raw = source.stream(spark, EventId.parse("binance.spot.bnbusdt.depth"))
    val synced = BookSynchronizer(
      Pipelines.depthRecords(raw), "spot", "bnbusdt", snapshot)
    val q = StreamingBook.topOfBookStream(synced, "spot", "bnbusdt")
      .writeStream.format("memory").queryName("tob_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tob_out")
      .select("timestamp", "best_bid", "best_ask", "spread", "bid_levels", "ask_levels")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getInt(5)))
    // emission: snapshot, bridge, bridge again (reference double-save), delta2
    assert(rows.length == 4)
    // after snapshot: book = snapshot levels
    assert(rows(0) == ((1727784000999L, "570.90000000", "571.10000000",
      "0.20000000", 2, 1)))
    // after bridge: new best bid 571.00
    assert(rows(1)._2 == "571.00000000" && rows(1)._4 == "0.10000000")
    assert(rows(2) == rows(1).copy()) // idempotent double-save
    // after delta2: bid 570.90 removed (was not best), ask tightened to 570.95
    // => crossed spread -0.05 faithfully reported
    assert(rows(3)._2 == "571.00000000" && rows(3)._3 == "570.95000000")
    assert(rows(3)._4 == "-0.05000000")
    assert(rows(3)._5 == 2 && rows(3)._6 == 2)
  }

  test("decimal-string ordering handles mixed magnitudes without parsing") {
    import StreamingBook.cmpDecimalStr
    assert(cmpDecimalStr("571.10", "572.00") < 0)
    assert(cmpDecimalStr("1000", "571.99999999") > 0) // longer int part wins
    assert(cmpDecimalStr("571", "571.5") < 0) // implicit zero fraction
    assert(cmpDecimalStr("571.50", "571.5") == 0) // trailing zeros equal
    assert(cmpDecimalStr("0.00010", "0.0001") == 0)
    assert(cmpDecimalStr("99.9", "100.0") < 0)
  }

  test("transit-reordered deltas with misleading wall clocks apply in id order") {
    // newer delta (u=110) stamped EARLIER wall-clock than older (u=105):
    // the book must apply id order, so price 100.0 ends at the newer qty
    val older = DepthRecord(10L, 995L, 101L, 105L,
      bids = """[["100.0","5.0"]]""", asks = "[]", is_snapshot = false)
    val newer = DepthRecord(11L, 990L, 106L, 110L,
      bids = """[["100.0","2.0"]]""", asks = "[]", is_snapshot = false)
    import spark.implicits._
    val out = StreamingBook.topOfBookStream(
      Seq(newer, older).toDF(), "spot", "bnbusdt").collect()
    assert(out.last.getAs[String]("best_bid_qty") == "2.0")
  }

  test("corrupt level arrays are dropped, not fatal (warn-and-drop parity)") {
    val st0 = StreamingBook.BookState(Map.empty, Map.empty)
    val rec = BookUpdate(1L, 2L, 10L, 11L,
      bids = Seq(Seq("100.0", "1.0"), Seq("101.0"), null, Seq(null, "2.0")),
      asks = null, is_snapshot = false)
    val (st1, tob) = StreamingBook.step(st0, rec)
    assert(st1.bids == Map("100.0" -> "1.0") && st1.asks.isEmpty)
    assert(tob.best_bid == "100.0")
  }

  test("pure step removes emptied levels and handles one-sided books") {
    val st0 = StreamingBook.BookState(Map.empty, Map.empty)
    val rec = BookUpdate(1L, 2L, 10L, 11L,
      bids = Seq(Seq("100.0", "1.0")), asks = Seq.empty, is_snapshot = false)
    val (st1, tob1) = StreamingBook.step(st0, rec)
    assert(tob1.best_bid == "100.0" && tob1.best_ask == "" && tob1.spread == "")
    val (st2, tob2) = StreamingBook.step(st1,
      rec.copy(bids = Seq(Seq("100.0", "0.0"))))
    assert(st2.bids.isEmpty && tob2.best_bid == "")
  }
}
