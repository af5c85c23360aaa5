package graft

import java.nio.file.{Files, Path}

import graft.streaming.BookSnapshot

import org.scalatest.funsuite.AnyFunSuite

/** Main's driver-side snapshot load: which streams get a snapshot
  * (Runner's stream table decides) and the one wire-shape parser for
  * `snapshot_dir` files (FIXTURES §2.3). */
class MainSnapshotSpec extends AnyFunSuite {

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000"), Seq("570.80000000", "5.00000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  private def snapshotDir(body: String): Path = {
    val dir = Files.createTempDirectory("snapdir")
    Files.writeString(dir.resolve("bnbusdt.spot.snapshot.json"), body)
    dir
  }

  private val wire =
    """{"lastUpdateId":158,
      | "bids":[["570.90000000","3.10000000"],["570.80000000","5.00000000"]],
      | "asks":[["571.00000000","1.20000000"]]}""".stripMargin

  test("a tob-only config loads its symbol's snapshot from snapshot_dir") {
    val dir = snapshotDir(wire)
    assert(Main.loadSnapshots(Seq("binance.spot.bnbusdt.tob"), Some(dir.toString), None) ==
      Map("bnbusdt.spot" -> snapshot))
  }

  test("depth and tob of one symbol share one snapshot; trade needs none") {
    val dir = snapshotDir(wire)
    assert(Main.loadSnapshots(
      Seq("binance.spot.bnbusdt.depth", "binance.spot.bnbusdt.tob"),
      Some(dir.toString), None) == Map("bnbusdt.spot" -> snapshot))
    assert(Main.loadSnapshots(
      Seq("binance.spot.bnbusdt.trade", "binance.spot.bnbusdt.ohlcv"),
      Some(dir.toString), None).isEmpty)
  }

  test("a malformed snapshot file fails as a malformed depth snapshot") {
    Seq("""{"bids": [], "asks": []}""", """{"lastUpdateId":158,"bids":[""",
        """{"lastUpdateId":"abc","bids":[],"asks":[]}""",
        """{"lastUpdateId":158,"bids":"x","asks":[]}""",
        """{"lastUpdateId":158,"bids":[],"asks":{"a":["571.0","1.2"]}}""",
        """{"lastUpdateId":158,"bids":[158],"asks":[]}""").foreach { body =>
      val ex = intercept[IllegalArgumentException] {
        Main.loadSnapshots(Seq("binance.spot.bnbusdt.depth"),
          Some(snapshotDir(body).toString), None)
      }
      assert(ex.getMessage.contains("malformed depth snapshot"), ex.getMessage)
    }
  }
}
