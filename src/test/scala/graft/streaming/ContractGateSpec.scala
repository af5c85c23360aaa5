package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** SURVEY §1.2 timestamp ingestion contract, enforced at the parse
  * boundary: a replay file carrying a negative-epoch E, a zero E, a
  * null-ts (missing E) row, and a non-numeric E lands ALL of them in
  * the quarantine — labeled, verbatim — with the valid batch
  * untouched, and valid + quarantined = every type-matching message
  * (the s20 accounting invariant). Until round 11 these classes were
  * documented as out-of-contract but nothing rejected them.
  */
class ContractGateSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def trade(e: String, t: Long, p: String): String =
    s"""{"e": "trade", "E": $e, "t": $t, "p": "$p", "q": "1.0", "m": false}"""

  test("trade path: out-of-contract timestamps quarantined, batch untouched") {
    val root = tmp("cg")
    val dir = root.resolve("BTCUSDT.spot.trade")
    Files.createDirectories(dir)
    val negEpoch = trade("-1000", 10L, "100.1")
    val zeroTs = trade("0", 11L, "100.2")
    val badTs = trade("\"yesterday\"", 12L, "100.3")
    val nullTs = """{"e": "trade", "t": 13, "p": "100.4", "q": "1.0", "m": false}"""
    val lines = Seq(
      trade("1700000000001", 1L, "99.9"),
      negEpoch,
      trade("1700000000002", 2L, "99.8"),
      zeroTs, badTs, nullTs,
      """{"result": null, "id": 1}""", // ack: not a violation, not a trade
      trade("1700000000003", 3L, "99.7"))
    Files.write(dir.resolve("replay.jsonl"), lines.asJava)

    val source = new Dsv2ReplaySource(root.toString, fixedArrivalMs = Some(42L))
    val gated = Pipelines.tradesGated(
      source.stream(spark, EventId.parse("binance.spot.BTCUSDT.trade")))
    val goodDir = tmp("cg-good").toString + "/rows"
    val badDir = tmp("cg-bad").toString + "/quarantine"
    val q = ContractGate.start(gated, goodDir, badDir, tmp("cg-ckpt").toString)
    q.awaitTermination(120000)

    val good = spark.read.parquet(goodDir)
    assert(good.columns.toSet == Set("timestamp", "local_timestamp", "id",
      "price", "quantity", "side", "batch_id"),
      "valid side must be TradeRow + the sink's batch stamp — no plumbing columns")
    val ids = good.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"batch must be exactly the in-contract trades: $ids")

    val bad = spark.read.parquet(badDir)
      .select("raw_line", "violation").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(bad == Set(
      (negEpoch, "ts_out_of_contract"),
      (zeroTs, "ts_out_of_contract"),
      (badTs, "ts_out_of_contract"),
      (nullTs, "missing_field")),
      s"every out-of-contract line must be quarantined verbatim with its label: $bad")

    // s20 accounting: valid + quarantined = every type-matching message
    // (the ack is another message type, not a violation)
    assert(ids.size + bad.size == lines.size - 1,
      "valid + quarantined must account for every trade message")
  }

  test("depth path: negative-epoch depthUpdate quarantined, valid record intact") {
    val root = tmp("cgd")
    val dir = root.resolve("BTCUSDT.spot.depth")
    Files.createDirectories(dir)
    def depth(e: String, fu: Long, lu: Long): String =
      s"""{"e": "depthUpdate", "E": $e, "U": $fu, "u": $lu,""" +
        """ "b": [["100.0", "1.0"]], "a": [["100.5", "2.0"]]}"""
    val negRow = depth("-5", 3, 4)
    Files.write(dir.resolve("replay.jsonl"),
      Seq(depth("1700000000001", 1, 2), negRow).asJava)

    val source = new Dsv2ReplaySource(root.toString, fixedArrivalMs = Some(42L))
    val gated = Pipelines.depthRecordsGated(
      source.stream(spark, EventId.parse("binance.spot.BTCUSDT.depth")))
    val goodDir = tmp("cgd-good").toString + "/rows"
    val badDir = tmp("cgd-bad").toString + "/quarantine"
    val q = ContractGate.start(gated, goodDir, badDir, tmp("cgd-ckpt").toString)
    q.awaitTermination(120000)

    val good = spark.read.parquet(goodDir)
    assert(good.count() == 1 &&
      good.select("first_update_id").head().getLong(0) == 1L)
    val bad = spark.read.parquet(badDir)
      .select("raw_line", "violation").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(bad == Set((negRow, "ts_out_of_contract")), s"got $bad")
  }
}
