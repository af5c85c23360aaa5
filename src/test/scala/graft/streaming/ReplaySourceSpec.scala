package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** s01 via the DataSourceV2 micro-batch source: replay order, schema
  * contract, and the reference's count-based batch admission
  * (storage.py:24-36 semantics at the source). */
class ReplaySourceSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private val tradeLines = (1 to 7).map { i =>
    s"""{"e":"trade","E":${1727784000000L + i},"s":"BNBUSDT","t":$i,"p":"571.${i}0000000","q":"1.00000000","T":${1727784000000L + i},"m":false,"M":true}"""
  }

  test("dsv2 replay: batchSize admission yields multiple micro-batches in order") {
    val fixtures = tmp("dsv2fix")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), tradeLines.asJava)

    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 3,
      fixedArrivalMs = Some(1727784005000L))
    val raw = source.stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    assert(raw.schema.fieldNames.toSeq == Seq("value", "local_timestamp"))

    val q = Pipelines.trades(raw)
      .writeStream.format("memory").queryName("dsv2_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()

    // 7 messages at batchSize=3 => micro-batches of 3,3,1 (count admission)
    assert(batches.map(_.numInputRows).toSeq == Seq(3L, 3L, 1L))
    val got = spark.table("dsv2_out").select("id").collect().map(_.getLong(0))
    assert(got.sorted.toSeq == (1L to 7L))
  }

  test("dsv2 replay feeds the full CSV pipeline like the file source") {
    val fixtures = tmp("dsv2fix2")
    val out = tmp("dsv2csv")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), tradeLines.asJava)

    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))

    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,id,price,quantity,side")
    assert(csv.size == 8) // header + 7 rows
    // multiple flushes (count batching), header only once
    assert(qs.head._2.get.batchesSaved == 4) // ceil(7/2)
    assert(csv.count(_.startsWith("timestamp,")) == 1)
  }
}
