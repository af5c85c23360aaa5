package graft.streaming

import java.nio.file.{Files, Path, StandardOpenOption}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** Checkpoint resume is exactly-once into the CSV layout: a restarted
  * query appends only unseen messages (the sink no longer truncates a
  * checkpointed run's file — the reference's truncate-at-startup
  * applies to fresh starts only). */
class ResumeSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def trade(i: Int): String =
    s"""{"e":"trade","E":${1727784000000L + i},"s":"BNBUSDT","t":$i,"p":"571.00000000","q":"1.00000000","T":${1727784000000L + i},"m":false,"M":true}"""

  test("restart with more data appends exactly the new messages") {
    val fixtures = tmp("resfix")
    val out = tmp("rescsv")
    val ckpt = tmp("resckpt")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    val tape = dir.resolve("messages.jsonl")
    Files.write(tape, (1 to 3).map(trade).asJava)

    def runOnce(): Unit = {
      val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
        fixedArrivalMs = Some(1727784005000L))
      val qs = Runner.startWithSinks(spark,
        StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString),
        source, Map.empty, checkpointRoot = ckpt.toString)
      qs.foreach(_._1.processAllAvailable())
      Runner.stopAll(qs.map(_._1))
    }

    runOnce()
    val firstRun = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
    assert(firstRun.size == 4) // header + 3

    // more messages arrive on the tape; restart against the same
    // checkpoint and sink file
    Files.write(tape, (4 to 5).map(trade).asJava, StandardOpenOption.APPEND)
    runOnce()
    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
    assert(csv.head.startsWith("timestamp,"))
    assert(csv.count(_.startsWith("timestamp,")) == 1) // header still once
    val ids = csv.tail.map(_.split(",")(2).toLong)
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // exactly once, in order
  }
}
