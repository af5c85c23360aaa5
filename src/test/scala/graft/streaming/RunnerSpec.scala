package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource

import scala.jdk.CollectionConverters._

/** Runner's stream table at start-up: a config it cannot run fails
  * before any of its queries starts, and a start that fails part-way
  * stops the queries started before it — a bad config leaves nothing
  * running for the caller to lose the handle of. */
class RunnerSpec extends SparkSpec {

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private val tradeLine =
    """{"e":"trade","E":1727784000123,"s":"RUNNERT","t":1,"p":"1.00000000","q":"2.00000000","T":1727784000120,"m":false,"M":true}"""

  /** Starts `events` over a trade and a depth tape for symbol `runnert`
    * and returns what it threw, with the names of the queries of
    * `events` still active afterwards. */
  private def startFailing(events: Seq[String]): (Throwable, Seq[String]) = {
    val fixtures = tmp("runner-fix")
    Seq("trade", "depth").foreach { t =>
      val dir = fixtures.resolve(s"runnert.spot.$t")
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0.jsonl"), Seq(tradeLine).asJava)
    }
    val source = new Dsv2ReplaySource(fixtures.toString, fixedArrivalMs = Some(1L))
    val ex = intercept[Exception] {
      Runner.startWithSinks(spark, StreamConfig(events, tmp("runner-out").toString),
        source, Map.empty, checkpointRoot = tmp("runner-ckpt").toString)
    }
    val left = spark.streams.active.map(_.name).filter(events.contains).toSeq
    spark.streams.active.filter(q => events.contains(q.name)).foreach(_.stop())
    (ex, left)
  }

  test("a missing snapshot fails the config before any query starts") {
    val (ex, left) = startFailing(
      Seq("binance.spot.runnert.trade", "binance.spot.runnert.depth"))
    assert(ex.isInstanceOf[IllegalStateException], ex)
    assert(ex.getMessage.contains("no order-book snapshot provided for runnert.spot"))
    assert(left.isEmpty, s"queries left running: $left")
  }

  test("an unsupported event type names every supported type") {
    val (ex, left) = startFailing(
      Seq("binance.spot.runnert.trade", "binance.spot.runnert.kline"))
    assert(ex.isInstanceOf[IllegalArgumentException], ex)
    assert(ex.getMessage.contains("unsupported event type 'kline'"))
    assert(ex.getMessage.contains("supported: trade|depth|ohlcv|tob"), ex.getMessage)
    assert(left.isEmpty, s"queries left running: $left")
  }

  test("a start that fails part-way stops the queries started before it") {
    // the second start reuses an active query name, which Spark refuses
    // only at start(): the first query is running by then
    val (ex, left) = startFailing(
      Seq("binance.spot.runnert.trade", "binance.spot.runnert.trade"))
    assert(ex.getMessage.contains("already active"), ex.getMessage)
    assert(left.isEmpty, s"queries left running: $left")
  }
}
