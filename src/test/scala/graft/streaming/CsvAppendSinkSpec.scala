package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ListenerBus

import scala.jdk.CollectionConverters._

/** CsvAppendSink's driver/executor boundary: one job per batch over
  * every partition, rendered bytes appended in partition order, and
  * the empty-batch and replay rules around it. */
class CsvAppendSinkSpec extends SparkSpec {

  private val nl = System.lineSeparator

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def trades(n: Long): Dataset[TradeRow] = {
    import spark.implicits._
    spark.range(0, n, 1, 4).as[Long].map { i =>
      TradeRow(1727784000000L + i, 1727784001000L, i,
        if (i % 5 == 0) null else f"571.$i%08d", "0.25000000",
        if (i % 2 == 0) "buy" else "sell")
    }
  }

  private def tradeLine(i: Long): String =
    s"${1727784000000L + i},1727784001000,$i," +
      (if (i % 5 == 0) "" else f"571.$i%08d") + ",0.25000000," +
      (if (i % 2 == 0) "buy" else "sell") + nl

  private def bytes(sink: CsvAppendSink): String =
    new String(Files.readAllBytes(sink.path), UTF_8)

  /** Job-start events of the jobs `body` runs, keyed by their local
    * properties; the bus is drained before the listener is removed. */
  private def jobsOf(body: => Unit): Seq[java.util.Properties] = {
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    val sc = spark.sparkContext
    ListenerBus.waitUntilEmpty(sc, 60000)
    sc.addSparkListener(l)
    try { body; ListenerBus.waitUntilEmpty(sc, 60000) }
    finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  // every fifth price is null: rendered as an empty field
  test("a 4-partition batch appends the header, then every row in partition order") {
    val df = trades(23).toDF()
    assert(df.rdd.getNumPartitions == 4)
    val sink = CsvAppendSink.forTrades(tmp("csvsink").toString, "bnbusdt", "spot")
    sink.writeBatch(df, 0)
    val header = CsvAppendSink.tradeColumns.mkString(",") + nl
    assert(bytes(sink) == header + (0L until 23L).map(tradeLine).mkString)
    // a second batch appends below, without a second header
    sink.writeBatch(trades(3).toDF(), 1)
    assert(bytes(sink) == header + ((0L until 23L) ++ (0L until 3L)).map(tradeLine).mkString)
    assert(sink.batchesSaved == 2)
  }

  test("a batch whose 4 partitions are all empty writes nothing") {
    val df = trades(40).toDF().filter(col("id") < 0)
    assert(df.rdd.getNumPartitions == 4)
    val dir = tmp("csvsink")
    val sink = CsvAppendSink.forTrades(dir.toString, "bnbusdt", "spot")
    sink.writeBatch(df, 0)
    assert(Files.size(sink.path) == 0L)
    assert(!Files.exists(dir.resolve("bnbusdt.spot.trades.csv.lastbatch")))
    assert(sink.batchesSaved == 0)
  }

  test("a replayed batchId still executes the frame and appends nothing") {
    val sink = CsvAppendSink.forTrades(tmp("csvsink").toString, "bnbusdt", "spot")
    sink.writeBatch(trades(10).toDF(), 0)
    val before = bytes(sink)
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("replayed-rows")
    val replay = trades(10).map { r => acc.add(1); r }.toDF()
    sink.writeBatch(replay, 0)
    assert(acc.sum == 10L, "the replayed frame was not executed over every row")
    assert(bytes(sink) == before)
    assert(sink.batchesSaved == 1)
  }

  // FIXTURES §2.4 sync scenario: snapshot lastUpdateId=158, one stale
  // delta, the bridge, then contiguous deltas.
  private def depthLine(u0: Long, px: String): String =
    s"""{"e":"depthUpdate","E":${1727784000000L + u0},"s":"BNBUSDT","U":$u0,"u":${u0 + 3},"b":[["$px","1.00000000"]],"a":[["571.90000000","2.00000000"]]}"""

  test("a stateful 4-partition depth batch runs exactly one job per writeBatch") {
    val fixtures = tmp("csvsinkfix")
    val dir = fixtures.resolve("bnbusdt.spot.depth")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), (Seq(depthLine(152, "570.00000000"),
      depthLine(156, "570.50000000")) ++ (0 until 6).map(i =>
        depthLine(160 + 4 * i, f"${570.0 + i * 0.1}%.8f"))).asJava)
    val snapshot = BookSnapshot(158, bids = Seq(Seq("570.90000000", "3.10000000")),
      asks = Seq(Seq("571.00000000", "1.20000000")))
    val raw = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
      .stream(spark, EventId("binance", "spot", "bnbusdt", "depth"))
    val rows = Pipelines.depthRows(BookSynchronizer.apply(
      Pipelines.depthRecords(raw), "spot", "bnbusdt", snapshot))
    val sink = CsvAppendSink.forDepth(tmp("csvsink").toString, "bnbusdt", "spot")
    val partitions = new ConcurrentLinkedQueue[Int]()
    var queryId = ""
    val jobs = jobsOf {
      val q = rows.writeStream
        .option("checkpointLocation", tmp("csvsinkckpt").toString)
        .foreachBatch { (df: DataFrame, bid: Long) =>
          partitions.add(df.rdd.getNumPartitions)
          sink.writeBatch(df, bid)
        }
        .start()
      queryId = q.id.toString
      try q.processAllAvailable() finally q.stop()
    }
    assert(partitions.asScala.toSet == Set(4))
    val perBatch = jobs
      .filter(p => p.getProperty("sql.streaming.queryId") == queryId)
      .groupBy(_.getProperty("streaming.sql.batchId"))
      .map { case (b, js) => b -> js.size }
    assert(sink.batchesSaved >= 3, s"too few data batches: ${sink.batchesSaved}")
    assert(perBatch.size == partitions.size && perBatch.values.forall(_ == 1),
      s"jobs per batch: $perBatch")
  }
}
