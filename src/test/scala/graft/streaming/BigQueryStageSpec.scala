package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource
import graft.sinks.BigQueryStage

import scala.jdk.CollectionConverters._

/** The staged BigQuery sink (the reference's declared-but-TODO
  * provider, factory.py:40-42): a configured trade stream stages
  * every micro-batch as load-ready NDJSON under its batch_id
  * partition, re-staging a batch is idempotent, and the per-batch
  * load command matches the documented contract.
  */
class BigQueryStageSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private val base = 1727784000000L
  private val lines = (1 to 4).map { i =>
    s"""{"e":"trade","E":${base + i * 1000L},"s":"BNBUSDT","t":$i,"p":"100.0000000$i","q":"1.00000000","T":${base + i * 1000L},"m":false,"M":true}"""
  }

  test("bigquery sink format stages ndjson batches; load contract; idempotent re-stage") {
    val fixtures = tmp("bqfix")
    val out = tmp("bqout")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava)
    val source = new Dsv2ReplaySource(fixtures.toString,
      fixedArrivalMs = Some(base))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString,
        sinkFormat = "bigquery"),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))

    val staging = out.resolve("bq_staging/binance.spot.bnbusdt.trade")
    val staged = spark.read.json(staging.toString)
    assert(staged.count() == 4, "all trades staged")
    assert(staged.columns.contains("batch_id"),
      "batches must stay isolated for per-batch loads")
    val ids = staged.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L), s"got $ids")

    // idempotent re-stage: replaying a batch replaces its partition
    val batch0 = staged.filter(col("batch_id") === 0L).drop("batch_id")
    BigQueryStage.stageBatch(batch0, 0L, staging.toString)
    assert(spark.read.json(staging.toString).count() == 4,
      "re-staging batch 0 must not duplicate rows")

    // the load contract
    assert(BigQueryStage.loadCommand("ds.trades", "/stage", 7L) ==
      "bq load --source_format=NEWLINE_DELIMITED_JSON ds.trades '/stage/batch_id=7/*.json'")
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
