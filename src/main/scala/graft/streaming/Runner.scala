package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Stream identity: the reference's dotted quad
  * `exchange.market.symbol.event_type` (factory.py:14). */
final case class EventId(
    exchange: String, market: String, symbol: String, eventType: String) {
  def symbolId: String = s"$symbol.$market" // storage.py:57
  def queryName: String = s"$exchange.$market.$symbol.$eventType"
}

object EventId {
  /** factory.py:14: `exchange, market, symbol, event_type = event.split('.')` */
  def parse(id: String): EventId = id.split('.') match {
    case Array(ex, mk, sym, et) => EventId(ex, mk, sym, et)
    case _ => throw new IllegalArgumentException(
      s"event id must be exchange.market.symbol.event_type, got: $id")
  }
}

/** Runtime config (config.json of the reference, SURVEY §1.5).
  * `sinkFormat` picks the storage layout: `csv` is the reference's
  * single-file header-once append (byte parity; driver-side I/O);
  * `parquet` is the scale path — Spark's native partitioned writer on
  * the same lineage, one directory per stream partitioned by
  * ingest date, no driver materialization. */
final case class StreamConfig(
    events: Seq[String],
    basePath: String = "./data",
    batchSize: Int = 1000,
    sinkFormat: String = "csv")

/** Message source abstraction — the reference's websocket client slot
  * (base.py:26). The zero-egress build ships a file-replay implementation
  * ([[source.Dsv2ReplaySource]]); a websocket DSv2 source drops in too.
  * Contract: a streaming frame with `value: string` (raw JSON) and
  * `local_timestamp: long` (arrival ms — §2.1 #4 arrival enrichment).
  */
trait EventSource {
  def stream(spark: SparkSession, id: EventId): DataFrame
}

/** Multi-stream fan-out + lifecycle (main.py:12-33, factory.py:9-30;
  * SURVEY §2.1 #18): one StreamingQuery per configured event id, all
  * in one SparkSession, graceful stop on JVM shutdown.
  */
object Runner {

  /** Everything an event type decides about its stream — the
    * reference's factory dispatch (factory.py:19-30) as one table row.
    * `tape` is the raw stream read (derived types consume their
    * underlying tape); a `depth` tape is synced against the symbol's
    * book snapshot before `rows` sees it; `kind` and `columns` name the
    * output file `{symbol}.{market}.{kind}` and its CSV column order. */
  private final case class StreamDef(
      tape: String,
      rows: (DataFrame, EventId) => DataFrame,
      kind: String,
      columns: Seq[String]) {
    def needsSnapshot: Boolean = tape == "depth"
  }

  /** `ohlcv` (per-minute OHLCV/VWAP candles over the trade tape, SURVEY
    * §2.4 s09) and `tob` (top-of-book quotes over the SYNCED depth tape,
    * s10) are beyond the reference; column orders are the reference's
    * dict insertion orders (FIXTURES.md §2.5), then
    * Pipelines.streamingOhlcv's and book.TopOfBook's field orders. */
  private val Streams: ListMap[String, StreamDef] = ListMap(
    "trade" -> StreamDef("trade", (raw, _) => Pipelines.trades(raw),
      "trades", CsvAppendSink.tradeColumns),
    "depth" -> StreamDef("depth", (synced, _) => Pipelines.depthRows(synced),
      "depth", CsvAppendSink.depthColumns),
    "ohlcv" -> StreamDef("trade",
      (raw, _) => Pipelines.streamingOhlcv(Pipelines.trades(raw)), "ohlcv",
      Seq("window_start_ms", "side", "low", "high", "volume", "vwap", "n_trades")),
    "tob" -> StreamDef("depth",
      (synced, id) => graft.book.StreamingBook.topOfBookStream(synced, id.market, id.symbol),
      "tob", Seq("timestamp", "local_timestamp", "best_bid", "best_bid_qty",
        "best_ask", "best_ask_qty", "spread", "bid_levels", "ask_levels")))

  /** Whether `id`'s stream syncs a book and so needs a driver-side
    * snapshot before it starts (Main loads exactly these). */
  def needsSnapshot(id: EventId): Boolean =
    Streams.get(id.eventType).exists(_.needsSnapshot)

  /** Builds (but does not await) one streaming query per event id.
    * Every id, its snapshot and the sink format are checked before the
    * first query starts, and a start that fails stops the queries
    * started before it, so a bad config leaves nothing running.
    * Returns the queries with their sinks for observability
    * (§2.1 #19 counters come from StreamingQueryProgress + sink
    * batchesSaved; only the csv sink has a CsvAppendSink). */
  def startWithSinks(
      spark: SparkSession,
      config: StreamConfig,
      source: EventSource,
      snapshots: Map[String, BookSnapshot] = Map.empty,
      checkpointRoot: String = "/tmp/graft-checkpoints"): Seq[(StreamingQuery, Option[CsvAppendSink])] = {
    if (!Seq("csv", "parquet", "bigquery").contains(config.sinkFormat))
      throw new IllegalArgumentException(
        s"unsupported sink format '${config.sinkFormat}' (csv|parquet|bigquery)")
    val planned = config.events.map { idStr =>
      val id = EventId.parse(idStr)
      val stream = Streams.getOrElse(id.eventType, throw new IllegalArgumentException(
        s"unsupported event type '${id.eventType}' (supported: " +
          s"${Streams.keys.mkString("|")}; futures markets are enumerated but " +
          "unimplemented in the reference, factory.py:26-29)"))
      val snapshot = Option.when(stream.needsSnapshot)(snapshots.getOrElse(id.symbolId,
        throw new IllegalStateException(
          s"no order-book snapshot provided for ${id.symbolId}")))
      (id, stream, snapshot)
    }
    StreamMetrics.ensureListener(spark)
    val started = ArrayBuffer.empty[(StreamingQuery, Option[CsvAppendSink])]
    try planned.foreach { case (id, stream, snapshot) =>
      started += startStream(spark, config, source, checkpointRoot, id, stream, snapshot)
    } catch {
      case t: Throwable => stopAll(started.map(_._1).toSeq); throw t
    }
    started.toSeq
  }

  /** One checked stream: its lineage, then the sink `config` names. */
  private def startStream(spark: SparkSession, config: StreamConfig,
      source: EventSource, checkpointRoot: String, id: EventId,
      stream: StreamDef, snapshot: Option[BookSnapshot]): (StreamingQuery, Option[CsvAppendSink]) = {
    // §2.1 #19 observability: the reference's total_messages counter
    // plus output-row count (their difference = dropped corrupt/
    // non-data messages, the reference's warn-and-drop path) as
    // observed metrics, accumulated by StreamMetrics' listener.
    val raw = source.stream(spark, id.copy(eventType = stream.tape))
      .observe("graft_raw", count(lit(1)).as("messages"))
    val input = snapshot.fold(raw)(snap => BookSynchronizer.apply(
      Pipelines.depthRecords(raw), id.market, id.symbol, snap))
    val rows = stream.rows(input, id).observe("graft_rows", count(lit(1)).as("rows"))
    // checkpoint path includes the sink format: offsets committed for
    // one sink must never satisfy a different one
    val checkpoint = s"$checkpointRoot/${id.queryName}.${config.sinkFormat}"
    def writer(df: DataFrame) = df.writeStream
      .queryName(id.queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
    config.sinkFormat match {
      case "csv" =>
        // fresh start: truncate like the reference; checkpointed
        // restart: keep the file, the checkpoint skips written batches
        val sink = new CsvAppendSink(config.basePath, id.symbol, id.market,
          stream.kind, stream.columns,
          truncateOnStart = !Files.exists(Paths.get(checkpoint)))
        val q = writer(rows)
          .foreachBatch { (df: DataFrame, bid: Long) => sink.writeBatch(df, bid) }
          .start()
        (q, Some(sink))
      case "parquet" =>
        // scale path: native partitioned writer, executor-side I/O.
        // Partition date comes from arrival time when the frame has
        // one; derived/aggregate frames (ohlcv and any future type)
        // have no local_timestamp, so their event-time window start
        // partitions them — selected by what the frame CONTAINS so a
        // new derived type cannot reintroduce the unresolved-column
        // crash this guards against.
        val dateSource =
          if (rows.columns.contains("local_timestamp")) col("local_timestamp")
          else col("window_start_ms")
        val q = writer(rows.withColumn("ingest_date", to_date(timestamp_millis(dateSource))))
          .format("parquet")
          .partitionBy("ingest_date")
          .option("path", s"${config.basePath}/${id.symbolId}.${stream.kind}")
          .start()
        (q, None)
      case "bigquery" =>
        // The reference declares this sink but leaves it TODO
        // (factory.py:40-42). Implemented as its load-job staging
        // half: per-batch idempotent NDJSON under
        // basePath/bq_staging/<query>/batch_id=N plus the
        // BigQueryStage.loadCommand contract — only the load API call
        // itself is not made.
        val staging = s"${config.basePath}/bq_staging/${id.queryName}"
        val q = writer(rows)
          .foreachBatch { (df: DataFrame, bid: Long) =>
            graft.sinks.BigQueryStage.stageBatch(df, bid, staging)
          }
          .start()
        (q, None)
    }
  }

  /** §2.1 #19: the reference's `total_messages` counter, accumulated
    * by [[StreamMetrics]]' listener across the whole run (NOT a
    * `recentProgress` sum, which is capped at 100 entries). The
    * listener delivers events asynchronously — call after
    * `processAllAvailable`/stop, or expect eventual consistency. */
  def totalMessages(q: StreamingQuery): Long =
    StreamMetrics.messages(q.runId)

  /** Output rows counter (for trades = parsed messages, so
    * totalMessages - totalRows = dropped corrupt/ack messages — the
    * reference's warn-and-drop path made observable; for depth =
    * exploded levels). */
  def totalRows(q: StreamingQuery): Long =
    StreamMetrics.rows(q.runId)

  /** main.py:16-22 graceful shutdown: stop every query, then log
    * final counters via the query progress. */
  def stopAll(queries: Seq[StreamingQuery]): Unit =
    queries.foreach { q => if (q.isActive) q.stop() }

  /** Blocks like spark.streams.awaitAnyTermination with a shutdown
    * hook mirroring the reference's SIGINT/SIGTERM handling. */
  def await(spark: SparkSession, queries: Seq[StreamingQuery]): Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => stopAll(queries)))
    spark.streams.awaitAnyTermination()
  }
}
