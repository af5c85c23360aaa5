package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The reference's per-message dataflow (SURVEY.md §3.2-§3.3) as
  * declarative lineage shared verbatim between batch DataFrames and
  * Structured Streaming frames — all narrow, whole-stage-codegen'd
  * operators, zero shuffles on the hot path (parity with §3.2's
  * "keep it that way").
  *
  * Binance field names collide under Spark's default case-insensitive
  * analysis (`e`/`E`, `U`/`u`, `t`/`T`, `m`/`M`), so messages are
  * parsed with `json_tuple` — one JSON parse per row, positional
  * outputs, key matching done case-sensitively at the JSON level —
  * instead of a `from_json` struct whose field references would be
  * ambiguous.
  *
  * Input contract for both pipelines: a frame with
  * `value: string` (raw JSON message) and `local_timestamp: long`
  * (arrival ms, stamped by the source — §2.1 #4).
  */
object Pipelines {

  private val levelsSchema = ArrayType(ArrayType(StringType))

  /** A side's level array parsed from its JSON text (a
    * [[DepthRecord]]'s `bids`/`asks`); text that is not an array of
    * arrays parses to null. */
  private[graft] def levels(json: Column): Column = from_json(json, levelsSchema)

  /** Violation label stamped by the gated parsers: NULL for
    * in-contract rows, a reason string otherwise. The s20
    * [[ContractGate]] splits on it. */
  val ViolationCol = "_violation"

  /** SURVEY §1.2 ingestion contract for the exchange event time `E`:
    * a REQUIRED positive epoch-ms long — the reference's timestamp
    * arithmetic (spot_depth_etl.py:116) assumes it, and NULL or
    * pre-1970 values are the two documented out-of-contract classes
    * whose semantics silently diverge cross-engine (BASELINE.md
    * "timestamp-extremes probe"). `try_cast` instead of `cast` so a
    * non-numeric E is a LABELED reject, not an ANSI runtime throw. */
  private def tsViolation(ets: Column): Column = {
    val t = ets.try_cast("long")
    when(t.isNull || t <= 0, lit("ts_out_of_contract"))
  }

  /** trade path, contract-gated: JSON parse → event-type gate →
    * violation stamp → project/rename → conditional side map
    * (spot_trades_etl.py:38-58). Output = TradeRow columns plus the
    * raw `value` line and [[ViolationCol]] — in-contract rows carry a
    * NULL label; rows a trusting parse would silently null-drop or
    * crash on carry a reason ("missing_field" for the reference's
    * KeyError path, "ts_out_of_contract" for NULL/non-positive/
    * non-numeric E, "bad_trade_id" for a non-numeric t). Route
    * through [[ContractGate]] to land violations in the s20
    * quarantine verbatim; [[trades]] is the stripped valid side. */
  def tradesGated(raw: DataFrame): DataFrame =
    raw
      .select(
        json_tuple(col("value"), "e", "E", "t", "p", "q", "m")
          .as(Seq("et", "ets", "tid", "p", "q", "m")),
        col("value"), col("local_timestamp"))
      // corrupt JSON ⇒ all-null tuple; ack/greeting ⇒ et != 'trade' —
      // those are NOT violations, just other message types
      .filter(col("et") === "trade")
      .withColumn(ViolationCol,
        when(col("ets").isNull || col("tid").isNull || col("p").isNull ||
          col("q").isNull || col("m").isNull, lit("missing_field"))
          .otherwise(coalesce(tsViolation(col("ets")),
            when(col("tid").try_cast("long").isNull, lit("bad_trade_id")))))
      .select(
        col("ets").try_cast("long").as("timestamp"),
        col("local_timestamp"),
        col("tid").try_cast("long").as("id"),
        col("p").as("price"), // decimal strings kept verbatim (§1.4)
        col("q").as("quantity"),
        when(col("m") === "true", "sell").otherwise("buy").as("side"),
        col("value"), col(ViolationCol))

  /** trade path, valid side only (the reference's warn-and-drop
    * semantics, spot_trades_etl.py:56-58 — plus the §1.2 timestamp
    * contract, so a negative-epoch or null-E trade can never reach a
    * sink through this projection). Output columns = TradeRow. */
  def trades(raw: DataFrame): DataFrame =
    tradesGated(raw)
      .filter(col(ViolationCol).isNull)
      .drop("value", ViolationCol)

  /** depth path, parse stage, contract-gated: JSON parse → gate →
    * violation stamp → project/rename (spot_depth_etl.py:56-76).
    * Output = DepthRecord columns plus (`value`, [[ViolationCol]]) —
    * same labeling discipline as [[tradesGated]] ("missing_field",
    * "ts_out_of_contract", "bad_update_id" for non-numeric U/u, which
    * would otherwise kill the typed book-sync operator). Live updates
    * carry is_snapshot=false; snapshot replay rows are emitted by the
    * book synchronizer.
    *
    * Only the ids and the event time are parsed here: `bids`/`asks`
    * stay the JSON text `json_tuple` yields (a missing side is still
    * labelled "missing_field"; a present but malformed one is not a
    * violation and parses to null in [[depthRows]]). So the
    * [[ContractGate]]'s good-rows parquet stores each side as that
    * text. */
  def depthRecordsGated(raw: DataFrame): DataFrame =
    raw
      .select(
        json_tuple(col("value"), "e", "E", "U", "u", "b", "a")
          .as(Seq("et", "ets", "fu", "lu", "bjson", "ajson")),
        col("value"), col("local_timestamp"))
      .filter(col("et") === "depthUpdate")
      .withColumn(ViolationCol,
        when(col("ets").isNull || col("fu").isNull || col("lu").isNull ||
          col("bjson").isNull || col("ajson").isNull, lit("missing_field"))
          .otherwise(coalesce(tsViolation(col("ets")),
            when(col("fu").try_cast("long").isNull ||
              col("lu").try_cast("long").isNull, lit("bad_update_id")))))
      .select(
        col("ets").try_cast("long").as("timestamp"),
        col("local_timestamp"),
        col("fu").try_cast("long").as("first_update_id"),
        col("lu").try_cast("long").as("last_update_id"),
        col("bjson").as("bids"),
        col("ajson").as("asks"),
        lit(false).as("is_snapshot"),
        col("value"), col(ViolationCol))

  /** depth path, valid side only (reference KeyError warn-and-drop,
    * spot_depth_etl.py:74-76, plus the §1.2 timestamp contract).
    * Output columns = DepthRecord. */
  def depthRecords(raw: DataFrame): DataFrame =
    depthRecordsGated(raw)
      .filter(col(ViolationCol).isNull)
      .drop("value", ViolationCol)

  /** One (side, price, quantity) struct per level. A non-null level
    * shorter than [price, qty] is skipped, as the book fold skips it
    * (`StreamingBook.applyLevels`); a null level stays, as empty
    * fields. */
  private def sideStructs(arr: Column, label: String): Column =
    transform(filter(arr, x => x.isNull || size(x) >= 2), x => struct(
      lit(label).as("side"),
      x.getItem(0).as("price"),
      x.getItem(1).as("quantity")))

  /** depth path, explode stage: bids/asks text → [[levels]] → one row per level
    * with literal side, in the reference's emission order — its
    * per-message stable sort_values(['timestamp','side'])
    * (spot_depth_etl.py:92-111) puts asks ('ask' < 'bid') before bids
    * within a message, each side in array order, messages in arrival
    * order. Reproduced by construction: one explode of
    * concat(ask-structs, bid-structs) per record — order-preserving,
    * shuffle-free, streaming-legal (a global sort would be neither),
    * and a single Generate instead of union + sort.
    * `quantity == "0..."` rows are KEPT (level removal is data).
    * Runs after the book sync, so only admitted records are parsed; a
    * side that parses to null drops its whole message (the concat is
    * null), and a level without its quantity is skipped. Output
    * columns = DepthRow. */
  def depthRows(records: DataFrame): DataFrame =
    records.select(
      col("timestamp"), col("local_timestamp"),
      explode(concat(
        sideStructs(levels(col("asks")), "ask"),
        sideStructs(levels(col("bids")), "bid"))).as("lvl"),
      col("is_snapshot"))
      .select(col("timestamp"), col("local_timestamp"),
        col("lvl.side").as("side"),
        col("lvl.price").as("price"),
        col("lvl.quantity").as("quantity"),
        col("is_snapshot"))

  /** Computation-grade decimal view of a string price/qty column
    * (SURVEY §1.4): exchange-exact strings in storage, decimal math
    * on demand. */
  def asDecimal(c: Column): Column = c.cast("decimal(38,18)")

  /** Event-time windowed OHLCV/VWAP over the trade stream (SURVEY
    * §2.2's streaming window row: the analytical aggregation the
    * recorded trades imply, run continuously instead of in batch).
    * Tumbling `windowLen` windows on exchange event time with a
    * `watermarkDelay` lateness horizon; decimal sums keep volume and
    * the VWAP numerator exact. Emits one row per (window, side) in
    * append mode once the watermark passes the window end. */
  def streamingOhlcv(
      tradeRows: DataFrame,
      windowLen: String = "1 minute",
      watermarkDelay: String = "5 minutes"): DataFrame =
    tradeRows
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withColumn("price_d", asDecimal(col("price")))
      .withColumn("qty_d", asDecimal(col("quantity")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen), col("side"))
      .agg(
        min(col("price_d")).as("low"),
        max(col("price_d")).as("high"),
        sum(col("qty_d")).as("volume"),
        sum(col("price_d") * col("qty_d")).as("notional"),
        count(lit(1)).as("n_trades"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("side"), col("low"), col("high"), col("volume"),
        (col("notional").cast("double") / col("volume").cast("double"))
          .as("vwap"),
        col("n_trades"))

  /** s08 (SURVEY §2.4): late/duplicate-data hardening the reference
    * lacks — it trusts exchange ordering and crashes on anomalies.
    * Event-time watermark + per-trade-id dedup with state that expires
    * at the watermark horizon (`dropDuplicatesWithinWatermark`, so
    * dedup state is bounded — a plain dropDuplicates would grow
    * forever on an unbounded stream). */
  def dedupedTrades(tradeRows: DataFrame, watermark: String = "10 minutes"): DataFrame =
    tradeRows
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("id")
      .drop("event_time")
}
