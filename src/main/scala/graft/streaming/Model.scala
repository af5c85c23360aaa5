package graft.streaming

/** Typed model of the reference's output tables and book snapshot
  * (SURVEY.md §1.2; wire shapes in FIXTURES.md §2).
  *
  * Numeric fidelity (SURVEY §1.4): Binance sends prices/quantities as
  * decimal STRINGS and the reference persists them verbatim
  * (spot_trades_etl.py:52-53, spot_depth_etl.py:98-99). We do the
  * same: `price`/`quantity` stay `StringType` end-to-end on the
  * streaming path; computation casts to DecimalType(38,18) on demand.
  */

/** Output row of the trades table (README.md:68-77 of the reference;
  * column order storage contract FIXTURES.md §2.5). */
final case class TradeRow(
    timestamp: Long,
    local_timestamp: Long,
    id: Long,
    price: String,
    quantity: String,
    side: String) // 'buy' | 'sell' — the liquidity taker

/** Pre-explosion depth record (spot_depth_etl.py:66-73). The
  * reference drops U/u after sequencing; we keep them — they make the
  * consistency check expressible as a query (SURVEY §1.2).
  *
  * `bids`/`asks` are the wire's JSON text of each side's level array,
  * as `json_tuple` yields it: the book sync reads only the ids, so the
  * levels cross it unparsed and are parsed once, after it, on the rows
  * it admits ([[Pipelines.depthRows]], [[graft.book.StreamingBook]]).
  * A side that is present but malformed stays text here and parses to
  * null there. */
final case class DepthRecord(
    timestamp: Long,
    local_timestamp: Long,
    first_update_id: Long,
    last_update_id: Long,
    bids: String,
    asks: String,
    is_snapshot: Boolean)

/** Output row of the depth_updates table (README.md:50-61). */
final case class DepthRow(
    timestamp: Long,
    local_timestamp: Long,
    side: String, // 'bid' | 'ask'
    price: String,
    quantity: String, // "0" means remove-level; kept, not filtered
    is_snapshot: Boolean)

/** REST order-book snapshot (book_utils.py:29; FIXTURES §2.3).
  * Fetched driver-side before stream start — never a blocking call in
  * an executor (SURVEY §3.3) — either from a snapshot file or LIVE via
  * [[graft.streaming.source.RestSnapshotClient]] (the reference's
  * `GET /api/v3/depth`, exercised end-to-end in RestSnapshotSpec). */
final case class BookSnapshot(
    lastUpdateId: Long,
    bids: Seq[Seq[String]],
    asks: Seq[Seq[String]]) {
  /** The levels as the JSON text a depth message carries, rendered
    * once: the book sync's snapshot row is a [[DepthRecord]] too. */
  lazy val bidsJson: String = BookSnapshot.levelsJson(bids)
  lazy val asksJson: String = BookSnapshot.levelsJson(asks)
}

object BookSnapshot {
  private val json = new com.fasterxml.jackson.core.JsonFactory()

  /** `[["p","q"],...]` with Jackson's string escaping, so that
    * `from_json` of the text gives `levels` back; a null level or
    * string is written as JSON null. */
  def levelsJson(levels: Seq[Seq[String]]): String = {
    val w = new java.io.StringWriter
    val g = json.createGenerator(w)
    g.writeStartArray()
    levels.foreach { lvl =>
      if (lvl == null) g.writeNull()
      else { g.writeStartArray(); lvl.foreach(g.writeString); g.writeEndArray() }
    }
    g.writeEndArray()
    g.close()
    w.toString
  }
}

// NOTE: there is deliberately NO from_json StructType for the wire
// messages — Binance's field pairs (e/E, U/u, t/T, m/M) collide under
// Spark's default case-insensitive analysis, so Pipelines parses with
// json_tuple (positional, key-matched case-sensitively at the JSON
// level). The wire shapes are documented in FIXTURES.md §2.1-2.2.
