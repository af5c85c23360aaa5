package graft.book

import graft.streaming.{BookSynchronizer, Pipelines}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Top-of-book row emitted after applying one depth record. Prices
  * stay exchange-exact decimal strings (SURVEY §1.4); `spread` is
  * computed in BigDecimal and rendered back to a plain string. */
final case class TopOfBook(
    timestamp: Long,
    local_timestamp: Long,
    best_bid: String,
    best_bid_qty: String,
    best_ask: String,
    best_ask_qty: String,
    spread: String,
    bid_levels: Int,
    ask_levels: Int)

/** A [[graft.streaming.DepthRecord]] with its level text parsed
  * ([[graft.streaming.Pipelines.levels]]): what the book folds. */
final case class BookUpdate(
    timestamp: Long,
    local_timestamp: Long,
    first_update_id: Long,
    last_update_id: Long,
    bids: Seq[Seq[String]],
    asks: Seq[Seq[String]],
    is_snapshot: Boolean)

/** Continuous order-book maintenance: the real-time analytic the
  * recorded data exists for. Consumes the post-sync depth-record
  * stream (snapshot replay first, then contiguous deltas — exactly
  * [[graft.streaming.BookSynchronizer]]'s output contract), parses
  * each record's level text as [[graft.streaming.Pipelines.depthRows]]
  * does, folds the levels into keyed book state (qty 0 removes a
  * level), and emits one top-of-book row per applied record.
  *
  * State is two price→qty maps per (symbol, market) — bounded by the
  * venue's book depth, partitioned with the stream key, so a
  * 1000-symbol deployment holds 1000 small maps spread across
  * executors. */
object StreamingBook {

  final case class BookState(
      bids: Map[String, String],
      asks: Map[String, String])

  /** Allocation-free numeric comparison of non-negative decimal
    * strings ("571.10" vs "1000"): longer integer part wins, then
    * lexicographic with implicit zero-padding of the fraction. Keeps
    * the per-message best-level scan free of BigDecimal parsing
    * (thousands of levels × every message is the hot path). */
  private[book] def cmpDecimalStr(a: String, b: String): Int = {
    val (ai, bi) = (a.indexOf('.'), b.indexOf('.'))
    val aInt = if (ai < 0) a.length else ai
    val bInt = if (bi < 0) b.length else bi
    if (aInt != bInt) return aInt - bInt
    var i = 0
    val aLen = a.length
    val bLen = b.length
    var j = 0
    while (i < aLen || j < bLen) {
      val ca = if (i < aLen) a.charAt(i) else '0'
      val cb = if (j < bLen) b.charAt(j) else '0'
      if (ca == '.' && cb == '.') { i += 1; j += 1 }
      else if (ca == '.') { i += 1 } // same int length ⇒ dots align; defensive
      else if (cb == '.') { j += 1 }
      else {
        if (ca != cb) return ca - cb
        i += 1; j += 1
      }
    }
    0
  }

  private val decimalStrOrdering: Ordering[String] =
    (a: String, b: String) => cmpDecimalStr(a, b)

  private def isZero(qty: String): Boolean =
    qty.nonEmpty && qty.forall(c => c == '0' || c == '.')

  /** Warn-and-drop tolerance matching the rest of the pipeline: null
    * arrays and short/null levels are skipped, never fatal. */
  private def applyLevels(
      levels: Map[String, String],
      updates: Seq[Seq[String]]): Map[String, String] = {
    val safe = Option(updates).getOrElse(Seq.empty)
      .filter(lvl => lvl != null && lvl.length >= 2 &&
        lvl.head != null && lvl(1) != null && lvl(1).nonEmpty)
    safe.foldLeft(levels) { (m, lvl) =>
      val (price, qty) = (lvl.head, lvl(1))
      if (isZero(qty)) m - price else m.updated(price, qty)
    }
  }

  /** Pure per-record step: fold the update into the book, emit ToB. */
  def step(st: BookState, ev: BookUpdate): (BookState, TopOfBook) = {
    val st2 = BookState(
      applyLevels(st.bids, ev.bids),
      applyLevels(st.asks, ev.asks))
    def best(m: Map[String, String], isBid: Boolean): Option[(String, String)] =
      if (m.isEmpty) None
      else Some {
        val key = if (isBid) m.keysIterator.max(decimalStrOrdering)
        else m.keysIterator.min(decimalStrOrdering)
        (key, m(key))
      }
    val bb = best(st2.bids, isBid = true)
    val ba = best(st2.asks, isBid = false)
    val spread = (bb, ba) match {
      case (Some((b, _)), Some((a, _))) =>
        (BigDecimal(a) - BigDecimal(b)).bigDecimal.toPlainString
      case _ => ""
    }
    (st2, TopOfBook(ev.timestamp, ev.local_timestamp,
      bb.map(_._1).getOrElse(""), bb.map(_._2).getOrElse(""),
      ba.map(_._1).getOrElse(""), ba.map(_._2).getOrElse(""),
      spread, st2.bids.size, st2.asks.size))
  }

  /** Streaming operator over a [[graft.streaming.BookSynchronizer]]
    * output frame; also works on batch frames for replayed analysis. */
  def topOfBookStream(records: DataFrame, market: String, symbol: String): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val parsed = records
      .withColumn("bids", Pipelines.levels(col("bids")))
      .withColumn("asks", Pipelines.levels(col("asks")))
    BookSynchronizer.bySymbol[BookUpdate](parsed, market, symbol)
      .flatMapGroupsWithState[BookState, TopOfBook](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, events: Iterator[BookUpdate], state: GroupState[BookState]) =>
          var st = state.getOption.getOrElse(BookState(Map.empty, Map.empty))
          // Recover the synchronizer's emission order after the shuffle:
          // snapshot first (it may carry a LOWER update id than a wide
          // bridge delta), then deltas by last_update_id — the id the
          // synchronizer guarantees strictly increases across emitted
          // deltas. local_timestamp must NOT participate: wall-clock
          // stamps of transit-reordered deltas contradict id order.
          val sorted = events.toVector.sortBy(e =>
            (!e.is_snapshot, e.last_update_id))
          val out = sorted.map { ev =>
            val (st2, tob) = step(st, ev)
            st = st2
            tob
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }
}
