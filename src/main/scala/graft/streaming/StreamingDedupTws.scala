package graft.streaming

import java.time.Duration

import graft.functions.MinHashLsh
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** [[StreamingDedup]] on the `transformWithState` API, adding the one
  * thing the fMGWS version cannot express: **state TTL**. The fMGWS
  * dedup's (band, sig) keyed state grows with corpus lifetime — every
  * signature ever seen holds a long forever. Here each keeper entry
  * expires `ttl` after it was last written, so state size is bounded
  * by the signature arrival rate × ttl instead of by history.
  *
  * Retention contract: a document is flagged as a duplicate only if it
  * arrives within `ttl` of the FIRST document bearing that band
  * signature (the keeper is written once and deliberately not
  * refreshed by later duplicates — refreshing on every hit would let a
  * steady stream of duplicates pin state forever, unbounding it
  * again). After expiry the next arrival becomes a fresh keeper. This
  * is the standard windowed-dedup trade: exactness within the window,
  * bounded state across it. `ttl = null` keeps state forever and is
  * then behavior-identical to [[StreamingDedup]].
  *
  * Requires the RocksDB state store provider (named-state column
  * families), like [[StreamingSessionize]].
  */
class DedupKeeperProcessor(ttl: Duration)
    extends StatefulProcessor[
      String, StreamingDedup.BandSig, StreamingDedup.DupVerdict] {

  @transient private var keeper: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    keeper = getHandle.getValueState[Long]("keeper", Encoders.scalaLong,
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

  override def handleInputRows(
      key: String,
      inputRows: Iterator[StreamingDedup.BandSig],
      timerValues: TimerValues): Iterator[StreamingDedup.DupVerdict] = {
    val sorted = inputRows.toVector.sortBy(_.doc_id)
    // strict FIRST-SEEN semantics within the TTL window (same rule as
    // StreamingDedup.verdicts: the keeper never changes while alive)
    val k = if (keeper.exists()) keeper.get() else {
      val k0 = sorted.head.doc_id
      keeper.update(k0)
      k0
    }
    sorted.filter(_.doc_id != k).map(s =>
      StreamingDedup.DupVerdict(s.doc_id, k, s.band, s.sig)).iterator
  }
}

object StreamingDedupTws {

  /** Raw doc frame (doc_id, text) → duplicate verdicts, with keeper
    * state expiring `ttl` after first-seen (null = never). */
  def apply(docs: DataFrame, ttl: Duration): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    MinHashLsh.bandSignatures(docs).as[StreamingDedup.BandSig]
      .groupByKey(s => s"${s.band}:${s.sig}")
      .transformWithState(
        new DedupKeeperProcessor(ttl),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
      .toDF()
  }
}
