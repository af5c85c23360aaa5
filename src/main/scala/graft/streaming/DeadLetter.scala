package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Dead-letter quarantine for streaming ingestion (s20) — the missing
  * failure path of every file-landing pipeline: a malformed record in
  * a landed shard must be CAPTURED VERBATIM for replay, not silently
  * nulled into the corpus (Spark's PERMISSIVE default parses bad
  * lines into all-null rows plus the corrupt-record column — dropped
  * on the floor unless someone routes them). At 100 TB ingest rates a
  * 1e-6 corruption rate is thousands of lost documents a day; the
  * quarantine makes the loss observable and recoverable.
  *
  * Usage: include the corrupt-record column in the stream schema
  * (`columnNameOfCorruptRecord`), then [[start]] appends valid rows
  * and quarantined raw lines to separate parquet sinks per
  * micro-batch, stamped with the batch id. The split accounts for
  * every input row — valid + quarantined = ingested (asserted in
  * DeadLetterSpec) — and is stateless (foreachBatch, zero stream
  * state; AvailableNow for the incremental-batch cadence).
  */
object DeadLetter {

  val CorruptCol = "_corrupt"

  /** Split a PERMISSIVE-parsed batch into (valid, quarantine). The
    * batch must be cached by the caller first: Spark refuses a filter
    * that references only the internal corrupt-record column on a
    * lazily-parsed frame (the raw line is gone by then), and the two
    * output passes should parse each line once, not twice. */
  def split(cached: DataFrame): (DataFrame, DataFrame) =
    (cached.filter(col(CorruptCol).isNull).drop(CorruptCol),
      cached.filter(col(CorruptCol).isNotNull)
        .select(col(CorruptCol).as("raw_line")))

  /** Wire a stream through the quarantine: valid rows to `goodDir`,
    * corrupt raw lines to `badDir`, both partitioned by batch id.
    * foreachBatch is at-least-once — a crash between one write and
    * the checkpoint commit replays the whole batch — so BOTH writes
    * are IDEMPOTENT (dynamic overwrite of this batch's partition):
    * a replay replaces its own rows, never duplicates them, and the
    * valid + quarantined = ingested invariant survives restarts. */
  def start(docs: DataFrame, goodDir: String, badDir: String,
      checkpoint: String): StreamingQuery =
    quarantine(docs, split, goodDir, badDir, checkpoint)

  /** The per-batch (valid, quarantine) write shared with
    * [[ContractGate.start]]; only the `split` differs. */
  private[streaming] def quarantine(stream: DataFrame,
      split: DataFrame => (DataFrame, DataFrame), goodDir: String,
      badDir: String, checkpoint: String): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val cached = batch.persist()
      try {
        val (good, bad) = split(cached)
        IdempotentSink.putBatch(good, id, goodDir)
        IdempotentSink.putBatch(bad, id, badDir)
      } finally { cached.unpersist(); () }
    }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}

/** [[DeadLetter]]'s sibling for SEMANTIC rejects (SURVEY §1.2): a
  * syntactically valid message can still violate the ingestion
  * contract — a NULL, non-positive, or non-numeric event timestamp, a
  * missing required field — and until round 11 those classes were
  * documented as out-of-contract but nothing at the boundary REJECTED
  * them; a malformed replay file could inject a pre-1970 timestamp
  * whose downstream arithmetic silently diverges cross-engine
  * (BASELINE.md "timestamp-extremes probe"). The gate consumes a
  * [[Pipelines.tradesGated]]/[[Pipelines.depthRecordsGated]] frame —
  * parsed columns plus the raw `value` line and a stamped
  * [[Pipelines.ViolationCol]] — and lands in-contract rows and
  * labeled verbatim raw lines in separate sinks with the same
  * accounting invariant as s20: valid + quarantined = every
  * type-matching message, idempotent under batch replay. Depth good
  * rows keep `bids`/`asks` as the wire's level text (strings, not
  * nested arrays; [[Pipelines.levels]] parses them). */
object ContractGate {

  /** Split a violation-stamped frame into (valid, quarantine): valid
    * rows drop the plumbing columns; quarantined rows keep the raw
    * line VERBATIM plus the violation label for triage/replay. */
  def split(gated: DataFrame): (DataFrame, DataFrame) =
    (gated.filter(col(Pipelines.ViolationCol).isNull)
        .drop("value", Pipelines.ViolationCol),
      gated.filter(col(Pipelines.ViolationCol).isNotNull)
        .select(col("value").as("raw_line"),
          col(Pipelines.ViolationCol).as("violation")))

  /** Wire a gated stream through the quarantine — same idempotent
    * per-batch dynamic-overwrite discipline as [[DeadLetter.start]],
    * so at-least-once foreachBatch replays replace rather than
    * duplicate and the accounting invariant survives restarts. */
  def start(gated: DataFrame, goodDir: String, badDir: String,
      checkpoint: String): StreamingQuery =
    DeadLetter.quarantine(gated, split, goodDir, badDir, checkpoint)
}
