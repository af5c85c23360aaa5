package graft.streaming

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

/** The reference's CSV storage contract (storage.py:47-82; SURVEY.md
  * §2.1 #16): one file per (symbol, market, kind) named
  * `{symbol}.{market}.{kind}.csv`, created/truncated at startup,
  * header written exactly once (with the first non-empty batch),
  * appended thereafter; a running saved-batch counter (storage.py:17-18).
  *
  * This single-file append layout is inherently driver-side I/O — it
  * exists for byte-layout parity with the reference. A batch is one
  * job whose tasks render CSV bytes straight from the frame's
  * `InternalRow`s (no external `Row` per line), appended
  * in partition order: the driver holds one batch's bytes (≈ 1.4 MB
  * per 1000 depth messages, in chunks of about 128 KB),
  * bounded by the source's per-trigger admission like the reference's
  * `batch_size` buffer (storage.py:24-36). The scale path swaps in
  * Spark's partitioned csv/parquet sink; nothing upstream changes.
  *
  * Restart note: like the reference (storage.py:77-82) the file is
  * truncated at startup, so restarting against an existing checkpoint
  * re-records only data the checkpoint hasn't seen — on a live stream
  * that's everything new; on a finite replay that's nothing. Use a
  * fresh checkpoint dir to re-record a replay.
  */
final class CsvAppendSink(
    basePath: String,
    symbol: String,
    market: String,
    kind: String, // "trades" | "depth" | "ohlcv" | "tob" (Runner's stream table)
    columns: Seq[String],
    truncateOnStart: Boolean = true) {

  val path: Path = Paths.get(basePath, s"$symbol.$market.$kind.csv")
  /** Sidecar recording the last batchId appended — makes the append
    * idempotent when Spark replays the last uncommitted micro-batch
    * after a restart (foreachBatch is at-least-once; the batchId
    * guard narrows this to effectively-once, except for a crash in
    * the small window between the data append and the sidecar write —
    * true exactly-once needs a transactional sink, which is what the
    * parquet sink format provides). */
  private val batchIdPath: Path =
    Paths.get(basePath, s"$symbol.$market.$kind.csv.lastbatch")
  @volatile var batchesSaved: Long = 0L

  // storage.py:77-82: pre-create/truncate at construction — on a
  // FRESH start. A checkpoint-resumed query must keep the file (the
  // checkpoint skips already-written batches; truncating would lose
  // them), so Runner passes truncateOnStart = !checkpointExists.
  Files.createDirectories(path.getParent)
  if (truncateOnStart || !Files.exists(path)) {
    Files.write(path, Array.emptyByteArray)
    Files.deleteIfExists(batchIdPath)
  }

  private def lastWrittenBatch: Long =
    if (Files.exists(batchIdPath))
      new String(Files.readAllBytes(batchIdPath)).trim.toLong
    else -1L

  /** foreachBatch body. Header iff nothing written yet (storage.py:
    * 67-68, 74-75); replayed batches (batchId already recorded) are
    * skipped. `df` must have exactly `columns`, in order (the header's
    * order); any other frame fails the batch.
    *
    * Flush-cadence deviation from the reference (deliberate):
    * storage.py:24-36 buffers OUTPUT rows and flushes only when
    * ≥ batch_size rows accumulated, silently dropping a trailing
    * partial buffer at shutdown; this sink writes every non-empty
    * micro-batch (the replay source admits batch_size MESSAGES, and a
    * depth message explodes to several rows). Net effect: file
    * CONTENT gains the tail rows the reference loses at shutdown, and
    * `batchesSaved` counts micro-batches, not 1000-row chunks. Row
    * bytes are otherwise identical. */
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    if (batchId <= lastWrittenBatch) {
      // Replayed batch (crash landed between the data append and the
      // checkpoint commit): skip the WRITE but still EXECUTE the frame.
      // Spark 4.1 validates that every micro-batch of a stateful query
      // commits every state-store partition — a zero-work skip crashes
      // the restart with STATE_STORE_COMMIT_VALIDATION_FAILED (found
      // by KillResumeSpec's between-batch kill: the sidecar records
      // the batch, the checkpoint doesn't, the replay skips, the query
      // dies). foreach(noop) runs all partitions executor-side with
      // zero driver transfer.
      df.foreach(_ => ())
      return
    }
    // ONE action over every partition, empty ones included: a second
    // re-runs the stateful lineage, a skipped one fails (see above).
    require(df.columns.toSeq == columns,
      s"$kind CSV expects columns ${columns.mkString(",")}, got ${df.columns.mkString(",")}")
    val types = df.schema.fields.map(_.dataType)
    val parts = df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (rows: Iterator[InternalRow]) => CsvAppendSink.render(rows, types))
    if (parts.forall(_.isEmpty)) return
    val out = new FileOutputStream(path.toFile, true)
    try {
      if (Files.size(path) == 0L)
        out.write((columns.mkString(",") + System.lineSeparator).getBytes(UTF_8))
      parts.foreach(_.foreach(out.write))
    } finally out.close()
    // atomic sidecar update (no torn reads on crash mid-write)
    val tmp = batchIdPath.resolveSibling(batchIdPath.getFileName.toString + ".tmp")
    Files.write(tmp, batchId.toString.getBytes)
    Files.move(tmp, batchIdPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    batchesSaved += 1
  }
}

object CsvAppendSink {
  private val True = "True".getBytes(UTF_8)
  private val False = "False".getBytes(UTF_8)

  /** Lines are cut into chunks of about this many bytes: below G1's
    * humongous-object threshold (half a region, 512 KB at the smallest
    * region size), so a batch's rendered bytes never take whole
    * regions that only a young collection frees. */
  private val ChunkBytes = 128 * 1024

  /** A partition's rows as CSV lines in explicit UTF-8 (the platform
    * charset may differ), read from Spark's internal rows: strings are
    * copied as their UTF-8 bytes, null is an empty field, and every
    * other value prints as its external (`Row`) value's `toString`.
    * Returned as consecutive chunks of whole lines ([[ChunkBytes]]).
    * Runs in the task, so it must not touch a sink. */
  def render(rows: Iterator[InternalRow], types: Array[DataType]): Array[Array[Byte]] = {
    val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
    val nl = System.lineSeparator.getBytes(UTF_8)
    val chunks = Array.newBuilder[Array[Byte]]
    // starts small (an empty partition allocates little) and grows to
    // at most 2 * ChunkBytes, still below the humongous threshold
    val out = new ByteArrayOutputStream(ChunkBytes / 4)
    rows.foreach { row =>
      var i = 0
      while (i < types.length) {
        if (i > 0) out.write(',')
        if (!row.isNullAt(i)) types(i) match {
          case _: StringType => row.getUTF8String(i).writeTo(out)
          // Python bool capitalization: the reference persists rows via
          // pandas DataFrame.to_csv (storage.py:60-66), which renders
          // bools as 'True'/'False' — so depth's is_snapshot must too.
          case BooleanType => out.write(if (row.getBoolean(i)) True else False)
          case t => out.write(toScala(i)(row.get(i, t)).toString.getBytes(UTF_8))
        }
        i += 1
      }
      out.write(nl)
      if (out.size >= ChunkBytes) { chunks += out.toByteArray; out.reset() }
    }
    if (out.size > 0) chunks += out.toByteArray
    chunks.result()
  }

  /** Column orders are the reference's dict insertion orders
    * (FIXTURES.md §2.5). */
  val tradeColumns: Seq[String] =
    Seq("timestamp", "local_timestamp", "id", "price", "quantity", "side")
  val depthColumns: Seq[String] =
    Seq("timestamp", "local_timestamp", "side", "price", "quantity", "is_snapshot")

  def forTrades(basePath: String, symbol: String, market: String,
      truncateOnStart: Boolean = true): CsvAppendSink =
    new CsvAppendSink(basePath, symbol, market, "trades", tradeColumns,
      truncateOnStart)
  def forDepth(basePath: String, symbol: String, market: String,
      truncateOnStart: Boolean = true): CsvAppendSink =
    new CsvAppendSink(basePath, symbol, market, "depth", depthColumns,
      truncateOnStart)
}
