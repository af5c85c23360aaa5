package graft.streaming.source

import java.io.BufferedReader
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** DataSourceV2 micro-batch replay source — the reference's websocket
  * client slot (base.py:26) implemented as a first-class Spark source
  * instead of a file-source wrapper.
  *
  * Replays JSONL message files under `path` (lexical file order, line
  * order within a file) and — unlike the plain file source — enforces
  * the reference's COUNT-BASED batching (§2.1 #15, `batch_size=1000`,
  * config.json:10): each micro-batch admits at most `batchSize`
  * messages, so sink flush cadence matches the reference's buffer
  * semantics. Offsets are global line numbers; a restart resumes from
  * the checkpointed line. A directory is followed: each trigger
  * re-lists it, so a [[WsSpooler]]'s files are admitted as they land.
  *
  * Emits the engine-wide raw contract: `value: string` (raw JSON),
  * `local_timestamp: long` (arrival ms — `arrivalMs` option pins it
  * for deterministic replay, otherwise wall clock per batch planning).
  */
class ReplayDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayDataSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReplayTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object ReplayDataSource {
  val schema: StructType = new StructType()
    .add("value", StringType)
    .add("local_timestamp", LongType)

  /** Sorted message files under a path (file or directory), without the
    * `.`- and `_`-prefixed names (`.spool-*.tmp`) Spark's file source skips. */
  def listFiles(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val st = Files.list(p) // close, or the dir fd leaks per enumeration
      try st.iterator().asScala.toSeq
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("[._].*"))
        .map(_.toString).sorted
      finally st.close()
    } else Seq(path)
  }

  /** Lines between two indexed offsets: a reader skips fewer after its seek. */
  val IndexStride = 128

  /** `file`'s line count and the byte offset of lines 0, K, 2K, … (K =
    * `IndexStride`). Lines end as in `Files.lines`, at `\n`, `\r` or
    * `\r\n` (bytes no multi-byte UTF-8 character holds) or at the end. */
  def index(file: String): (Long, Array[Long]) = {
    val ch = FileChannel.open(Paths.get(file))
    try {
      val buf = ByteBuffer.allocate(1 << 16)
      val marks = Array.newBuilder[Long]
      var (at, lines, prev) = (0L, 0L, '\n'.toByte)
      while (ch.read(buf.clear()) > 0) {
        var i = 0
        while (i < buf.position()) {
          val b = buf.array()(i)
          // a line starts after each line end, but not inside a `\r\n`
          if ((prev == '\n' || prev == '\r') && (prev != '\r' || b != '\n')) {
            if (lines % IndexStride == 0) marks += at + i
            lines += 1
          }
          prev = b
          i += 1
        }
        at += i
      }
      (lines, marks.result())
    } finally ch.close()
  }
}

private[source] class ReplayTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"replay(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ReplayDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    private val (path, batchSize) =
      (options.get("path"), Option(options.get("batchSize")).map(_.toInt).getOrElse(1000))
    override def readSchema(): StructType = ReplayDataSource.schema
    override def description(): String = s"ReplayScan($path, batchSize=$batchSize)"
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new ReplayMicroBatchStream(path, batchSize, Option(options.get("arrivalMs")).map(_.toLong))
  }
}

/** Offset = number of lines already admitted (global across the
  * sorted file list). */
case class LineOffset(line: Long) extends Offset {
  override def json(): String = line.toString
}

/** Cursor-free micro-batch stream: count-based admission is expressed
  * through [[SupportsAdmissionControl]] — Spark hands the start offset
  * to `latestOffset(start, limit)`, so the source carries NO cursor
  * state and restart recovery is trivially correct. (A stateful
  * `latestOffset()` cursor is subtly wrong: on restart Spark calls it
  * on the fresh instance before replaying checkpointed offsets, and
  * it would admit from zero — observed as duplicated output before
  * this design.) Its one memo is each listed file's index, in lexical
  * order: a spool file is immutable once visible (`WsSpooler` renames
  * it into place), so it is indexed once and a re-list only appends. A
  * new file that sorts before an indexed one would renumber the lines
  * after it, so it fails the query instead. */
private[streaming] class ReplayMicroBatchStream(
    path: String, batchSize: Int, arrivalMs: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl {
  import ReplayDataSource.IndexStride

  private val indexed = mutable.LinkedHashMap.empty[String, (Long, Array[Long])]
  private var total = 0L

  /** Re-lists `path`, indexes new files, returns the line count. */
  private def refresh(): Long = {
    val fresh = ReplayDataSource.listFiles(path).filterNot(indexed.contains)
    for (f <- fresh.headOption; later <- indexed.keysIterator.find(f < _))
      throw new IllegalStateException(s"replay file $f sorts before $later, " +
        "whose lines are already numbered: admitting it would renumber them")
    fresh.foreach { f => indexed(f) = ReplayDataSource.index(f); total += indexed(f)._1 }
    total
  }

  override def initialOffset(): Offset = LineOffset(0L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LineOffset].line
    val available = refresh()
    // honor the engine's limit: Trigger.Once/AvailableNow pass
    // ReadAllAvailable — ignoring it would silently record only one
    // batchSize chunk and terminate
    val cap = limit match {
      case _: ReadAllAvailable => available
      case m: ReadMaxRows => s + m.maxRows()
      case _ => s + batchSize
    }
    LineOffset(math.min(cap, available)) // §2.1 #15 count admission
  }

  override def reportLatestOffset(): Offset = LineOffset(total)

  override def latestOffset(): Offset = LineOffset(refresh())

  override def deserializeOffset(json: String): Offset =
    LineOffset(json.toLong)

  /** One partition per file the range touches. A restart replays its
    * logged range before any `latestOffset`, so it may pass the memo. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineOffset].line
    val e = end.asInstanceOf[LineOffset].line
    if (e > total && refresh() < e)
      throw new IllegalStateException(s"replay offset $e is past the $total lines under $path")
    val localTs = arrivalMs.getOrElse(System.currentTimeMillis())
    var first = 0L // global number of the file's first line
    indexed.iterator.flatMap { case (f, (n, marks)) =>
      val (lo, hi) = (math.max(s, first) - first, math.min(e, first + n) - first)
      first += n
      val m = (lo / IndexStride).toInt
      Option.when(lo < hi)(
        ReplayPartition(f, marks(m), (lo - m.toLong * IndexStride).toInt, hi - lo, localTs))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = { partition =>
    val p = partition.asInstanceOf[ReplayPartition]
    new PartitionReader[InternalRow] {
      // decodes as Files.lines does: malformed UTF-8 fails the read
      private val in = new BufferedReader(Channels.newReader(
        FileChannel.open(Paths.get(p.file)).position(p.seek), "UTF-8"))
      (0 until p.skip).foreach(_ => in.readLine())
      private var (left, current) = (p.lines, "")

      override def next(): Boolean = left > 0 && {
        left -= 1
        current = in.readLine()
        current != null ||
          (throw new IllegalStateException(s"${p.file} is shorter than when it was indexed"))
      }
      override def get(): InternalRow = InternalRow(UTF8String.fromString(current), p.localTs)
      override def close(): Unit = in.close()
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `lines` lines of `file` from byte `seek` on, after skipping `skip`.
  * A batch's partitions are in file order: the order the CSV sink
  * appends and the book sync's contiguity contract consumes. */
case class ReplayPartition(
    file: String, seek: Long, skip: Int, lines: Long, localTs: Long)
    extends InputPartition

/** EventSource adapter for [[ReplayDataSource]]: `id` reads the tape or
  * spool directory `{fixtureRoot}/{symbol}.{market}.{eventType}`. */
final class Dsv2ReplaySource(
    fixtureRoot: String,
    batchSize: Int = 1000,
    fixedArrivalMs: Option[Long] = None) extends graft.streaming.EventSource {
  override def stream(
      spark: org.apache.spark.sql.SparkSession,
      id: graft.streaming.EventId): org.apache.spark.sql.DataFrame = {
    val reader = spark.readStream
      .format(classOf[ReplayDataSource].getName)
      .option("path", s"$fixtureRoot/${id.symbol}.${id.market}.${id.eventType}")
      .option("batchSize", batchSize.toString)
    fixedArrivalMs.foreach(ts => reader.option("arrivalMs", ts.toString))
    reader.load()
  }
}
