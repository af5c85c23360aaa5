package graft.streaming.source

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.file.{Files, Path}
import java.util.concurrent.CompletionStage
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

/** Live websocket ingestion — the reference's ws subscribe loop
  * (`binance_etl/etls/base.py:26,47-60`: one socket per stream,
  * on_message → process) re-expressed for Spark's execution model.
  *
  * A push socket cannot BE a Spark scan, so the live path splits at
  * the same seam production pipelines use (ws → durable buffer →
  * engine): WsSpooler is the tiny ingestion daemon that turns the push
  * stream into micro-batch files, and [[Dsv2ReplaySource]] follows the
  * spool directory as it grows — the whole downstream pipeline (parse,
  * validate, book-sync, sinks) is IDENTICAL for live and replay, which
  * is what makes the replay tests meaningful for the live path.
  *
  * Mechanics: complete text frames (partial frames are reassembled per
  * the websocket protocol) buffer in memory and flush every
  * `flushEvery` messages — the reference's count-based batching,
  * `config.json:10` batch_size — as sequentially-numbered jsonl files,
  * written to a hidden temp name and ATOMICALLY linked to the final
  * name so the replay source never observes a partial file. A spooler
  * started on a non-empty directory numbers its files after the
  * highest existing `spool-*.jsonl`, and a flush never replaces a file
  * (it fails instead): a replay that already admitted a file's lines
  * must never read different lines at the same offsets. `stop()`
  * flushes the remainder.
  *
  * The binance endpoint itself (`wss://stream.binance.com:9443/ws/...`,
  * subscribe paths `spot_trades_etl.py:20` / `spot_depth_etl.py:25`)
  * is unreachable from this environment (zero egress) — the spooler is
  * exercised against an in-process websocket server in WsSpoolerSpec,
  * which drives the SAME client code path end-to-end into the trades
  * pipeline.
  */
final class WsSpooler(
    uri: URI,
    spoolDir: Path,
    flushEvery: Int = 1000) {

  private val buf = new scala.collection.mutable.ArrayBuffer[String]
  private val fileSeq = new AtomicLong(0)
  private val nSpooled = new AtomicLong(0)
  private val err = new AtomicReference[Throwable]
  private val closed = new java.util.concurrent.CompletableFuture[Unit]
  @volatile private var ws: WebSocket = _

  private object Listener extends WebSocket.Listener {
    private val partial = new java.lang.StringBuilder
    override def onText(w: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      partial.append(data)
      if (last) {
        onMessage(partial.toString)
        partial.setLength(0)
      }
      w.request(1)
      null
    }
    override def onClose(w: WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = {
      closed.complete(())
      null
    }
    override def onError(w: WebSocket, error: Throwable): Unit = {
      err.set(error)
      closed.complete(())
    }
  }

  private[streaming] def onMessage(m: String): Unit = synchronized {
    buf += m
    nSpooled.incrementAndGet()
    if (buf.size >= flushEvery) flush()
  }

  /** Writes buffered messages as the next spool file: a `.`-prefixed
    * temp file (which the replay source skips), then a hard link to the
    * final name, which appears whole and fails with
    * `FileAlreadyExistsException` instead of replacing a file. */
  def flush(): Unit = synchronized {
    if (buf.nonEmpty) {
      val n = fileSeq.getAndIncrement()
      val tmp = spoolDir.resolve(f".spool-$n%08d.tmp")
      val dst = spoolDir.resolve(f"spool-$n%08d.jsonl")
      Files.write(tmp, buf.asJava)
      try Files.createLink(dst, tmp) finally Files.delete(tmp)
      buf.clear()
    }
  }

  /** Messages received so far (spooled or still buffered). */
  def messagesReceived: Long = nSpooled.get()

  /** First transport error, if any. */
  def failure: Option[Throwable] = Option(err.get())

  def start(): WsSpooler = {
    Files.createDirectories(spoolDir)
    fileSeq.set(WsSpooler.nextFileSeq(spoolDir))
    ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(uri, Listener).join()
    this
  }

  /** Closes the socket and flushes the remainder. The final flush
    * happens only after the close HANDSHAKE completes (onClose /
    * onError), not merely after the outbound close frame is sent —
    * frames already in flight on the delivery thread would otherwise
    * land in `buf` after the flush and be silently stranded. */
  def stop(): Unit = {
    if (ws != null) {
      try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
      catch { case _: Throwable => () }
      try closed.get(10, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Throwable => () }
    }
    flush()
  }
}

object WsSpooler {
  private val SpoolName = """spool-(\d+)\.jsonl""".r

  /** The number after the highest `spool-*.jsonl` in `dir`, 0 if none. */
  private def nextFileSeq(dir: Path): Long = {
    val names = Files.list(dir)
    try names.iterator().asScala.map(_.getFileName.toString).collect {
      case SpoolName(n) => n.toLong + 1
    }.foldLeft(0L)(math.max)
    finally names.close()
  }

  /** The reference's live subscribe URI for a spot trade stream
    * (`spot_trades_etl.py:20`); depth: `spot_depth_etl.py:25`.
    * Unreachable in this environment — documented for completeness. */
  def binanceSpotUri(symbol: String, eventType: String): URI =
    URI.create(s"wss://stream.binance.com:9443/ws/${symbol.toLowerCase}@$eventType")
}
