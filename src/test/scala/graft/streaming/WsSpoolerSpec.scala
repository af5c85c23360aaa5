package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.source.{Dsv2ReplaySource, WsSpooler}
import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http.{HttpObjectAggregator, HttpServerCodec}
import io.netty.handler.codec.http.websocketx.{TextWebSocketFrame, WebSocketServerProtocolHandler}

/** s01's LIVE half: the websocket client (WsSpooler) driven end-to-end
  * against an in-process websocket server — handshake, frame receive,
  * count-based spool flush, atomic file handoff — and the spooled
  * files fed through the SAME trades pipeline the replay tests use.
  * This is the reference's `base.py:26` subscribe loop exercised for
  * real; only the remote endpoint (zero-egress) differs from prod. */
class WsSpoolerSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def tradeLine(i: Int): String =
    s"""{"e":"trade","E":${1727784000000L + i},"s":"BNBUSDT","t":$i,"p":"571.${i}0000000","q":"1.00000000","T":${1727784000000L + i},"m":false,"M":true}"""

  private val tradeLines = (1 to 7).map(tradeLine)

  /** Minimal websocket server: on handshake, pushes `messages` as text
    * frames, `gapMs` apart. Ephemeral port; call `port` after `start()`. */
  private final class TestWsServer(messages: Seq[String], gapMs: Long = 0) {
    private val group = new NioEventLoopGroup(1)
    private var ch: io.netty.channel.Channel = _

    def start(): Int = {
      val b = new ServerBootstrap()
        .group(group)
        .channel(classOf[NioServerSocketChannel])
        .childHandler(new ChannelInitializer[SocketChannel] {
          override def initChannel(sc: SocketChannel): Unit = {
            sc.pipeline()
              .addLast(new HttpServerCodec())
              .addLast(new HttpObjectAggregator(65536))
              .addLast(new WebSocketServerProtocolHandler("/ws"))
              .addLast(new ChannelInboundHandlerAdapter {
                override def userEventTriggered(ctx: ChannelHandlerContext,
                    evt: AnyRef): Unit = evt match {
                  case _: WebSocketServerProtocolHandler.HandshakeComplete =>
                    messages.zipWithIndex.foreach { case (m, i) =>
                      ctx.executor().schedule(new Runnable {
                        def run(): Unit = { ctx.writeAndFlush(new TextWebSocketFrame(m)); () }
                      }, gapMs * i, java.util.concurrent.TimeUnit.MILLISECONDS)
                    }
                  case other => super.userEventTriggered(ctx, other)
                }
              })
          }
        })
      ch = b.bind(0).sync().channel()
      ch.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
    }

    def stop(): Unit = {
      if (ch != null) ch.close().sync()
      group.shutdownGracefully().sync()
    }
  }

  test("live ws client spools frames that feed the trades pipeline") {
    val server = new TestWsServer(tradeLines)
    val port = server.start()
    val spoolRoot = tmp("wsspool")
    val streamDir = spoolRoot.resolve("bnbusdt.spot.trade")
    val spooler = new WsSpooler(
      URI.create(s"ws://127.0.0.1:$port/ws"), streamDir, flushEvery = 3)
    try {
      spooler.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spooler.messagesReceived < tradeLines.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spooler.failure.isEmpty, s"ws transport error: ${spooler.failure}")
      assert(spooler.messagesReceived == tradeLines.size,
        s"expected ${tradeLines.size} frames, got ${spooler.messagesReceived}")
    } finally {
      spooler.stop() // flushes the final partial batch
      server.stop()
    }

    // count-based flush: 7 messages at flushEvery=3 => files of 3,3,1
    val files = Files.list(streamDir).iterator()
    val names = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).toVector.sorted
    assert(names.size == 3 && names.forall(_.startsWith("spool-")), s"got $names")

    // The spool is a valid replay root: same pipeline, same rows.
    val raw = new Dsv2ReplaySource(spoolRoot.toString,
      fixedArrivalMs = Some(1727784005000L))
      .stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    val q = Pipelines.trades(raw)
      .writeStream.format("memory").queryName("ws_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ws_out").select("id").collect().map(_.getLong(0))
    assert(got.sorted.toSeq == (1L to 7L))
  }

  test("a spool that grows while the query runs is written once, in batchSize batches") {
    val messages = (1 to 20).map(tradeLine)
    val server = new TestWsServer(messages, gapMs = 50) // about 1 s of arrivals
    val port = server.start()
    val spoolRoot = tmp("wsspool-grow")
    val streamDir = spoolRoot.resolve("bnbusdt.spot.trade")
    Files.createDirectories(streamDir)
    val out = tmp("wsgrow-csv")
    // the query starts on the empty spool; files land while it runs
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString),
      new Dsv2ReplaySource(spoolRoot.toString, batchSize = 4, fixedArrivalMs = Some(1727784005000L)),
      Map.empty, checkpointRoot = tmp("ckpt").toString)
    val q = qs.head._1
    val spooler = new WsSpooler(
      URI.create(s"ws://127.0.0.1:$port/ws"), streamDir, flushEvery = 3)
    try {
      spooler.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spooler.messagesReceived < messages.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spooler.failure.isEmpty, s"ws transport error: ${spooler.failure}")
    } finally {
      spooler.stop()
      server.stop()
    }
    q.processAllAvailable()
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    Runner.stopAll(Seq(q))

    val ids = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
      .tail.map(_.split(",")(2).toLong)
    assert(ids.toSeq == (1L to 20L), "every spooled line written exactly once, in order")
    assert(sizes.sum == 20 && sizes.forall(_ <= 4), s"batch sizes $sizes")
  }

  /** Runs one spooler against a fresh server pushing `messages` and
    * stops it once every message arrived (the stop flushes the rest). */
  private def spoolAll(streamDir: Path, messages: Seq[String], flushEvery: Int): Unit = {
    val server = new TestWsServer(messages)
    val port = server.start()
    val spooler = new WsSpooler(
      URI.create(s"ws://127.0.0.1:$port/ws"), streamDir, flushEvery)
    try {
      spooler.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spooler.messagesReceived < messages.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spooler.failure.isEmpty, s"ws transport error: ${spooler.failure}")
      assert(spooler.messagesReceived == messages.size)
    } finally {
      spooler.stop()
      server.stop()
    }
  }

  private def spoolFiles(dir: Path): Map[String, Seq[Byte]] = {
    val files = Files.list(dir)
    try files.iterator().asScala.map(f =>
      f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("a restarted spooler numbers after the existing files and replaces none") {
    val spoolRoot = tmp("wsspool-restart")
    val streamDir = spoolRoot.resolve("bnbusdt.spot.trade")
    spoolAll(streamDir, (1 to 5).map(tradeLine), flushEvery = 2)
    val first = spoolFiles(streamDir)
    assert(first.keySet == Set("spool-00000000.jsonl", "spool-00000001.jsonl",
      "spool-00000002.jsonl"), s"got ${first.keySet}")

    // the replay reads the first spool, then follows the restart
    val raw = new Dsv2ReplaySource(spoolRoot.toString, batchSize = 3,
      fixedArrivalMs = Some(1727784005000L))
      .stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    val q = Pipelines.trades(raw)
      .writeStream.format("memory").queryName("ws_restart_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      spoolAll(streamDir, (6 to 10).map(tradeLine), flushEvery = 2)
      q.processAllAvailable()
    } finally q.stop()

    val second = spoolFiles(streamDir)
    assert(second.keySet == first.keySet ++ Set("spool-00000003.jsonl",
      "spool-00000004.jsonl", "spool-00000005.jsonl"), s"got ${second.keySet}")
    first.foreach { case (name, bytes) =>
      assert(second(name) == bytes, s"$name changed after the restart")
    }
    val got = spark.table("ws_restart_out").select("id").collect().map(_.getLong(0))
    assert(got.sorted.toSeq == (1L to 10L), "every spooled line admitted exactly once")
  }

  test("a flush onto an existing spool file fails instead of replacing it") {
    val dir = tmp("wsspool-clash")
    val taken = dir.resolve("spool-00000000.jsonl")
    Files.write(taken, Seq(tradeLine(1)).asJava)
    val before = Files.readAllBytes(taken).toSeq
    // never started, so it numbers from 0 onto the taken name
    val spooler = new WsSpooler(URI.create("ws://127.0.0.1:1/ws"), dir, flushEvery = 10)
    spooler.onMessage(tradeLine(2))
    intercept[java.nio.file.FileAlreadyExistsException](spooler.flush())
    assert(Files.readAllBytes(taken).toSeq == before)
    assert(spoolFiles(dir).keySet == Set("spool-00000000.jsonl"), "no temp file left")
  }

  // ---- depth: the reference's HARD half (spot_depth_etl.py:35-54) ----

  // Sync scenario over the live socket: snapshot lastUpdateId=158;
  // stale [150,155] (buffered, never emitted), bridge [156,159],
  // then a contiguous post-sync delta [160,163].
  private val depthLines = Seq(
    """{"result":null,"id":1}""", // subscribe ack: dropped by the parse gate
    """{"e":"depthUpdate","E":1727784000100,"s":"BNBUSDT","U":150,"u":155,"b":[["570.00000000","9.00000000"]],"a":[]}""",
    """{"e":"depthUpdate","E":1727784000200,"s":"BNBUSDT","U":156,"u":159,"b":[["571.00000000","1.50000000"],["570.90000000","0.00000000"]],"a":[["571.10000000","2.00000000"]]}""",
    """{"e":"depthUpdate","E":1727784000300,"s":"BNBUSDT","U":160,"u":163,"b":[],"a":[["571.20000000","3.00000000"]]}""")

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000"), Seq("570.80000000", "5.00000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  test("live ws depth spool drives snapshot + book sync to synced CSV rows") {
    val server = new TestWsServer(depthLines)
    val port = server.start()
    val spoolRoot = tmp("wsspool-depth")
    val streamDir = spoolRoot.resolve("bnbusdt.spot.depth")
    // flushEvery=2 splits the tape mid-sync (ack+stale | bridge+delta),
    // exercising the count-based flush + atomic-rename handoff on the
    // stateful path (cross-BATCH state carry is covered by ResumeSpec;
    // both spool files fit in one 1000-line batch here).
    val spooler = new WsSpooler(
      URI.create(s"ws://127.0.0.1:$port/ws"), streamDir, flushEvery = 2)
    try {
      spooler.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spooler.messagesReceived < depthLines.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spooler.failure.isEmpty, s"ws transport error: ${spooler.failure}")
    } finally {
      spooler.stop()
      server.stop()
    }

    // The spool root is a Runner fixture root: full production wiring —
    // snapshot injection, contiguity check, sync state machine, level
    // explode, header-once CSV sink (the reference's storage layout).
    val out = tmp("ws-depth-csv")
    val source = new Dsv2ReplaySource(spoolRoot.toString,
      fixedArrivalMs = Some(1727784001000L))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.depth"), out.toString),
      source, Map("bnbusdt.spot" -> snapshot),
      checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))

    val csv = java.nio.file.Files.readAllLines(
      out.resolve("bnbusdt.spot.depth.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,side,price,quantity,is_snapshot")
    val rows = csv.tail.toList
    // snapshot replay first (ts = arrival-1, asks before bids)
    assert(rows.take(3) == List(
      "1727784000999,1727784000999,ask,571.00000000,1.20000000,True",
      "1727784000999,1727784000999,bid,570.90000000,3.10000000,True",
      "1727784000999,1727784000999,bid,570.80000000,5.00000000,True"))
    // the stale pre-sync delta is never emitted
    assert(!rows.exists(_.contains("570.00000000")))
    // bridge emitted twice (reference fall-through double-save)
    assert(rows.count(
      _ == "1727784000200,1727784001000,ask,571.10000000,2.00000000,False") == 2)
    // post-sync delta passes through once
    assert(rows.count(
      _ == "1727784000300,1727784001000,ask,571.20000000,3.00000000,False") == 1)
  }
}
