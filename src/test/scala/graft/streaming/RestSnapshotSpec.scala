package graft.streaming

import java.net.{InetSocketAddress, URI}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkSpec
import graft.streaming.source.{Dsv2ReplaySource, RestSnapshotClient, WsSpooler}
import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http.{HttpObjectAggregator, HttpServerCodec}
import io.netty.handler.codec.http.websocketx.{TextWebSocketFrame, WebSocketServerProtocolHandler}

/** §2.1 #3's LIVE half: the REST order-book snapshot fetcher
  * (book_utils.py:13,29 — `GET /api/v3/depth, limit=1000`) driven
  * against an in-process HTTP server, then the FULL live-depth path
  * with ZERO constructor-provided state: ws server → WsSpooler →
  * spool files → replay source → REST-fetched snapshot → book sync →
  * CSV — the complete reference depth pipeline where every input
  * arrives over a (local) wire. */
class RestSnapshotSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  // FIXTURES §2.4 sync scenario: snapshot lastUpdateId=158; stale
  // [150,155], bridge [156,159], contiguous delta [160,163].
  private val depthFrames = Seq(
    """{"result":null,"id":1}""",
    """{"e":"depthUpdate","E":1727784000100,"s":"BNBUSDT","U":150,"u":155,"b":[["570.00000000","9.00000000"]],"a":[]}""",
    """{"e":"depthUpdate","E":1727784000200,"s":"BNBUSDT","U":156,"u":159,"b":[["571.00000000","1.50000000"],["570.90000000","0.00000000"]],"a":[["571.10000000","2.00000000"]]}""",
    """{"e":"depthUpdate","E":1727784000300,"s":"BNBUSDT","U":160,"u":163,"b":[],"a":[["571.20000000","3.00000000"]]}""")

  private val snapshotJson =
    """{"lastUpdateId": 158,
      | "bids": [["570.90000000", "3.10000000"], ["570.80000000", "5.00000000"]],
      | "asks": [["571.00000000", "1.20000000"]]}""".stripMargin

  /** Depth-endpoint HTTP server on an ephemeral port; records the
    * request paths it served. */
  private final class TestRestServer(body: String, status: Int = 200) {
    val served = new java.util.concurrent.CopyOnWriteArrayList[String]
    private var server: HttpServer = _
    def start(): Int = {
      server = HttpServer.create(new InetSocketAddress(0), 0)
      server.createContext("/api/v3/depth", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          served.add(ex.getRequestURI.toString)
          val bytes = body.getBytes("UTF-8")
          ex.sendResponseHeaders(status, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      server.start()
      server.getAddress.getPort
    }
    def stop(): Unit = if (server != null) server.stop(0)
  }

  /** Minimal ws server (the WsSpoolerSpec shape): pushes `messages`
    * as text frames after the handshake. */
  private final class TestWsServer(messages: Seq[String]) {
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
                    messages.foreach(m => ctx.writeAndFlush(new TextWebSocketFrame(m)))
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

  test("fetch: GET /api/v3/depth with symbol+limit, strings verbatim") {
    val server = new TestRestServer(snapshotJson)
    val port = server.start()
    try {
      val snap = new RestSnapshotClient(URI.create(s"http://127.0.0.1:$port"))
        .fetch("bnbusdt")
      // book_utils.py:29: symbol UPPERCASED, limit=1000
      assert(server.served.asScala.toList ==
        List("/api/v3/depth?symbol=BNBUSDT&limit=1000"))
      assert(snap.lastUpdateId == 158L)
      assert(snap.bids == Seq(Seq("570.90000000", "3.10000000"),
        Seq("570.80000000", "5.00000000")))
      assert(snap.asks == Seq(Seq("571.00000000", "1.20000000")))
    } finally server.stop()
  }

  test("fetch: non-200 and malformed bodies throw (caller owns retry)") {
    val bad = new TestRestServer("""{"code":-1121,"msg":"Invalid symbol."}""", 400)
    val port = bad.start()
    try intercept[IllegalArgumentException] {
      new RestSnapshotClient(URI.create(s"http://127.0.0.1:$port")).fetch("nope")
    } finally bad.stop()
    Seq("""{"bids": [], "asks": []}""", // no lastUpdateId
        """{"lastUpdateId":"abc","bids":[],"asks":[]}""",
        """{"lastUpdateId":158.5,"bids":[],"asks":[]}""",
        """{"lastUpdateId":158,"bids":"x","asks":[]}""",
        """{"lastUpdateId":158,"bids":[],"asks":{"a":["571.0","1.2"]}}""",
        """{"lastUpdateId":158,"bids":["570.9"],"asks":[]}""").foreach { body =>
      val ex = intercept[IllegalArgumentException](RestSnapshotClient.parse(body))
      assert(ex.getMessage.contains("malformed depth snapshot"), ex.getMessage)
    }
  }

  test("fetchRetrying: transient failures retried, success returned, exhaustion rethrows") {
    // the reference's warn-and-retry (book_utils.py:30-33), bounded
    val failing = new TestRestServer("""{"msg":"teapot"}""", 503)
    val failPort = failing.start()
    try {
      val c = new RestSnapshotClient(URI.create(s"http://127.0.0.1:$failPort"))
      val t0 = System.nanoTime()
      intercept[IllegalArgumentException] {
        c.fetchRetrying("bnbusdt", attempts = 3, delayMs = 10)
      }
      assert(failing.served.size == 3, s"must try exactly 3 times: ${failing.served.size}")
      assert((System.nanoTime() - t0) >= 20L * 1000 * 1000, "must sleep between attempts")
    } finally failing.stop()
    val ok = new TestRestServer(snapshotJson)
    val okPort = ok.start()
    try {
      val snap = new RestSnapshotClient(URI.create(s"http://127.0.0.1:$okPort"))
        .fetchRetrying("bnbusdt", attempts = 2, delayMs = 10)
      assert(snap.lastUpdateId == 158L)
    } finally ok.stop()
  }

  test("live E2E: ws spool + REST snapshot -> sync -> CSV, zero injected state") {
    val ws = new TestWsServer(depthFrames)
    val rest = new TestRestServer(snapshotJson)
    val wsPort = ws.start()
    val restPort = rest.start()
    val fixtures = tmp("live-fixtures")
    val out = tmp("live-csv")
    try {
      // 1. live ws -> spool files (the replay tape IS the live tape)
      val spooler = new WsSpooler(URI.create(s"ws://127.0.0.1:$wsPort/ws"),
        fixtures.resolve("bnbusdt.spot.depth"), flushEvery = 2)
      spooler.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spooler.messagesReceived < depthFrames.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      spooler.stop()
      assert(spooler.failure.isEmpty, s"ws transport error: ${spooler.failure}")

      // 2. live REST snapshot — no constructor-provided BookSnapshot
      val snap = new RestSnapshotClient(URI.create(s"http://127.0.0.1:$restPort"))
        .fetch("bnbusdt")

      // 3-4. the standard Runner path: sync + CSV sink
      val source = new Dsv2ReplaySource(fixtures.toString,
        fixedArrivalMs = Some(1727784001000L))
      val qs = Runner.startWithSinks(spark,
        StreamConfig(Seq("binance.spot.bnbusdt.depth"), out.toString),
        source, Map("bnbusdt.spot" -> snap),
        checkpointRoot = tmp("ckpt").toString)
      qs.foreach(_._1.processAllAvailable())
      Runner.stopAll(qs.map(_._1))

      val csv = Files.readAllLines(out.resolve("bnbusdt.spot.depth.csv")).asScala
      assert(csv.head == "timestamp,local_timestamp,side,price,quantity,is_snapshot")
      val rows = csv.tail.toList
      // REST snapshot rows land first (is_snapshot=true, asks<bids order)
      assert(rows.take(3) == List(
        "1727784000999,1727784000999,ask,571.00000000,1.20000000,True",
        "1727784000999,1727784000999,bid,570.90000000,3.10000000,True",
        "1727784000999,1727784000999,bid,570.80000000,5.00000000,True"))
      // stale delta [150,155] gated by the REST lastUpdateId
      assert(!rows.exists(_.contains("570.00000000")))
      // post-sync delta emitted
      assert(rows.exists(_.contains("571.20000000")))
    } finally {
      ws.stop()
      rest.stop()
    }
  }
}
