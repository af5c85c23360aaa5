package graft.streaming.source

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.streaming.BookSnapshot

/** Live REST order-book snapshot fetch — the reference's
  * `binance_client.depth(symbol.upper(), limit=1000)`
  * (`binance_etl/library/book_utils.py:13,29`) re-expressed on the JDK
  * http client, the [[WsSpooler]] discipline applied to the REST half:
  * a real client, zero new dependencies, exercised end-to-end against
  * an in-process HTTP server (RestSnapshotSpec) because the production
  * endpoint is unreachable from this zero-egress environment.
  *
  * Wire shape (FIXTURES.md §2.3; the Binance `GET /api/v3/depth`
  * response): `{"lastUpdateId": N, "bids": [["p","q"],...], "asks":
  * [...]}`. Price/quantity stay decimal STRINGS end-to-end — the
  * SURVEY §1.4 numeric-fidelity rule. Parsing uses jackson-databind,
  * which ships on every Spark classpath (Spark's own JSON dependency),
  * not a new library.
  *
  * The fetch is a DRIVER-side call made once per depth stream before
  * it starts (SURVEY §3.3) — never a blocking call inside an executor
  * task; the result feeds `Runner(snapshots = ...)` exactly like a
  * file-loaded snapshot.
  */
final class RestSnapshotClient(
    baseUri: URI,
    limit: Int = 1000,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(10)) {

  private val http = HttpClient.newBuilder().connectTimeout(timeout).build()

  /** The reference's retry semantics, driver-side: book_utils.py:30-33
    * catches the failed GET, warns, and tries again when the next
    * update arrives — an unbounded every-~100ms retry. Re-expressed as
    * a bounded pre-start retry loop (the fetch happens BEFORE the
    * stream exists here, so "next update" has no meaning yet and an
    * unbounded loop would hang a misconfigured deploy forever). */
  def fetchRetrying(symbol: String, attempts: Int = 5,
      delayMs: Long = 1000): BookSnapshot = {
    var last: Throwable = null
    (1 to attempts).foreach { i =>
      try return fetch(symbol)
      catch {
        case t: Throwable =>
          last = t
          System.err.println(
            s"snapshot fetch $i/$attempts for $symbol failed: ${t.getMessage}")
          if (i < attempts) Thread.sleep(delayMs)
      }
    }
    throw last
  }

  /** `GET {base}/api/v3/depth?symbol=SYMBOL&limit=N` → snapshot.
    * Throws on a non-200 status or malformed body: the reference
    * catches, warns, and retries (book_utils.py:30-33) — see
    * [[fetchRetrying]]. */
  def fetch(symbol: String): BookSnapshot = {
    val uri = URI.create(s"${baseUri.toString.stripSuffix("/")}" +
      s"/api/v3/depth?symbol=${symbol.toUpperCase}&limit=$limit")
    val res = http.send(
      HttpRequest.newBuilder(uri).timeout(timeout).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(res.statusCode() == 200,
      s"depth snapshot GET $uri failed: HTTP ${res.statusCode()}")
    RestSnapshotClient.parse(res.body())
  }
}

object RestSnapshotClient {

  /** The reference's production endpoint (binance-connector `Spot()`
    * default base) — unreachable here, documented for completeness. */
  val BinanceSpotBase: URI = URI.create("https://api.binance.com")

  private val mapper = new ObjectMapper()

  private def levels(n: JsonNode): Seq[Seq[String]] =
    n.elements().asScala.map(l =>
      l.elements().asScala.map(_.asText()).toSeq).toSeq

  private def isSide(n: JsonNode): Boolean =
    n.isArray && n.elements().asScala.forall(_.isArray)

  /** Parses the depth-snapshot wire JSON — the one parser for REST
    * bodies and `snapshot_dir` files alike. Non-JSON and a wrong shape
    * both fail as `malformed depth snapshot`: `lastUpdateId` must be an
    * integral number that fits a long, and each side an array of
    * array levels. Jackson's lenient accessors would otherwise read
    * `"lastUpdateId":"abc"` as 0 (a snapshot no update ever bridges),
    * a string side as no levels, and an object side as its values. */
  private[graft] def parse(body: String): BookSnapshot = {
    val root = try mapper.readTree(body)
      catch { case _: JsonProcessingException => null }
    val id = if (root == null) null else root.path("lastUpdateId")
    require(id != null && id.isIntegralNumber && id.canConvertToLong &&
      isSide(root.path("bids")) && isSide(root.path("asks")),
      s"malformed depth snapshot: ${body.take(200)}")
    BookSnapshot(id.asLong(), levels(root.get("bids")), levels(root.get("asks")))
  }
}
