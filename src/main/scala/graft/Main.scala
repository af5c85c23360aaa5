package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.streaming._
import graft.streaming.source.{Dsv2ReplaySource, RestSnapshotClient}

/** Config-driven entry point — the reference's `main.py` / config.json
  * lifecycle (SURVEY §3.1): load config (path from argv, CONFIG_PATH,
  * or ./config.json like utils.py:5-8), start one streaming query per
  * configured event id, await, stop gracefully on shutdown.
  *
  * Config shape (JSON, parsed with Spark's own JSON reader — no extra
  * dependencies):
  * {{{
  * {
  *   "events": ["binance.spot.bnbusdt.trade", "binance.spot.bnbusdt.depth"],
  *   "storage": {"base_path": "./data", "batch_size": 1000},
  *   "replay": {"fixture_root": "/path/to/tapes", "arrival_ms": 1727784001000},
  *   "snapshot_dir": "/path/to/snapshots"   // {symbol}.{market}.snapshot.json
  * }
  * }}}
  * Snapshot files carry the REST wire shape (FIXTURES §2.3):
  * {"lastUpdateId": 158, "bids": [["p","q"],...], "asks": [...]}.
  */
object Main {

  /** Dotted-path lookup over the spark-parsed config Row (nested Rows
    * for nested JSON objects) — shared with the config-fixture tests
    * so what the tests assert is what main() wires. */
  def configReader(cfg: org.apache.spark.sql.Row)(
      path: String, default: String): String =
    try {
      val v = path.split('.').foldLeft(cfg: Any) {
        case (row: org.apache.spark.sql.Row, f) => row.getAs[Any](f)
        case (other, _) => other
      }
      Option(v).map(_.toString).getOrElse(default)
    } catch { case _: Exception => default }

  /** Driver-side snapshot load before start (SURVEY §3.3), once per
    * symbol whose stream syncs a book — Runner's stream table says
    * which (`depth` and `tob`). A `{symbol}.{market}.snapshot.json`
    * file under `snapshotDir` wins (replay determinism); otherwise
    * `restBase` is fetched LIVE — the reference's REST GET
    * (book_utils.py:29). Both go through the one wire-shape parser. */
  def loadSnapshots(events: Seq[String], snapshotDir: Option[String],
      restBase: Option[String]): Map[String, BookSnapshot] =
    events.map(EventId.parse).filter(Runner.needsSnapshot).distinctBy(_.symbolId)
      .flatMap { id =>
        snapshotDir.map(Paths.get(_, s"${id.symbolId}.snapshot.json"))
          .filter(Files.exists(_))
          .map(f => RestSnapshotClient.parse(Files.readString(f)))
          .orElse(restBase.map(base =>
            new RestSnapshotClient(URI.create(base)).fetchRetrying(id.symbol)))
          .map(id.symbolId -> _)
      }.toMap

  def main(args: Array[String]): Unit = {
    val configPath = args.headOption
      .orElse(sys.env.get("CONFIG_PATH"))
      .getOrElse("./config.json")

    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = spark.read.option("multiLine", "true").json(configPath).head()
    def str(path: String, default: String = null): String =
      Main.configReader(cfg)(path, default)

    // logging-config parity (reference logger.py:22-52): the config's
    // logging block drives the pipeline's own lifecycle messages.
    val log = Log.getLogger("graft.main", Log.configFrom(str(_, _)))

    val events = cfg.getAs[scala.collection.Seq[String]]("events").toSeq
    val basePath = str("storage.base_path", "./data")
    val batchSize = str("storage.batch_size", "1000").toDouble.toInt
    val sinkFormat = str("storage.format", "csv")
    val fixtureRoot = str("replay.fixture_root")
    require(fixtureRoot != null,
      "replay.fixture_root is required (zero-egress build replays tapes; " +
        "a live websocket EventSource drops into the same Runner)")
    val arrivalMs = Option(str("replay.arrival_ms")).map(_.toDouble.toLong)
    val snapshotDir = Option(str("snapshot_dir"))
    val snapshotRestBase = Option(str("snapshot_rest_base"))

    val snapshots = loadSnapshots(events, snapshotDir, snapshotRestBase)
    val source = new Dsv2ReplaySource(fixtureRoot, batchSize, arrivalMs)
    val queries = Runner.startWithSinks(spark,
      StreamConfig(events, basePath, batchSize, sinkFormat), source, snapshots)
    log.info(s"started ${queries.size} stream(s): ${events.mkString(", ")}")
    sys.addShutdownHook {
      queries.foreach { case (q, sink) =>
        log.info(s"${q.name}: messages=${Runner.totalMessages(q)} " +
          s"rows=${Runner.totalRows(q)}" +
          sink.map(s => s" batches_saved=${s.batchesSaved}").getOrElse(""))
      }
    }
    Runner.await(spark, queries.map(_._1))
  }
}
