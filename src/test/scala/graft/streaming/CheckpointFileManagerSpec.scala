package graft.streaming

import java.nio.file.{Files, StandardOpenOption, Path => NioPath}

import graft.{Bench, SparkSpec}
import graft.streaming.source.Dsv2ReplaySource
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordedFrame, RecordingFile}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import scala.jdk.CollectionConverters._

/** Streaming checkpoints go through [[Bench.CheckpointFileManagerClass]]:
  * a book-synced depth batch renames its offset log, commit log and
  * state deltas without forking `readlink`, and a checkpoint written by
  * Spark's default manager resumes under it byte-identically. */
class CheckpointFileManagerSpec extends SparkSpec {

  private def tmp(p: String): NioPath = Files.createTempDirectory(p)

  // FIXTURES §2.4 sync scenario: snapshot lastUpdateId=158, one stale
  // delta, the bridge, then contiguous deltas.
  private def depthLine(u0: Long, px: String): String =
    s"""{"e":"depthUpdate","E":${1727784000000L + u0},"s":"BNBUSDT","U":$u0,"u":${u0 + 3},"b":[["$px","1.00000000"]],"a":[["571.90000000","2.00000000"]]}"""

  private val depthTape: Seq[String] =
    Seq(depthLine(152, "570.00000000"), depthLine(156, "570.50000000")) ++
      (0 until 8).map(i => depthLine(160 + 4 * i, f"${570.0 + i * 0.1}%.8f"))

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  private def writeTape(fixtures: NioPath, lines: Seq[String]): Unit = {
    val dir = fixtures.resolve("bnbusdt.spot.depth")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), lines.asJava,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** `depthRecords` → `BookSynchronizer` → `depthRows` →
    * `CsvAppendSink.forDepth` over the tape at 2 messages a batch, run
    * to the end of the tape in `session`. Returns the batches written. */
  private def drain(session: SparkSession, fixtures: NioPath, out: NioPath,
      ckpt: NioPath, fresh: Boolean): Long = {
    val raw = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
      .stream(session, EventId("binance", "spot", "bnbusdt", "depth"))
    val rows = Pipelines.depthRows(BookSynchronizer.apply(
      Pipelines.depthRecords(raw), "spot", "bnbusdt", snapshot))
    val sink = CsvAppendSink.forDepth(out.toString, "bnbusdt", "spot",
      truncateOnStart = fresh)
    val q = rows.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch((df: DataFrame, bid: Long) => sink.writeBatch(df, bid))
      .start()
    try q.processAllAvailable() finally q.stop()
    sink.batchesSaved
  }

  /** Every `jdk.ProcessStart` event `body` causes in this JVM, with its
    * stack trace. Other suites share the JVM, so callers filter by stack. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def frames(e: RecordedEvent): Seq[RecordedFrame] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)

  test("a book-synced depth stream forks no readlink while it checkpoints 3 batches") {
    val fixtures = tmp("ckfmfix")
    writeTape(fixtures, depthTape.take(6))
    var batches = 0L
    val starts = processStarts {
      batches = drain(spark, fixtures, tmp("ckfmcsv"), tmp("ckfmckpt"), fresh = true)
      // the recording's own check: a fork from here is seen with its stack
      new ProcessBuilder("true").start().waitFor()
    }
    assert(batches == 3, s"expected 3 micro-batches, wrote $batches")
    assert(starts.exists(e => e.getString("command") == "true" &&
      frames(e).exists(_.getMethod.getType.getName.startsWith(getClass.getName))),
      "the recording did not see this suite's own process start with its stack")
    val readlinks = starts.filter(frames(_).exists { f =>
      f.getMethod.getType.getName == "org.apache.hadoop.fs.FileUtil" &&
        f.getMethod.getName == "readLink"
    })
    assert(readlinks.size == 0, "readlink forks from checkpoint I/O: " +
      readlinks.map(_.getString("command")).distinct.take(3).mkString("; "))
  }

  test("a checkpoint written by FileContextBasedCheckpointFileManager resumes byte-identically") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val legacy = spark.newSession()
    legacy.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    def manager(s: SparkSession) =
      CheckpointFileManager.create(new Path(tmp("ckfm").toString), s.sessionState.newHadoopConf())
    assert(manager(legacy).isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(manager(spark).getClass.getName == Bench.CheckpointFileManagerClass)

    // 2 batches under the old manager, then the rest of the tape under
    // the default, against the same checkpoint and CSV
    val fixtures = tmp("ckfmfix")
    val out = tmp("ckfmcsv")
    val ckpt = tmp("ckfmckpt")
    writeTape(fixtures, depthTape.take(4))
    assert(drain(legacy, fixtures, out, ckpt, fresh = true) == 2)
    writeTape(fixtures, depthTape.drop(4))
    assert(drain(spark, fixtures, out, ckpt, fresh = false) == 3)
    val resumed = Files.readAllBytes(out.resolve("bnbusdt.spot.depth.csv"))

    val refFixtures = tmp("ckfmreffix")
    val refOut = tmp("ckfmref")
    writeTape(refFixtures, depthTape)
    assert(drain(spark, refFixtures, refOut, tmp("ckfmrefckpt"), fresh = true) == 5)
    val reference = Files.readAllBytes(refOut.resolve("bnbusdt.spot.depth.csv"))
    assert(new String(resumed, "UTF-8") == new String(reference, "UTF-8"))
  }

  /** Copies the test resource tree `name` into a fresh directory. */
  private def resourceCopy(name: String): NioPath = {
    val from = java.nio.file.Paths.get(getClass.getResource(name).toURI)
    val to = tmp("ckfmres")
    Files.walk(from).iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    to
  }

  test("a checkpoint written when the sync carried parsed levels resumes byte-identically") {
    // written by the code that parsed bids/asks before the book sync:
    // the first 4 lines of the tape at 2 a batch, its CSV and sidecar
    val old = resourceCopy("/graft/streaming/nested-levels-checkpoint")
    val fixtures = tmp("ckfmfix")
    writeTape(fixtures, depthTape)
    assert(drain(spark, fixtures, old.resolve("csv"), old.resolve("checkpoint"), fresh = false) == 3)
    val resumed = Files.readAllBytes(old.resolve("csv").resolve("bnbusdt.spot.depth.csv"))

    val refOut = tmp("ckfmref")
    assert(drain(spark, fixtures, refOut, tmp("ckfmrefckpt"), fresh = true) == 5)
    val reference = Files.readAllBytes(refOut.resolve("bnbusdt.spot.depth.csv"))
    assert(new String(resumed, "UTF-8") == new String(reference, "UTF-8"))
  }
}
