package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.Dsv2ReplaySource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Mid-stream kill-and-resume E2E (round 6, VERDICT r5 #5): ResumeSpec
  * proves a clean stop + restart-with-more-data; these tests prove the
  * two UNCLEAN windows a production stream actually dies in.
  *
  * - s05 (depth → book-sync → CSV): the query is stopped between two
  *   admitted micro-batches with most of the tape still unread, then
  *   restarted from the checkpoint. The whole pipeline is stateful
  *   (BookSynchronizer's sync state machine rides
  *   flatMapGroupsWithState), so resume must restore the
  *   mid-synchronization state, not just the source offset. The
  *   assertion is total: the killed-and-resumed CSV must be
  *   byte-identical to an uninterrupted run of the same tape.
  *
  * - s19 (ingest dedup → IdempotentSink): the crash lands in the
  *   at-least-once window — AFTER the batch's parquet write, BEFORE
  *   the checkpoint commit. The restart REPLAYS that batch, and the
  *   sink's dynamic partition overwrite must replace the orphaned
  *   write instead of duplicating it (the recipe
  *   IdempotentSink.putBatch exists for). The assertion is the
  *   exactly-once contract: resumed verdicts ≡ the one-shot batch
  *   gate, one verdict per doc.
  */
class KillResumeSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  // FIXTURES §2.4 sync scenario: snapshot lastUpdateId=158, one stale
  // delta, the bridge, then a long contiguous run so a mid-tape kill
  // always has unread messages behind it.
  private def depthLine(u0: Long, u1: Long, px: String): String =
    s"""{"e":"depthUpdate","E":${1727784000000L + u0},"s":"BNBUSDT","U":$u0,"u":$u1,"b":[["$px","1.00000000"]],"a":[["571.90000000","2.00000000"]]}"""

  private val depthTape: Seq[String] =
    Seq("""{"result":null,"id":1}""",
      depthLine(150, 155, "570.00000000"), // stale (≤ snapshot id)
      depthLine(156, 159, "570.50000000")) ++ // bridge
      (0 until 12).map(i => depthLine(160 + 4 * i, 163 + 4 * i,
        f"${570.0 + i * 0.1}%.8f"))

  private val snapshot = BookSnapshot(158,
    bids = Seq(Seq("570.90000000", "3.10000000")),
    asks = Seq(Seq("571.00000000", "1.20000000")))

  /** Run the s05 depth pipeline over `fixtures` to completion. */
  private def runDepth(fixtures: Path, out: Path, ckpt: Path): Unit = {
    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.depth"), out.toString),
      source, Map("bnbusdt.spot" -> snapshot), checkpointRoot = ckpt.toString)
    val q = qs.head._1
    q.processAllAvailable()
    Runner.stopAll(Seq(q))
  }

  /** Start the pipeline and stop it BETWEEN two admitted batches: as
    * soon as the first data batch's rows hit the sink file (the
    * buffered writer flushes at batch close, so visibility ≈ commit),
    * with ~1s until the next trigger tick. Returns false when the stop
    * raced an executing batch instead (the query died noisily — under
    * suite-wide load the poll can lag a full trigger interval); the
    * caller retries with fresh dirs, since a mid-WRITE interrupt is
    * the CSV sink's documented residual at-least-once window (see
    * CsvAppendSink: true exactly-once needs the parquet sink). */
  private def runDepthKilled(fixtures: Path, out: Path, ckpt: Path): Boolean = {
    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.depth"), out.toString),
      source, Map("bnbusdt.spot" -> snapshot), checkpointRoot = ckpt.toString)
    val q = qs.head._1
    val csv = out.resolve("bnbusdt.spot.depth.csv")
    def dataRows = if (Files.exists(csv)) Files.readAllLines(csv).size - 1 else 0
    val deadline = System.currentTimeMillis() + 60000
    while (dataRows < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(dataRows >= 1, "no data batch committed before the deadline")
    q.stop()
    try { q.awaitTermination(30000); true }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }
  }

  /** Kills the s05 pipeline between two batches while only `tapes.head`
    * is on disk, writes the other tapes (files that sort after it),
    * resumes from the checkpoint, and returns the rows at the kill, the
    * resumed CSV and an uninterrupted run's CSV over every tape. */
  private def killAndResume(tapes: Seq[Seq[String]]): (Int, Seq[String], Seq[String]) = {
    val fixtures = tmp("krfix")
    val dir = fixtures.resolve("bnbusdt.spot.depth")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), tapes.head.asJava)

    // killed run: retry until the stop lands cleanly between batches
    var out: Path = null
    var ckpt: Path = null
    var clean = false
    var attempts = 0
    while (!clean && attempts < 5) {
      out = tmp("krcsv")
      ckpt = tmp("krckpt")
      clean = runDepthKilled(fixtures, out, ckpt)
      attempts += 1
    }
    assert(clean, s"no clean between-batch kill in $attempts attempts")
    val atKill = Files.readAllLines(out.resolve("bnbusdt.spot.depth.csv")).asScala.size
    tapes.tail.zipWithIndex.foreach { case (t, i) =>
      Files.write(dir.resolve(s"more-$i.jsonl"), t.asJava)
    }
    runDepth(fixtures, out, ckpt)
    val resumed = Files.readAllLines(out.resolve("bnbusdt.spot.depth.csv")).asScala

    // uninterrupted reference run (fresh checkpoint + sink)
    val refOut = tmp("krref")
    runDepth(fixtures, refOut, tmp("krrefckpt"))
    val reference = Files.readAllLines(refOut.resolve("bnbusdt.spot.depth.csv")).asScala
    (atKill, resumed.toSeq, reference.toSeq)
  }

  test("s05 kill between batches: resumed CSV is byte-identical to an uninterrupted run") {
    val (atKill, resumed, reference) = killAndResume(Seq(depthTape))

    // the kill landed mid-tape (something written, something left)
    assert(atKill >= 1 && atKill < reference.size,
      s"kill must land mid-tape: $atKill of ${reference.size} rows at stop")
    assert(resumed == reference,
      s"resumed CSV diverged:\nresumed=${resumed.mkString("|")}\nreference=${reference.mkString("|")}")
    assert(resumed.count(_.startsWith("timestamp,")) == 1)
  }

  test("s05 kill, files added before the resume: resumed CSV equals an uninterrupted run") {
    val (atKill, resumed, reference) =
      killAndResume(Seq(depthTape.take(7), depthTape.slice(7, 11), depthTape.drop(11)))
    assert(atKill >= 1 && atKill < reference.size,
      s"kill must land mid-tape: $atKill of ${reference.size} rows at stop")
    assert(resumed == reference,
      s"resumed CSV diverged:\nresumed=${resumed.mkString("|")}\nreference=${reference.mkString("|")}")
    // header, snapshot bid and ask, the bridge twice, 12 deltas
    assert(reference.size == 1 + 2 + 2 * 2 + 12 * 2, "every added delta is written")
  }

  test("s19 crash after write, before commit: replayed batch overwrites, verdicts exactly once") {
    val docs = graft.T.tbl(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val idx = StreamingIngestDedup.buildIndex(
      docs.filter(col("source") =!= "src1").select("doc_id", "text"))
    val incoming = docs.filter(col("source") === "src1")
      .select("doc_id", "text").collect()
    assert(incoming.length >= 3, "fixture must have ≥3 src1 docs")

    // three jsonl shards → three AvailableNow micro-batches
    val landing = tmp("kr19").resolve("landing")
    Files.createDirectories(landing)
    incoming.grouped((incoming.length + 2) / 3).zipWithIndex.foreach {
      case (chunk, i) =>
        Files.write(landing.resolve(s"shard$i.jsonl"), chunk.map(r =>
          s"""{"doc_id": ${r.getLong(0)}, "text": "${escJson(r.getString(1))}"}""")
          .toSeq.asJava)
    }
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(landing.toString)

    val outDir = tmp("kr19-out").toString + "/verdicts"
    val ckpt = tmp("kr19-ckpt").toString
    // same gate + sink as StreamingIngestDedup.start, plus a one-shot
    // fault injected INSIDE the at-least-once window: batch 1's
    // parquet is on disk, its checkpoint commit never happens
    def startWith(crashOnBatch: Option[Long]) = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        IdempotentSink.putBatch(StreamingIngestDedup.gate(batch, idx), id, outDir)
        if (crashOnBatch.contains(id))
          throw new RuntimeException("injected crash after write, before commit")
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

    val crashed = startWith(crashOnBatch = Some(1L))
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashed.awaitTermination()
    }
    assert(failure.getMessage.contains("injected crash"))
    // the orphaned write is REAL: batch 1's partition exists on disk
    // even though its offsets were never committed
    val orphan = spark.read.parquet(outDir)
      .filter(col("batch_id") === 1L).count()
    assert(orphan > 0, "crash must land after the batch-1 write")

    val resumed = startWith(crashOnBatch = None)
    resumed.awaitTermination(120000)

    // exactly-once: resumed verdicts ≡ the one-shot batch gate
    val got = spark.read.parquet(outDir)
      .select("doc_id", "best_match", "jaccard", "action")
      .collect().map(_.toSeq).toSeq
    assert(got.map(_.head).distinct.size == got.size,
      "a doc got duplicate verdicts across the replayed batch")
    val expect = StreamingIngestDedup.gate(
        docs.filter(col("source") === "src1").select("doc_id", "text"), idx)
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expect,
      s"resumed verdicts diverge from the batch gate: ${got.toSet.diff(expect)}")
  }
}
