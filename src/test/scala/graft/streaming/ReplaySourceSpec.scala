package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.source.{Dsv2ReplaySource, LineOffset, ReplayDataSource, ReplayMicroBatchStream, ReplayPartition}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.StreamingQueryException

import scala.jdk.CollectionConverters._

/** s01 via the DataSourceV2 micro-batch source: replay order, schema
  * contract, and the reference's count-based batch admission
  * (storage.py:24-36 semantics at the source). */
class ReplaySourceSpec extends SparkSpec {

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private val tradeLines = (1 to 7).map { i =>
    s"""{"e":"trade","E":${1727784000000L + i},"s":"BNBUSDT","t":$i,"p":"571.${i}0000000","q":"1.00000000","T":${1727784000000L + i},"m":false,"M":true}"""
  }

  test("dsv2 replay: batchSize admission yields multiple micro-batches in order") {
    val fixtures = tmp("dsv2fix")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), tradeLines.asJava)

    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 3,
      fixedArrivalMs = Some(1727784005000L))
    val raw = source.stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    assert(raw.schema.fieldNames.toSeq == Seq("value", "local_timestamp"))

    val q = Pipelines.trades(raw)
      .writeStream.format("memory").queryName("dsv2_out")
      .option("checkpointLocation", tmp("ckpt").toString)
      .start()
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()

    // 7 messages at batchSize=3 => micro-batches of 3,3,1 (count admission)
    assert(batches.map(_.numInputRows).toSeq == Seq(3L, 3L, 1L))
    val got = spark.table("dsv2_out").select("id").collect().map(_.getLong(0))
    assert(got.sorted.toSeq == (1L to 7L))
  }

  test("dsv2 replay feeds the full CSV pipeline like the file source") {
    val fixtures = tmp("dsv2fix2")
    val out = tmp("dsv2csv")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("messages.jsonl"), tradeLines.asJava)

    val source = new Dsv2ReplaySource(fixtures.toString, batchSize = 2,
      fixedArrivalMs = Some(1727784005000L))
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq("binance.spot.bnbusdt.trade"), out.toString),
      source, Map.empty, checkpointRoot = tmp("ckpt").toString)
    qs.foreach(_._1.processAllAvailable())
    Runner.stopAll(qs.map(_._1))

    val csv = Files.readAllLines(out.resolve("bnbusdt.spot.trades.csv")).asScala
    assert(csv.head == "timestamp,local_timestamp,id,price,quantity,side")
    assert(csv.size == 8) // header + 7 rows
    // multiple flushes (count batching), header only once
    assert(qs.head._2.get.batchesSaved == 4) // ceil(7/2)
    assert(csv.count(_.startsWith("timestamp,")) == 1)
  }

  /** Every line the source admits under `path`, batch by batch, read
    * through its DSv2 surface with `n` lines a batch. */
  private def batches(path: Path, n: Int): Seq[Seq[String]] = {
    val stream = new ReplayMicroBatchStream(path.toString, n, Some(1L))
    val factory = stream.createReaderFactory()
    Iterator.iterate((stream.initialOffset(), stream.initialOffset())) { case (_, end) =>
      (end, stream.latestOffset(end, ReadLimit.maxRows(n)))
    }.drop(1).takeWhile { case (s, e) => s != e }.map { case (s, e) =>
      stream.planInputPartitions(s, e).toSeq.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map(_.get().getString(0)).toVector
        finally r.close()
      }
    }.toVector
  }

  test("replay lines are Files.lines' lines in 1-, 7- and stride+1-line batches") {
    val dir = tmp("dsv2lines")
    // `\r\n`, lone `\r`, `\n`, blank lines and multi-byte UTF-8 over
    // more than one index stride; the first file ends in a lone `\r`,
    // the second has no final newline
    val ends = Seq("\r\n", "\n", "\r", "\n")
    def tape(from: Int, to: Int, last: String): String =
      (from until to).map { i =>
        val text = if (i % 11 == 0) "" else s"""{"i":$i,"s":"${Seq("", "é", "é€", "é€😀")(i % 4)}"}"""
        text + (if (i == to - 1) last else ends(i % 4))
      }.mkString
    Files.write(dir.resolve("a.jsonl"), tape(0, 200, "\r").getBytes(UTF_8))
    Files.write(dir.resolve("b.jsonl"), tape(200, 350, "").getBytes(UTF_8))
    val expected = Seq("a.jsonl", "b.jsonl").flatMap { f =>
      val st = Files.lines(dir.resolve(f))
      try st.iterator().asScala.toVector finally st.close()
    }
    assert(expected.size > ReplayDataSource.IndexStride + 1 && expected.contains(""))
    for (n <- Seq(1, 7, ReplayDataSource.IndexStride + 1)) {
      val got = batches(dir, n)
      assert(got.forall(_.size <= n), s"a batch over $n lines")
      assert(got.flatten == expected, s"$n-line batches")
    }
  }

  test("a late range seeks: lines [99000, 100000) of a 100k-line file start within one stride") {
    val file = tmp("dsv2seek").resolve("tape.jsonl")
    val lines = (0 until 100000).map(i => s"""{"n":$i,"pad":"${"x" * (i % 37)}"}""")
    Files.write(file, lines.asJava)
    val at = lines.scanLeft(0L)(_ + _.length + 1) // byte offset of each line
    val stream = new ReplayMicroBatchStream(file.toString, 1000, Some(1L))
    val Array(p: ReplayPartition) =
      stream.planInputPartitions(LineOffset(99000L), LineOffset(100000L))
    // the read starts at an indexed line at most one stride before 99000
    assert(p.skip >= 0 && p.skip < ReplayDataSource.IndexStride, p)
    assert(p.seek == at(99000 - p.skip), s"seek ${p.seek} for line 99000 at byte ${at(99000)}")
    val r = stream.createReaderFactory().createReader(p)
    val got = try Iterator.continually(r).takeWhile(_.next()).map(_.get().getString(0)).toVector
    finally r.close()
    assert(got == lines.drop(99000))
  }

  test("hidden and marker files are not replayed") {
    val dir = tmp("dsv2hidden")
    Files.write(dir.resolve("spool-00000000.jsonl"), tradeLines.take(3).asJava)
    Files.write(dir.resolve(".spool-00000001.tmp"), tradeLines.slice(3, 5).asJava)
    Files.write(dir.resolve("_SUCCESS"), Seq("x").asJava)
    assert(batches(dir, 1000).flatten == tradeLines.take(3))
  }

  test("a new file that sorts before a read one fails the query, naming both") {
    val fixtures = tmp("dsv2order")
    val dir = fixtures.resolve("bnbusdt.spot.trade")
    Files.createDirectories(dir)
    Files.write(dir.resolve("b.jsonl"), tradeLines.take(2).asJava)
    Files.write(dir.resolve("d.jsonl"), tradeLines.slice(2, 4).asJava)
    val raw = new Dsv2ReplaySource(fixtures.toString, batchSize = 3, fixedArrivalMs = Some(1L))
      .stream(spark, EventId.parse("binance.spot.bnbusdt.trade"))
    val q = raw.writeStream.format("memory").queryName("dsv2_order")
      .option("checkpointLocation", tmp("ckpt").toString).start()
    try {
      q.processAllAvailable()
      Files.write(dir.resolve("c.jsonl"), tradeLines.slice(4, 5).asJava)
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      assert(ex.getMessage.contains(dir.resolve("c.jsonl").toString) &&
        ex.getMessage.contains(dir.resolve("d.jsonl").toString), ex.getMessage)
    } finally q.stop()
  }
}
