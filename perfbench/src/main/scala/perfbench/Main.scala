package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.streaming.{BookSnapshot, DepthRecord, Pipelines}

/** Arguments from run.py: the workload, the seed, the seconds to
  * measure, whether to trace, and the run's own work directory (the
  * result lands in result.json there). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, outputs: String) {
  /** The generated inputs, from inputs.json in the work directory.
    * run.py generates them while the JVM starts and the sessions are
    * created, and writes inputs.json last, so the first call waits. */
  lazy val inputs: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val f = work.resolve("inputs.json")
    val deadline = Stats.nowMs() + 120000
    while (!Files.exists(f)) {
      if (Stats.nowMs() > deadline) throw new IllegalStateException(s"no $f after 120 s")
      Thread.sleep(10)
    }
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    n.fieldNames().asScala.map(k => k -> n.get(k).asText()).toMap
  }
  def tables: String = inputs("tables")
  def depthTape: String = inputs("depth")
  def tradeTape: String = inputs("trade")
  def cutTape: String = inputs("cut")
  /** Batches at the start of a stream drain that warm up. */
  def warmBatches: Int = inputs("warm-batches").toInt
}

object Args {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), m.getOrElse("outputs", ""))
  }
}

/** What a run reports back to run.py: metrics with units, correctness
  * checks made inside the JVM, and facts run.py needs to check the
  * outputs it reads itself. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.LinkedHashMap[String, (Boolean, String)]()
  val infos = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = checks(name) = (ok, detail)
  def info(name: String, v: Any): Unit = infos(name) = v.toString
  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val cs = checks.map { case (k, (ok, d)) =>
      s"${Json.str(k)}:{\"ok\":$ok,\"detail\":${Json.str(d)}}" }
    val is = infos.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")},""" +
      s""""checks":${cs.mkString("{", ",", "}")},"info":${is.mkString("{", ",", "}")}}"""
  }
}

object Setup {
  def time(f: => Unit): Double = { val t = Stats.nowMs(); f; (Stats.nowMs() - t) / 1000.0 }
  private val jvmStart = Stats.nowMs()
  /** Marks a phase in the run's log with the seconds since start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(Stats.nowMs() - jvmStart) / 1000.0}%.2f s: $name")

  /** The bench session, created three times (the first two stopped
    * again); returns the live session and the median creation time. */
  def sessions(): (SparkSession, Double) = {
    var s: SparkSession = null
    val times = (1 to 3).map { i =>
      if (s != null) s.stop()
      phase(s"session $i")
      time {
        s = graft.PerfbenchAccess.benchSession()
        s.sparkContext.setLogLevel("ERROR")
        s.range(1).count()
      }
    }
    phase("sessions done")
    (s, Stats.median(times))
  }
}

/** Reads what gen.py wrote. */
object Inputs {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import scala.jdk.CollectionConverters._

  private def json(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))
  private def expected(tape: String) = json(s"$tape/expected.json")

  def long(tape: String, field: String): Long = expected(tape).get(field).asLong()
  def text(tape: String, field: String): String = expected(tape).get(field).asText()

  def snapshot(tape: String): BookSnapshot = {
    val n = json(s"$tape/snapshot.json")
    def lv(f: String) = n.get(f).elements().asScala.map(
      _.elements().asScala.map(_.asText()).toSeq).toSeq
    BookSnapshot(n.get("lastUpdateId").asLong(), lv("bids"), lv("asks"))
  }

  /** The depth tape parsed by the program's own parse stage, in id order. */
  def depthRecords(spark: SparkSession, tape: String, arrival: Long): Seq[DepthRecord] = {
    import spark.implicits._
    val raw = spark.read.text(Files.list(Paths.get(tape)).toArray.map(_.toString)
      .filter(_.endsWith(".depth")).head)
      .withColumn("local_timestamp", lit(arrival))
    Pipelines.depthRecords(raw).as[DepthRecord].collect().toSeq.sortBy(_.first_update_id)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val r = new Result
    a.workload match {
      case "depth_drain" => Streams.depthDrain(a, r)
      case "batch" => Batch.run(a, r)
      case "ledger" => Batch.ledger(a, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.write(a.work.resolve("result.json"), r.toJson.getBytes("UTF-8"))
    Setup.phase("done")
  }
}
