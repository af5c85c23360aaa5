package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def nowMs(): Double = System.nanoTime() / 1e6
  def wallMs(): Long = System.currentTimeMillis()

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** One recorded span: name, wall-clock start and end in ms, and the
  * span that caused it. Spans of one operation share `trace`. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startMs: Double, endMs: Double)

/** Spans are held in memory and written out once, at exit. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def add(parent: Long, trace: String, name: String, startMs: Double,
      endMs: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, trace, name, startMs, endMs))
    id
  }
  def all: Seq[Span] = spans.asScala.toSeq
  def size: Int = spans.size

  def write(path: String): Unit = {
    val body = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

/** Task work summed for one key (a query name, or one stream batch). */
final class Work {
  var tasks = 0L
  var stages = 0L
  var jobs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakTaskMem = 0L
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  def add(o: Work): Unit = {
    tasks += o.tasks; stages += o.stages; jobs += o.jobs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
    jobIntervals ++= o.jobIntervals
  }
}

/** Spark's public scheduler events, attributed to a key: the job group
  * (set to the query name by the batch workloads) or, for a stream,
  * `<runId>/<batchId>` from the micro-batch's local properties. Jobs
  * with neither are not recorded. */
final class ExecListener extends SparkListener {
  val byKey = new ConcurrentHashMap[String, Work]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageStart = new ConcurrentHashMap[Int, java.lang.Double]()
  /** (key, jobId, start, end) and (jobId, stageId, start, end), wall ms. */
  val jobs = new ConcurrentLinkedQueue[(String, Int, Double, Double)]()
  val stages = new ConcurrentLinkedQueue[(Int, Int, Double, Double)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def work(k: String) = byKey.computeIfAbsent(k, _ => new Work)
  def jobsByKey: Map[String, Seq[(String, Int, Double, Double)]] = jobs.asScala.toSeq.groupBy(_._1)
  def stagesByJob: Map[Int, Seq[(Int, Int, Double, Double)]] = stages.asScala.toSeq.groupBy(_._1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
    val run = group.getOrElse("")
    val key = batch.map(b => s"$run/$b").orElse(group).getOrElse("")
    if (key.nonEmpty) {
      jobKey.put(e.jobId, key)
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach { s => stageKey.put(s, key); stageJob.put(s, e.jobId) }
      work(key).synchronized { work(key).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { k =>
      val s = jobStart.get(e.jobId).doubleValue()
      jobs.add((k, e.jobId, s, e.time.toDouble))
      val w = work(k)
      w.synchronized { w.jobIntervals += ((s, e.time.toDouble)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageKey.containsKey(e.stageInfo.stageId))
      stageStart.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(Stats.wallMs()).toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val w = work(k)
      w.synchronized { w.stages += 1 }
      val s = Option(stageStart.get(e.stageInfo.stageId)).map(_.doubleValue())
        .getOrElse(e.stageInfo.submissionTime.getOrElse(0L).toDouble)
      stages.add((stageJob.get(e.stageInfo.stageId), e.stageInfo.stageId, s,
        e.stageInfo.completionTime.getOrElse(Stats.wallMs()).toDouble))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val m = e.taskMetrics
      if (m != null) {
        val w = work(k)
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.peakTaskMem = math.max(w.peakTaskMem, m.peakExecutionMemory)
        }
      }
    }
}

/** Plan shape of one executed plan, counted through adaptive stages. */
final case class PlanShape(exchanges: Int, scans: Int, smj: Int, bnlj: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    scans + o.scans, smj + o.smj, bnlj + o.bnlj)
}

object PlanShape {
  val zero: PlanShape = PlanShape(0, 0, 0, 0)

  /** Every node of an executed plan, through adaptive plans, query
    * stages, subqueries and a command's inner plan; a reused exchange
    * is not entered again. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other =>
      (other.children ++ other.subqueries ++
        other.innerChildren.collect { case c: SparkPlan => c }).flatMap(nodes)
  })

  def of(p: SparkPlan): PlanShape = {
    val ns = nodes(p)
    PlanShape(
      exchanges = ns.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      scans = ns.count(n => n.nodeName.startsWith("Scan ") || n.isInstanceOf[BatchScanExec] ||
        n.nodeName.startsWith("MicroBatchScan")),
      smj = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      bnlj = ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }
}

/** `QueryExecutionListener`: planning time (the `QueryExecution.tracker`
  * phases) and plan shape of every successful execution, stamped with
  * the wall time planning began, so executions are attributed to the
  * query whose time window holds them. */
final class QeListener extends QueryExecutionListener {
  val seen = new ConcurrentLinkedQueue[(Double, Double, PlanShape)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      // optimization and planning only: a command's analysis phase can
      // enclose the eager execution of the command itself
      val planMs = phases.filter(p => p._1 == "optimization" || p._1 == "planning")
        .values.map(_.durationMs).sum.toDouble
      val shape = scala.util.Try(PlanShape.of(qe.executedPlan)).getOrElse(PlanShape.zero)
      seen.add((start, planMs, shape))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (planning ms, shape) summed over executions that began in [s, e). */
  def within(s: Double, e: Double): (Double, PlanShape) = {
    val in = seen.asScala.filter(x => x._1 >= s && x._1 < e)
    (in.map(_._2).sum, in.map(_._3).foldLeft(PlanShape.zero)(_ + _))
  }
}

/** The Structured Streaming progress API, folded per run: every
  * progress report of every query, kept in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  private val byRun = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val rows = new ConcurrentHashMap[UUID, AtomicLong]()
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    byRun.computeIfAbsent(p.runId, _ => new ConcurrentLinkedQueue()).add(p)
    rows.computeIfAbsent(p.runId, _ => new AtomicLong()).addAndGet(p.numInputRows)
    onProgress(p)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def inputRows(run: UUID): Long = Option(rows.get(run)).map(_.get).getOrElse(0L)
  /** Progress of batches that ran (idle reports carry no addBatch). */
  def batches(run: UUID): Seq[StreamingQueryProgress] =
    Option(byRun.get(run)).map(_.asScala.toSeq).getOrElse(Nil)
      .filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId)
  def idle(run: UUID): Int =
    Option(byRun.get(run)).map(_.asScala.count(!_.durationMs.containsKey("addBatch")))
      .getOrElse(0)
}

object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** Plan shape of the last micro-batch a query executed. */
  def lastShape(q: StreamingQuery): PlanShape = q match {
    case w: StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(e => PlanShape.of(e.executedPlan))
        .getOrElse(PlanShape.zero)
    case _ => PlanShape.zero
  }
}
