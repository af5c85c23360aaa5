package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.ListenerBus

/** Task-metric totals and notable-stage summaries from the listener
  * bus: the one way an entry point decomposes a wall-clock reading into
  * where the executor time went (GC? spill? shuffle volume? task
  * deserialization?), so an anomaly can be attributed instead of
  * guessed at. Install with [[TaskMetricsListener.install]].
  *
  * The bus delivers events asynchronously, so a read straight after an
  * action can miss its last tasks: read only after [[drain]]. */
final class TaskMetricsListener private (sc: SparkContext)
    extends SparkListener {
  import TaskMetricsListener._

  var tasks, runMs, maxTaskRunMs, deserMs, maxTaskDeserMs, gcMs = 0L
  var memSpill, diskSpill, shufRead, shufWrite, peakTaskMem = 0L
  /** One summary line per notable stage, in completion order: a stage
    * that spilled at least 128 MB from memory or ran at least 10 s of
    * executor time. A 30 GB spill total is useless until it names the
    * operator, and the stage's RDD scopes carry the callsite. */
  val stages = ArrayBuffer.empty[String]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks += 1
      runMs += m.executorRunTime
      maxTaskRunMs = math.max(maxTaskRunMs, m.executorRunTime)
      deserMs += m.executorDeserializeTime
      maxTaskDeserMs = math.max(maxTaskDeserMs, m.executorDeserializeTime)
      gcMs += m.jvmGCTime
      memSpill += m.memoryBytesSpilled; diskSpill += m.diskBytesSpilled
      shufRead += m.shuffleReadMetrics.totalBytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null &&
        (m.memoryBytesSpilled >= (1L << 27) || m.executorRunTime >= 10000))
      stages += f"stage ${i.stageId}: run=${m.executorRunTime / 1e3}%.0fs " +
        f"tasks=${i.numTasks} memSpill=${m.memoryBytesSpilled / 1e9}%.1fGB " +
        f"in=${m.inputMetrics.bytesRead / 1e9}%.1fGB " +
        f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e9}%.2fGB " +
        f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e9}%.2fGB " +
        s"[${i.name.take(60)}] " +
        i.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|")
  }

  /** Waits until every event already posted has reached this listener
    * (at most [[TaskMetricsListener.DrainTimeoutMs]]). */
  def drain(): this.type = {
    ListenerBus.waitUntilEmpty(sc, DrainTimeoutMs)
    this
  }

  /** Drains, then zeroes every counter and forgets the stages, so
    * events of earlier jobs cannot leak into the next reading. */
  def reset(): Unit = {
    drain()
    tasks = 0; runMs = 0; maxTaskRunMs = 0; deserMs = 0; maxTaskDeserMs = 0
    gcMs = 0; memSpill = 0; diskSpill = 0; shufRead = 0; shufWrite = 0
    peakTaskMem = 0
    stages.clear()
  }

  def report: String =
    f"tasks=$tasks run=${runMs / 1e3}%.1fs gc=${gcMs / 1e3}%.1fs " +
      f"memSpill=${memSpill / 1e9}%.2fGB diskSpill=${diskSpill / 1e9}%.2fGB " +
      f"shufW=${shufWrite / 1e9}%.2fGB shufR=${shufRead / 1e9}%.2fGB " +
      f"peakTaskMem=${peakTaskMem / 1e6}%.0fMB"
}

object TaskMetricsListener {

  /** Upper bound on one [[TaskMetricsListener.drain]]: a deliberately
    * memory-starved JVM (SpillProbe) can stall dispatch for seconds in
    * GC, and every bench reads after its actions have finished. */
  val DrainTimeoutMs = 60000L

  /** A new listener, registered on `sc`'s bus. */
  def install(sc: SparkContext): TaskMetricsListener = {
    val l = new TaskMetricsListener(sc)
    sc.addSparkListener(l)
    l
  }
}
