package graft

import org.apache.spark.sql.functions.col

/** The shared task-metrics listener: counters are complete after a
  * drain, and reset() leaves nothing of earlier jobs behind. */
class TaskMetricsListenerSpec extends SparkSpec {

  private def withListener(body: TaskMetricsListener => Unit): Unit = {
    val m = TaskMetricsListener.install(spark.sparkContext)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }

  private def shuffleJob(): Unit =
    spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect()

  test("after a drain, a shuffle job's tasks and shuffle writes are counted") {
    withListener { m =>
      shuffleJob()
      m.drain()
      assert(m.tasks > 0 && m.shufWrite > 0 && m.shufRead > 0, m.report)
    }
  }

  test("reset() zeroes every counter and forgets the stages") {
    withListener { m =>
      shuffleJob()
      m.reset()
      val counters = Seq(m.tasks, m.runMs, m.maxTaskRunMs, m.deserMs,
        m.maxTaskDeserMs, m.gcMs, m.memSpill, m.diskSpill, m.shufRead,
        m.shufWrite, m.peakTaskMem)
      assert(counters.forall(_ == 0L) && m.stages.isEmpty, m.report)
    }
  }
}
