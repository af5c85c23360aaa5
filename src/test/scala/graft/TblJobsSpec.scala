package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerBus

/** `T.tbl` infers a table's parquet schema (a one-task Spark job) only
  * on its first read in a JVM: every later read of the same unchanged
  * table, and every query built from it, starts no inference job. */
class TblJobsSpec extends SparkSpec {

  private val dir = new java.io.File(sfDir).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Number of jobs `body` starts; the bus is drained before the
    * listener is removed. */
  private def jobsOf(body: => Unit): Int = {
    val started = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.waitUntilEmpty(sc, 60000)
    sc.addSparkListener(l)
    try { body; ListenerBus.waitUntilEmpty(sc, 60000) }
    finally sc.removeSparkListener(l)
    started.get
  }

  test("a second read of every table, and building queries on them, starts no job") {
    tables.foreach(t => T.tbl(spark, dir, t))
    val queries = SparkEntry.queries
    val built = Seq("q03_conditional_side", "q23_ts_fns", "q50_scalar_fns",
      "q47_hash_sample", "q71_chunk_windows", "q85_normalize_audit",
      "q36_multimodal_features")
    val jobs = jobsOf {
      tables.foreach(t => T.tbl(spark, dir, t))
      built.foreach(q => queries(q)(spark, dir))
    }
    assert(jobs == 0, s"$jobs jobs started after every table's first read")
  }
}
