package graft

import org.apache.spark.sql.SparkSession

/** Micro-bench for one or more queries: `tools/run.sh graft.BenchOne
  * <query_id>[,<query_id>...] [runs]` — same session config and
  * noop-sink execution as [[Bench]], prints every run's seconds plus
  * the minimum per query, then one machine-readable `FLOORGATE {...}`
  * JSON line of per-query minima. Each run also prints its task-metric
  * totals and notable stages ([[TaskMetricsListener]]), so a reading
  * can be attributed (GC? spill? shuffle volume?) instead of guessed
  * at. For bisecting a single query's regression — or re-timing the
  * floor gate's flagged set — without paying a JVM spinup per query or
  * the full inventory. */
object BenchOne {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val runs = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    T.applyScaledShuffle(spark, sfDir)
    val metrics = TaskMetricsListener.install(spark.sparkContext)
    val mins = names.map { name =>
      val fn = SparkEntry.queries(name)
      try Bench.exec(fn(spark, Bench.WarmupDir))
      catch { case t: Throwable => println(s"warmup failed: ${t.toString.take(200)}") }
      val times = (1 to runs).map { i =>
        metrics.reset()
        val t0 = System.nanoTime()
        Bench.exec(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        metrics.drain()
        println(f"  $name run$i wall=$sec%.2fs ${metrics.report}")
        metrics.stages.foreach(s => println("    " + s))
        sec
      }
      println(s"$name runs=${times.map(t => f"$t%.2f").mkString(",")} min=${f"${times.min}%.2f"}")
      name -> times.min
    }
    println("FLOORGATE {" +
      mins.map { case (n, t) => s""""$n":${f"$t%.4f"}""" }.mkString(",") + "}")
    spark.stop()
  }
}
