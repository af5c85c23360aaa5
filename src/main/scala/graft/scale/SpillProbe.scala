package graft.scale

/** Subprocess entry for the spill-discipline proof (ScaleSpec): runs
  * one inventory query start-to-finish inside a deliberately
  * memory-starved JVM (the caller passes a small -Xmx, a low
  * `spark.memory.fraction`, and force-spill thresholds as system
  * properties, which SparkSession picks up as conf) and reports the
  * bytes execution spilled. Completing here — by spilling to disk,
  * not OOMing — is the discipline a 100 TB executor needs when a
  * partition outgrows its memory share: every blocking operator in
  * the hot queries (shuffle write, sort, window buffer, hash-agg
  * fallback) must degrade to its external implementation. The session
  * is [[graft.Bench.session]]; the caller sets its core count and
  * shuffle partitions through `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_SHUFFLE`.
  *
  * Usage: SpillProbe <query_id> <sfDir>; prints
  * `SPILL_PROBE ok spilled=<bytes>` on success.
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = graft.TaskMetricsListener.install(spark.sparkContext)
    graft.Bench.exec(graft.SparkEntry.queries(name)(spark, sfDir))
    // all tasks HAVE ended (exec is synchronous), but this JVM is
    // deliberately starved, so a GC pause can stall the bus: the drain
    // waits up to its 60 s cap rather than under-report the spill
    metrics.drain()
    val spilled = metrics.memSpill + metrics.diskSpill
    println(s"SPILL_PROBE ok spilled=$spilled")
    spark.stop()
  }
}
