package graft

import org.apache.spark.sql.SparkSession

/** The harness's one window into package-private program API: the
  * session exactly as `graft.Bench` builds it, and the runtime conf
  * Bench applies for a data directory. */
object PerfbenchAccess {
  def benchSession(): SparkSession = Bench.session()
  def applyScaledShuffle(spark: SparkSession, dir: String): Unit =
    T.applyScaledShuffle(spark, dir)
}
