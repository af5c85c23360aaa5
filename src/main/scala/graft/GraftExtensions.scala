package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{BloomFunctions, DotProduct, VectorFunctions}

/** Library entry point for `spark.sql.extensions`: installs graft's
  * native Catalyst functions into every session built with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * so SQL users get `dot_product` without calling
  * [[graft.functions.VectorFunctions.register]] programmatically.
  * This is the deployment route a cluster would use (cluster-wide
  * conf, no code change in user jobs); the registry route stays for
  * ad-hoc sessions. [[Bench.session]] sets it, and every entry point
  * (Main, Verify, Bench, BenchOne, Smoke, Explain, GenScale, CoresBench,
  * StreamBench, the `graft.scale` probes) builds its session there, so
  * the service, the oracle check, the benches and the printed plans
  * all exercise this path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      VectorFunctions.dotProductBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      BloomFunctions.bloomAggBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      BloomFunctions.mightContainBuilder))
  }
}
