package graft

/** Prints each named query's formatted physical plan at sf0.01, planned
  * in the bench session ([[Bench.session]]), so the plans shown are the
  * plans the bench runs: `tools/run.sh graft.Explain <query_id>...` */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"########## $q")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
