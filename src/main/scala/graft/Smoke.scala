package graft

/** Local t1-equivalent smoke: runs SparkEntry.entry in the bench
  * session ([[Bench.session]]), prints row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(10, truncate = false)
    spark.stop()
  }
}
