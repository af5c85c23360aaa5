package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Runs in the bench session ([[Bench.session]]), so the oracle
    * checks the configuration the bench times. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    // data-proportional shuffle partitions for scale-sweep corpora
    // (T.applyScaledShuffle: no-op at the driver's sf0.01 gate and
    // below sf2.4, cores × ⌈maxTableRatio/24⌉ + parallelismFirst=false
    // above — the cluster-like 0-spill regime by default)
    graft.T.applyScaledShuffle(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Local-loop subset filter (comma-separated name prefixes); the
    // driver never sets it, so the full-inventory contract is intact.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def keep(name: String) = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
