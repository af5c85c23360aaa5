package graft.scale

import org.apache.spark.sql.functions._

/** q112 skew stress (round-14 verdict task 5): a Zipfian cluster-size
  * corpus — one mega-cluster of EXACT copies holding ~30% of the
  * vectors at the LOWEST vec_ids, hash-random tail for the rest — at
  * ≥100k vectors, driving the SemDeDup pair join's skew handling and
  * the drop-set groupBy MIN's map-side combine specifically. The
  * mega-cluster's Σ cluster² contribution is (0.3·n)² ordered pairs
  * (≈ 9×10⁸ at n = 100k, ALL passing the cosine filter at exactly
  * 1.0), concentrated on ONE cluster-id join key — the worst single
  * key a real corpus (boilerplate pages, retried encoder shards) can
  * present.
  *
  * Analytic invariants asserted (exact copies make them provable
  * without an oracle replay):
  *   - vec_id 0 (the mega base, globally lowest id) is KEPT;
  *   - every other mega member is DROPPED with keeper = 0 (id 0 sits
  *     in their cluster at rounded cosine exactly 1.0, and no earlier
  *     id exists);
  *   - one verdict row per vector (the whole corpus is admissible by
  *     construction).
  * Tail verdicts are data-dependent and deliberately unasserted.
  *
  * `tools/run.sh graft.scale.SemDedupSkewBench [n] [megaFrac] [dest]`
  * defaults n = 100000, megaFrac = 0.3, dest = /tmp/zipf112. Prints
  * the notable stages' spill/shuffle attributions
  * ([[graft.TaskMetricsListener]]) and one machine-readable
  * `SEMSKEW {...}` line. */
object SemDedupSkewBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val megaFrac = if (args.length > 1) args(1).toDouble else 0.3
    val dest = if (args.length > 2) args(2) else "/tmp/zipf112"
    val mega = (n * megaFrac).toLong
    val dim = 64

    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    val listener = graft.TaskMetricsListener.install(spark.sparkContext)

    // corpus: ids < mega share ONE exact vector (a fixed non-degenerate
    // pattern); the tail is hash-random in [-0.5, 0.5]^64 — natural
    // small clusters under the learned index, Zipf head + tail
    val base = array((0 until dim).map(j =>
      lit(((j * 37 + 11) % 97 - 48) / 100.0f)): _*)
    val tail = array((0 until dim).map(j =>
      ((pmod(xxhash64(col("id"), lit(j)), lit(997L)) + 1)
        .cast("double") / lit(998.0) - lit(0.5)).cast("float")): _*)
    spark.range(n).select(col("id").as("vec_id"),
        when(col("id") < mega, base).otherwise(tail).as("embedding"),
        (col("id") % 7).cast("int").as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    graft.T.applyScaledShuffle(spark, dest)

    val t0 = System.nanoTime()
    val out = graft.SparkEntry.queries("q112_semdedup")(spark, dest)
    val rows = out.collect()
    val wallSec = (System.nanoTime() - t0) / 1e9

    // analytic invariants (see scaladoc)
    require(rows.length == n,
      s"one verdict per vector: got ${rows.length}, want $n")
    val byId = rows.map(r => r.getLong(0) ->
      (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    require(byId(0L) == ((true, None)), s"mega base must be kept: ${byId(0L)}")
    val badMega = (1L until mega).filter(i => byId(i) != ((false, Some(0L))))
    require(badMega.isEmpty,
      s"${badMega.length} mega members not dropped-with-keeper-0, " +
        s"first: ${badMega.take(3).map(i => i -> byId(i))}")

    listener.drain().stages.foreach(s => println("  " + s))
    println(f"""SEMSKEW {"n": $n, "mega": $mega, "megaOrderedPairs": ${mega * (mega - 1)}, """ +
      f""""wallSec": $wallSec%.1f, "execRunSec": ${listener.runMs / 1e3}%.1f, """ +
      f""""maxTaskSec": ${listener.maxTaskRunMs / 1e3}%.1f, """ +
      f""""memSpillGB": ${listener.memSpill / 1e9}%.2f, "diskSpillGB": ${listener.diskSpill / 1e9}%.2f, """ +
      f""""shufReadGB": ${listener.shufRead / 1e9}%.2f, "shufWriteGB": ${listener.shufWrite / 1e9}%.2f}""")
    spark.stop()
  }
}
