package graft.scale

import org.apache.spark.sql.functions._

/** q28 skew stress — the TEXT-family twin of [[SemDedupSkewBench]]
  * (round-15 verdict task 3): a Zipfian duplicate corpus — one mega
  * block of IDENTICAL documents holding 30% of the docs at the LOWEST
  * doc_ids, unique-token tail for the rest — driving the MinHash LSH
  * (band, sig) pair self-join's giant-bucket handling specifically.
  * Identical docs share EVERY band signature, so the block is one
  * bucket per band: C(mega, 2) distinct candidate pairs concentrated
  * on single join keys that AQE's input-byte skew split cannot see
  * (the round-14 vector-side measurement: output-explosive, not
  * input-heavy).
  *
  * Default shape n = 100k, megaFrac = 0.3 — the SAME corpus shape as
  * the vector record (30k-member bucket ⇒ 4.5×10⁸ ordered pairs).
  * Unlike q112 (whose groupBy MIN collapses the explosion before the
  * output), q28's OUTPUT is the pair list itself, so the explosion is
  * inherent to the operator's contract: at 1.5M docs a 30% block
  * would be 10¹¹ pairs ≈ TBs of output — not a skew problem but an
  * output-size problem; a production pipeline routes such corpora
  * through the capped/clustered consumers (q25's df cap, q48/q70's
  * CC, q88's estimate), never the raw pair dump. The bench therefore
  * measures the pair STAGE at the magnitude the round-14 record used,
  * with the invariant count aggregated in-engine (no driver-side pair
  * materialization).
  *
  * BEFORE/AFTER: the grid engages whenever the bucket census crosses
  * [[graft.queries.Similarity.GiantClusterCap]]; run once with
  * SPARK_GRAFT_SEED_GIANTCAP=999999999 (census empty ⇒ the plain
  * single-key join — the "before") and once with the default cap
  * (grid-sliced — the "after"). Two JVMs because the cap is read at
  * class init.
  *
  * Analytic invariants (identical docs make them provable without an
  * oracle replay):
  *   - every mega pair is a candidate EXACTLY once:
  *     |{(da, db) : da < db < mega}| = C(mega, 2) after the distinct —
  *     this also proves the grid neither drops nor duplicates pairs;
  *   - tail docs share no shingle with anything (id-salted tokens), so
  *     tail-touching candidates are hash-collision noise: asserted
  *     < 0.1% of the mega count.
  *
  * `tools/run.sh graft.scale.MinHashSkewBench [n] [megaFrac] [dest]`
  * defaults n = 100000, megaFrac = 0.3, dest = /tmp/zipf28. Prints
  * the notable stages' attributions ([[graft.TaskMetricsListener]])
  * and one `MHSKEW {...}` line. */
object MinHashSkewBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val megaFrac = if (args.length > 1) args(1).toDouble else 0.3
    val dest = if (args.length > 2) args(2) else "/tmp/zipf28"
    val mega = (n * megaFrac).toLong

    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    val listener = graft.TaskMetricsListener.install(spark.sparkContext)

    // corpus: ids < mega share ONE text verbatim (identical shingle
    // set ⇒ identical minhash signature in every band); tail docs get
    // id-salted tokens so no shingle crosses doc boundaries
    val megaText = "the same boilerplate page body repeated verbatim " +
      "across every mirror of the crawl snapshot again and again"
    val tailText = concat_ws(" ",
      (0 until 8).map(j => concat(lit(s"w${j}x"), col("id"))): _*)
    val text = when(col("id") < mega, lit(megaText)).otherwise(tailText)
    spark.range(n).select(col("id").as("doc_id"), text.as("text"),
        lit("en").as("lang"), lit("syn").as("source"),
        length(text).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    graft.T.applyScaledShuffle(spark, dest)

    val t0 = System.nanoTime()
    val cand = graft.SparkEntry.queries("q28_minhash_lsh")(spark, dest)
    // ONE aggregation pass over the candidate frame — total and
    // mega-block counts together, nothing pair-sized on the driver.
    // (The optimizer drops q28's output sort under the aggregate.)
    val r = cand.agg(count(lit(1)).as("total"),
        count(when(col("da") < mega && col("db") < mega, 1)).as("megaPairs"))
      .collect()(0)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val (total, megaPairs) = (r.getLong(0), r.getLong(1))

    val want = mega * (mega - 1) / 2
    require(megaPairs == want,
      s"every mega pair exactly once: got $megaPairs, want $want")
    require(total - megaPairs < math.max(1L, want / 1000),
      s"tail candidates must be collision noise: ${total - megaPairs}")

    listener.drain().stages.foreach(s => println("  " + s))
    println(f"""MHSKEW {"n": $n, "mega": $mega, "megaPairs": $megaPairs, """ +
      f""""tailPairs": ${total - megaPairs}, """ +
      f""""wallSec": $wallSec%.1f, "execRunSec": ${listener.runMs / 1e3}%.1f, """ +
      f""""maxTaskSec": ${listener.maxTaskRunMs / 1e3}%.1f, """ +
      f""""memSpillGB": ${listener.memSpill / 1e9}%.2f, "diskSpillGB": ${listener.diskSpill / 1e9}%.2f, """ +
      f""""shufReadGB": ${listener.shufRead / 1e9}%.2f, "shufWriteGB": ${listener.shufWrite / 1e9}%.2f}""")
    spark.stop()
  }
}
