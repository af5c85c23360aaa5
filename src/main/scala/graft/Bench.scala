package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Driver benchmark: one JSON line with per-query and total seconds at
  * SPARK_GRAFT_SF_DIR. A warmup pass at sf0.001 runs first (untimed)
  * so the timed pass measures steady-state execution, not JVM/codegen/
  * parquet-footer warmup (first-query overhead measured ~5s).
  *
  * Queries are executed with a noop-sink write, NOT `.count()`: under a
  * count Catalyst prunes unreferenced projections and drops sorts, so
  * projection-heavy queries would be timed as little more than parquet
  * row-count scans. The noop write materializes every output column.
  *
  * Each query is timed SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * per-query MINIMUM is reported: the minimum is the steady-state cost,
  * robust to co-tenant CPU contention that can inflate a single pass by
  * 10-20x (observed on shared VMs). Failures are NOT silently swallowed:
  * a failing query is reported in an "errors" list and its time excluded
  * from the total, so a crash can never *improve* the headline number.
  * The host's /proc/loadavg is recorded before and after the timed passes
  * so a contended run is identifiable from the artifact alone. */
object Bench {

  /** Force full execution of every column with zero sink I/O. */
  def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private[graft] val WarmupDir = "/root/testdata/sf0.001"

  /** The checkpoint file manager every session uses (tests too, via
    * SparkSpec). Spark's default, `FileContextBasedCheckpointFileManager`,
    * renames through Hadoop's `RawLocalFs`, whose rename runs
    * `FileUtil.readLink` — one forked `readlink` process for the
    * source, the destination and each `.crc` file. A
    * 1000-message depth micro-batch (offset log, commit log, one delta
    * per state partition) forked about 80 `readlink` and 20 `chmod`
    * processes. This manager renames with `LocalFileSystem.rename`, a
    * plain atomic `rename(2)`: 0 `readlink` forks per batch, the same
    * ~20 `chmod`. It keeps Hadoop's CRC files, Spark's state-file
    * checksums (`ChecksumCheckpointFileManager` wraps whichever manager
    * is configured) and the fail-if-exists check of
    * `createAtomic(overwriteIfPossible = false)`, and writes the same
    * on-disk layout, so checkpoints written by the default manager
    * resume unchanged. */
  private[graft] val CheckpointFileManagerClass: String =
    classOf[FileSystemBasedCheckpointFileManager].getName

  /** The one session every entry point builds, so each runs the
    * configuration the bench measures: `SPARK_GRAFT_CPUS` cores
    * (default 4), as many shuffle partitions unless
    * `SPARK_GRAFT_SHUFFLE` says otherwise, UTC, [[GraftExtensions]],
    * [[CheckpointFileManagerClass]] for streaming checkpoints, and
    * `SPARK_GRAFT_CONF` overrides (which can set the checkpoint
    * manager back). Tests keep their own fixed session (SparkSpec),
    * with the same checkpoint file manager. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // baseline shuffle partitions = the core count (right for the
    // bench scales); callers with a scale-rehearsal sfDir layer the
    // data-proportional default on top via T.applyScaledShuffle
    // (runtime conf — see the q25/q88 sf10 spill attribution in
    // BASELINE.md round 12), and SPARK_GRAFT_SHUFFLE overrides both
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        CheckpointFileManagerClass)
    // free-form conf overrides for scale rehearsals ("k=v;k=v") — e.g.
    // spark.sql.adaptive.coalescePartitions.parallelismFirst=false,
    // without which AQE coalesces every post-shuffle stage back to the
    // core count and SPARK_GRAFT_SHUFFLE can't actually shrink
    // per-task reduce state
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    b.getOrCreate()
  }

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  private def jsonStr(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    T.applyScaledShuffle(spark, sfDir)
    val warmupErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try exec(fn(spark, WarmupDir))
      catch { case t: Throwable => warmupErrors(name) = t.toString.take(200) }
    }
    // Warm the TARGET dir too: file listing, parquet footers, the OS
    // page cache and T.tbl's schema memo are per-path, so the sf0.001
    // pass alone leaves the first timed query paying sfDir metadata+IO
    // (q01 — a trivial projection — measured ~1s against its ~0.2s
    // steady state) and each timed query's first read of a table
    // paying its schema-inference job.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try exec(T.tbl(spark, sfDir, t))
      catch { case _: Throwable => () }
    }
    val loadBefore = loadAvg()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    warmupErrors.foreach { case (k, v) => errors(k) = v }
    val firstPass = SparkEntry.queries.map { case (name, fn) =>
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { exec(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable => errors(name) = t.toString.take(200); None }
      }
      name -> (if (times.nonEmpty) Some(times.min) else None)
    }
    // Contention self-defense (round 9): the min-of-N passes for one
    // query run BACK-TO-BACK, so a single multi-second co-tenant burst
    // covers all N and inflates the reported "min" in a way BenchOne
    // cannot reproduce (BENCH_r08: q32 8.09s in the driver run vs
    // 1.08s min-of-5 on the same box/code). Any query whose min
    // exceeds the absolute floor is re-timed ONCE at the end of the
    // run — an independent clock window — and the final value is
    // min(first, retry). Both samples land in the artifact
    // ("retimed"), so an outlier is either repaired or visibly
    // reproduced, never silently trusted. Round-10 threshold: the
    // round-9 gates (10× median, 4s floor) let a 3× burst on a
    // mid-cost query slip through un-retried (BENCH_r09: q107 2.56s
    // vs its 0.86s min-of-5 steady state), and ANY median-coupled
    // gate re-opens that hole on a uniformly loaded box (median
    // inflates with the burst it should be catching). The gate is now
    // the absolute floor alone: every multi-second reading pays one
    // independent-clock retry — the steady heavies (q70/q52/q88/q30
    // ≈ 2-3s at sf0.1) re-run too, ~10-15s of extra bench wall bought
    // as contention insurance, the retry-count cap bounds the
    // degenerate all-slow regime, and min(first, retry) can only
    // repair a number, never inflate it.
    val RetimeAbsFloor = 2.0
    // The 12-retry budget goes to the WORST readings first (sorted by
    // first-pass time descending), not firstPass iteration order: at
    // scale factors where >12 queries legitimately exceed the floor,
    // the largest deviations — the likeliest contention bursts — still
    // get their independent-clock retry instead of whichever 12 came
    // first in the map (round-10 ADVICE).
    val retrySet = firstPass.collect {
      case (name, Some(t)) if !errors.contains(name) && t > RetimeAbsFloor =>
        (name, t)
    }.toSeq.sortBy(-_._2).take(12).map(_._1).toSet
    val retimed = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val results = firstPass.map {
      case (name, Some(t)) if retrySet(name) =>
        val t0 = System.nanoTime()
        val retry =
          try Some({ exec(SparkEntry.queries(name)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 })
          catch { case _: Throwable => None }
        retry match {
          case Some(r) => retimed(name) = (t, r); name -> Some(math.min(t, r))
          case None => name -> Some(t)
        }
      case other => other
    }
    // Shared-core decomposition: ~6-7s of the headline is deliberate
    // per-query re-derivation of the two pair cores that the suite
    // keeps self-contained for oracle independence but a production
    // run materializes once (Cores.materialize; BASELINE.md's
    // shared-core table). Time each builder once here so the artifact
    // carries a measured estimate of that harness-accounting overhead.
    // Consumer counts are the BASELINE.md table's: q25 pair core →
    // q48/q70/q80/q83/q88/q91/q92/q100 (8 re-payers); q28 LSH core →
    // q55/q88 (2 re-payers). This is an UPPER BOUND: several
    // consumers re-pay a filtered/partial version of the core (q55's
    // survivor-gated signatures, q92's one-sided shingles), so the
    // true re-paid work is below repayers × full-core cost
    // (BASELINE.md's finer per-consumer accounting lands at ~6-7s
    // where this formula reads ~17s).
    def timeOnce(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val (pairCoreSec, lshCoreSec) =
      try (
        timeOnce(exec(graft.queries.Cores.liveNearDupPairs(spark, sfDir))),
        timeOnce(exec(graft.queries.Cores.liveLshCandidates(spark, sfDir))))
      catch { case _: Throwable => (-1.0, -1.0) }
    val sharedCoreOverhead =
      if (pairCoreSec < 0) -1.0 else 8 * pairCoreSec + 2 * lshCoreSec
    val loadAfter = loadAvg()
    val qs = results.map { case (k, v) => jsonStr(k) + ":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    // A query with ANY failure (warmup or timed run) is suspect: its
    // time is excluded from the headline total — per the protocol in
    // BASELINE.md, an error can only make the bench fail loudly, never
    // shift the number quietly. Per-query times stay reported above.
    val total = results.collect {
      case (k, Some(t)) if !errors.contains(k) => t
    }.sum
    val errJson = errors.map { case (k, v) => s"""{"query":${jsonStr(k)},"error":${jsonStr(v)}}""" }
      .mkString("[", ",", "]")
    val retimedJson = retimed.map { case (k, (first, retry)) =>
      s"""${jsonStr(k)}:{"first":$first,"retry":$retry}"""
    }.mkString("{", ",", "}")
    val coreJson =
      s"""{"pair_core_sec":$pairCoreSec,"pair_core_repayers":8,"lsh_core_sec":$lshCoreSec,"lsh_core_repayers":2,"note":"upper bound: repayers x full-core exec; several consumers re-pay filtered versions"}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"errors":$errJson,"retimed":$retimedJson,"shared_core_overhead_est":$sharedCoreOverhead,"shared_cores":$coreJson,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter"}"""
    // Capture pipelines have twice truncated this artifact (tail-clipped
    // stdout losing the headline). Defend it two ways: (a) persist the full
    // JSON to a file, (b) print a compact total-only line LAST so even a
    // truncated tail keeps the headline number.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case t: Throwable => System.err.println(s"bench_out write failed: $t") }
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","runs":$runs,"nqueries":${results.size},"nerrors":${errors.size},"out":${jsonStr(outFile)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
