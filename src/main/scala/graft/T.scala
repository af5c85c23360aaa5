package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the batch query inventory (SURVEY.md §2.3).
  *
  * Oracle-parity conventions (every query obeys these so the driver's
  * DuckDB hash-compare is exact, not approximate):
  *
  *  - Output column types are normalized to string / bigint / double /
  *    boolean only. No timestamps (emitted as epoch-millis bigint), no
  *    decimals, no floats, no int32 (DuckDB widens most integer results
  *    to int64).
  *  - Double aggregation goes through `DecimalType(18,6)` casts so sums
  *    are exact and order-independent in BOTH engines, then the final
  *    value is cast back to double (a deterministic conversion).
  *    Naive double sums would differ in low bits between Spark's
  *    partial-aggregation order and DuckDB's sequential order.
  *  - Ratios/averages are computed as a single IEEE double division of
  *    two exactly-agreed values (decimal-sum cast to double / count)
  *    and emitted RAW. Never round(·, 6) a rational ratio: IEEE makes
  *    +,-,*,/,sqrt correctly-rounded, so identical trees agree
  *    bit-for-bit, while rounding ADDS a failure mode — a ratio whose
  *    exact value sits on a decimal half-tie (common when counts
  *    divide powers of ten) rounds in opposite directions across
  *    engines (q86 at sf0.1: 0.003213 vs 0.003214). The converse rule:
  *    log/exp/pow are NOT correctly-rounded (JVM vs libm differ by
  *    1 ulp), so any tree containing them MUST round — per-term
  *    round+decimal-sum when the result is aggregated (q75/q77 terms),
  *    round(·, 6) on output otherwise (q46 tfidf, cosines). A log
  *    factor never lands exactly on a rounding boundary, so the
  *    half-tie hazard does not apply there.
  *  - Every query ends with a total ORDER BY on non-null key columns
  *    (mirrored in the oracle SQL) so row order agrees even if the
  *    driver's compare is order-sensitive. Sort keys are never nullable
  *    (Spark sorts NULLS FIRST, DuckDB NULLS LAST by default).
  *  - Cross-engine hashing uses a portable 32-bit hash: the first 8 hex
  *    chars of md5, parsed as an integer. Spark: conv(substr(md5(x),1,8),
  *    16,10); DuckDB: ('0x'||substr(md5(x),1,8))::BIGINT.
  */
object T {
  /** Loads a driver test table, normalizing every timestamp column to
    * a UTC TimestampType whatever the driver's current parquet
    * encoding is. Observed encodings across testdata regenerations:
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it by default; read as a
    *    nanos long (`spark.sql.legacy.parquet.nanosAsLong`) and
    *    floor-convert to microseconds — the truncation DuckDB applies.
    *    (Only `events.ts` ever shipped this encoding, so the legacy
    *    branch stays keyed to that column.)
    *  - Timestamp(µs, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ; cast to TimestampType. The session timezone is
    *    UTC (set by Bench/Verify/tests), so the cast reinterprets the
    *    wall-clock value as the identical UTC instant DuckDB sees.
    *    Applied to EVERY NTZ column (the current testdata carries
    *    `events.ts`, `lineitem.l_shipdate`, `orders.o_orderdate`), so
    *    no call site can hit the round-7 failure mode where
    *    `unix_millis` resolves on one timestamp column but not
    *    another.
    *
    * All timestamps land on TimestampType so downstream `unix_millis`
    * / `window` / frame arithmetic is encoding-agnostic (TsSchemaSpec
    * pins the full loaded schema per table).
    *
    * The file schema is inferred once per (dir content, table) per JVM
    * and then given to the reader (`spark.read.schema`): Spark infers a
    * parquet schema by running a one-task job, which every read of the
    * table used to pay (141 of the 194 jobs started while building the
    * 113 queries at sf0.1 on 4 cores). The memo sits next to the
    * snapshot scalars and shares their key, the dir's
    * [[dirFingerprint]], so a table rewritten in place within one JVM
    * is inferred afresh. It holds the raw `StructType` inferred under
    * `nanosAsLong`, not a DataFrame, so it serves any session. Non-local
    * dirs fingerprint as a constant: as for [[snapScalar]], the caller
    * owns their immutability, and a table rewritten there with a new
    * schema is not re-inferred. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TimestampType cast below reinterprets wall-clock values
    // in the SESSION timezone; every entrypoint (Bench/Verify/specs)
    // already runs UTC, but a forgotten .config would silently shift
    // every instant vs DuckDB — so enforce it here, next to the other
    // encoding defense, instead of trusting call sites.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    val fileSchema = fileSchemas.computeIfAbsent(
      (s"$dir@${dirFingerprint(dir)}", name), _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(fileSchema).parquet(path)
    df.schema.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
  }

  /** Memoized per-(dir, table) row count — the corpus-snapshot scalar
    * behind the derived-parameter ladders (pairCos fence fk, probe
    * stride, IVF k, LSH band width). Testdata dirs are immutable
    * snapshots, so one distributed count job per table per JVM
    * amortizes across the whole inventory (Bench/Verify run 111
    * queries against one dir); previously each ladder re-derived the
    * count IN the plan — an extra aggregate + broadcast-join stage on
    * every execution of every fence-family query (~2s total across the
    * lloyd chain at sf0.1). At real scale this is the metadata pass a
    * serving system runs once per corpus snapshot alongside the IVF
    * index build. The derived VALUES are identical to the in-plan
    * formulation, so every oracle (which derives the same scalar from
    * count(*) in SQL) still matches bit-for-bit. */
  private val snapScalars =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  /** The parquet file schemas behind [[tbl]], keyed like [[snapScalar]]. */
  private val fileSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()
  def snapCount(spark: SparkSession, dir: String, name: String): Long =
    snapScalar(dir, s"count:$name")(tbl(spark, dir, name).count())

  /** Cheap content fingerprint of a LOCAL corpus dir — relative file
    * names + sizes + mtimes, folded through the portable hash. The
    * snapshot caches below key on (dir, fingerprint), so a dir whose
    * contents change within one JVM's lifetime (in-place testdata
    * regeneration, a test overwriting a tmp path, a long-lived sbt
    * session across driver regens — the round-7 failure mode) gets
    * FRESH scalars/centroids instead of silently serving stale ones.
    * Non-local paths (hdfs://, s3://) return a constant — there the
    * caller owns snapshot immutability (object-store corpus snapshots
    * are immutable by convention), and at real scale the listing
    * belongs to the catalog, not a per-call walk. Walking a local
    * testdata dir (~dozens of files) is sub-millisecond. */
  private[graft] def dirFingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) "nonlocal"
    else {
      val sb = new StringBuilder
      val stream = java.nio.file.Files.walk(root)
      try stream.sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .forEach { p =>
          if (java.nio.file.Files.isRegularFile(p))
            sb.append(root.relativize(p).toString).append('|')
              .append(java.nio.file.Files.size(p)).append('|')
              .append(java.nio.file.Files.getLastModifiedTime(p).toMillis)
              .append('\n')
        }
      finally stream.close()
      phashDriver(sb.toString).toString
    }
  }

  /** General form of [[snapCount]] for derived corpus-snapshot scalars
    * that are not plain table counts (e.g. the hot-shingle cap's
    * qualifying-doc count). `key` names the scalar within the dir;
    * `compute` runs at most once per (dir-content-state, key) per JVM
    * — the dir is fingerprinted ([[dirFingerprint]]) so in-place
    * content changes invalidate rather than serve stale values. */
  def snapScalar(dir: String, key: String)(compute: => Long): Long =
    snapScalars.computeIfAbsent((s"$dir@${dirFingerprint(dir)}", key),
      _ => compute)

  /** Data-proportional shuffle-partition default (round-12 verdict
    * task 7): the q25/q88 sf3→sf10 "superlinearity" was attributed to
    * fixed-box per-task reduce state crossing the ~600 MB spill budget
    * — work metrics were sublinear; the fix, measured at sf10 (96
    * partitions + coalescePartitions.parallelismFirst=false → 0 GB
    * spill), is to scale shuffle partitions with the data, the regime
    * a real cluster runs in anyway (its partition count scales with
    * its executor count, which scales with the data). This applies
    * that default to a freshly built harness session: partitions =
    * cores × ⌈maxTableRatio/24⌉, where maxTableRatio is the largest
    * per-table row-count ratio vs the sf0.1 anchor over the four
    * volume tables — ROWS, not on-disk bytes, because replicated
    * rehearsal corpora compress ~14× (sf30 is 300× the rows in 21×
    * the bytes) and per-task reduce state follows rows; and the MAX
    * per table, not a total, because GenScale corpora scale only
    * documents/embeddings. Past factor 1 it also sets
    * `parallelismFirst=false` (without it AQE coalesces every
    * post-shuffle stage back to the core count and the extra
    * partitions do nothing; with it AQE still merges SMALL stages to
    * target size, so tiny queries don't pay 10× task scheduling). At
    * sf ≤ 2.4 the session is untouched — byte-identical to the fixed
    * default. No-op when SPARK_GRAFT_SHUFFLE is set (the session was
    * already built with it). Counts ride [[snapCount]], so the
    * metadata jobs are shared with every fence that reads the same
    * scalars. */
  private[graft] def applyScaledShuffle(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    // ObjectHashAggregate falls back to SORT-BASED aggregation past
    // 128 distinct keys per task (the sortBased.fallbackThreshold
    // default) — measured on q95's bounded top-k aggregation at sf90:
    // with ~2000 probe groups per task the fallback re-sorted the
    // 3.6G-row pair frame it exists to collapse (218 GB spill, stage
    // 58 of the round-14 sweep). The engine's typed-Aggregator
    // consumers (TopKByScore: ≤ ~2048 probe groups × 5-pair buffers;
    // KmvDistinct: ≤ k hashes) hold small bounded buffers, so 8192
    // in-memory entries is a few MB per task. Corpus-independent —
    // applied before the width lever's factor gate.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
    if (sys.env.contains("SPARK_GRAFT_SHUFFLE")) return
    val refs = Seq("documents" -> 5000.0, "events" -> 100000.0,
      "lineitem" -> 600000.0, "embeddings" -> 2000.0)
    val maxRatio = refs.map { case (t, ref) =>
      scala.util.Try(snapCount(spark, sfDir, t) / ref).getOrElse(0.0)
    }.max
    val factor = math.max(1L, math.ceil(maxRatio / 24.0).toLong)
    if (factor > 1L) {
      val parts = spark.sparkContext.defaultParallelism * factor
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // partitions alone are INERT under AQE: size-based coalescing
      // (64 MB COMPRESSED shuffle target) merges the heavy reduce
      // stages right back to core-count width — 64 MB of compressed
      // shingle pairs decompresses into GB-scale per-task aggregation
      // state, which is the exact spill this lever exists to shrink.
      // Scale the advisory target down with the factor, so size-based
      // coalescing yields ~factor× the width on the heavy stages while
      // small stages still merge (proportionally) instead of running
      // `parts` near-empty tasks each.
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        math.max(1L << 20, (64L << 20) / factor).toString)
    }
  }

  /** Verification-only branch override: when the env var
    * SPARK_GRAFT_FORCE_ABOVE_FENCE is set, every VALUE-IDENTICAL
    * fence takes its above-cap (100 TB) branch regardless of corpus
    * size — the three [[WindowRankCap]] fences ([[fencedRankN]],
    * [[fencedCumSumN]], [[fencedLead]]), the [[DfCountCap]] shingle
    * window (`Dedup.cappedShingles`) and every broadcast-or-hash hint
    * ([[hintBySize]]) — while caps and derived values
    * still come from the real corpus — so one full Verify + DuckDB
    * sweep proves the ENGAGED branches oracle-exact on any corpus
    * (the Zipfian near-dup one included), instead of relying solely
    * on per-fence seeded flip fixtures. Excluded by design: fences
    * whose above-cap behavior is not value-identical by construction
    * (q26/q30's FenceCap thins the anchor sample — its fk is
    * value-coupled into the oracle and follows the corpus count;
    * Similarity.TwoLevelK's coarse/fine routing is approximate by
    * contract). The assignment kernels' centroid table has no fence to
    * force: it always ships as a Broadcast. Never set in production. */
  private[graft] val ForceAboveFence: Boolean =
    sys.env.contains("SPARK_GRAFT_FORCE_ABOVE_FENCE")

  /** THE fence comparison — `n <= cap`, overridable to false by
    * [[ForceAboveFence]] for engaged-branch verification sweeps.
    * Every value-identical fence branches through here so the
    * override cannot silently miss a site: five call sites, each
    * citing its measured margin in its cap's or helper's scaladoc. A
    * second branch whose margin does not show is deleted instead (the
    * token hash and q35's collision count keep only their scale
    * branch; BASELINE.md round 17). */
  private[graft] def belowFence(n: Long, cap: Long): Boolean =
    n <= cap && !ForceAboveFence

  /** Vocab-broadcast fence cap: the max distinct-token count at which
    * a vocabulary-keyed frame may still carry a `broadcast()` hint.
    * A (tok, count) row is ~25 bytes serialized, so the cap bounds the
    * exchanged build side at ~15 MB (q32's ×5-langs affinity frame at
    * ~75 MB — still comfortable on any executor sized for 100 TB
    * work). Unlike every other frame the inventory broadcasts (dims,
    * per-stratum counts, k centroids, probe samples — bounded BY
    * CONSTRUCTION), a distinct-token frame grows with the corpus
    * (Heap's law: ~n^0.5-0.7; web text at 100 TB has 10⁸-10⁹ distinct
    * tokens once IDs and typos are in), so these hints MUST be fenced
    * or they OOM the driver at scale while passing every local gate. */
  private[graft] val VocabBroadcastCap = 500000L

  /** Memoized distinct-token count of the corpus's `documents` table —
    * the vocab-fence scalar ([[snapScalar]] discipline: one
    * distributed job per corpus snapshot per JVM, the metadata pass a
    * serving system runs alongside the IVF index build). */
  def vocabCount(spark: SparkSession, dir: String): Long =
    snapScalar(dir, "vocab:documents")(
      tbl(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok"))).head.getLong(0))

  /** THE broadcast-or-hash policy for a join side whose size grows
    * with the corpus: `broadcast(df)` while [[belowFence]]`(n, cap)`,
    * else `df.hint("shuffle_hash")` — hash-build `df` on the shuffle,
    * never sort the probe side (SMJ would sort the corpus). Hint-only:
    * values are identical on both branches, so the oracles are
    * untouched by construction. Every such site ([[hintVocab]],
    * [[hintIdSet]], q58's eval shingles, the streaming decontamination
    * eval grams) calls this, so the forced-above-fence mode flips all
    * of them.
    *
    * Measured margin of the broadcast branch (perfbench `--ledger`
    * corpus, 4-core box, plain vs SPARK_GRAFT_FORCE_ABOVE_FENCE=1,
    * summed over the 12 queries hinted only through here — q11 q32
    * q46 q55 q58 q59 q64 q75 q98 q101 q102 q107; BASELINE.md round
    * 17): 73 vs 81 exchanges, 1.9 vs 7.0 MB shuffle write and
    * 3.5–3.9 vs 4.5–4.9 s task CPU over two ledger pairs — the
    * broadcast saves the probe side's shuffle.
    * Wall time at sf0.01 sits within noise (`graft.Bench` forced/plain
    * 0.78–1.08 over those queries and q70), because the saved
    * exchanges move a few MB at that scale. */
  private[graft] def hintBySize(n: Long, cap: Long, df: DataFrame): DataFrame =
    if (belowFence(n, cap)) broadcast(df) else df.hint("shuffle_hash")

  /** Join-strategy hint for a VOCAB-sized frame (distinct tokens, or a
    * bounded multiple thereof): [[hintBySize]] on the memoized
    * distinct-token count against [[VocabBroadcastCap]] — the
    * broadcast is the fast path at every test scale. */
  def hintVocab(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    hintBySize(vocabCount(spark, dir), VocabBroadcastCap, df)

  /** Corpus-id-set broadcast fence cap: a frame of doc/vec ids DERIVED
    * from the corpus (near-dup victims, flagged docs) grows linearly
    * with it — bounded only by the corpus row count, not by
    * construction — so hints on such frames ride this fence. 2M ids ≈
    * tens of MB serialized: comfortably broadcast-able, far below the
    * corpus scales where the set itself explodes. */
  private[graft] val IdBroadcastCap = 2000000L

  /** Join-strategy hint for a corpus-derived ID SET whose only a
    * priori bound is the row count of `table` (its superset):
    * [[hintBySize]] on that count against [[IdBroadcastCap]] — the
    * broadcast at every test scale. */
  def hintIdSet(spark: SparkSession, dir: String, table: String,
      df: DataFrame): DataFrame =
    hintBySize(snapCount(spark, dir, table), IdBroadcastCap, df)

  /** Distributed exact rank — the scale-safe replacement for a
    * row_number/ntile window whose partition is the whole corpus (or a
    * corpus-sized group, e.g. a one-language corpus): a global window
    * funnels every row through ONE task, which is the last
    * single-partition pattern that cannot survive 100 TB.
    *
    * Shape (ONE corpus shuffle, everything else bounded):
    *   1. `repartitionByRange(P, part ++ sort)` + local sort — the only
    *      corpus-scale exchange. The explicit partition count makes
    *      the exchange REPARTITION_BY_NUM, which AQE leaves alone
    *      (no coalesce/local-read), so partition ids are stable
    *      across the two consumers below.
    *   2. `monotonically_increasing_id()` stamps (pid << 33 | record#)
    *      per physical partition in sorted order — the classic
    *      zipWithIndex idiom, no second shuffle and no per-pid window.
    *   3. a (part, pid) count/min aggregate (≤ groups·P rows) turns
    *      record numbers into global ranks: per-group running offsets
    *      via a window over the TINY agg frame, broadcast back.
    *
    * rank = offset + record − min(record in this (group, pid)) + 1 —
    * exact and gap-free because the local sort orders (part ++ sort)
    * so each group's records are contiguous within a partition.
    * When `sortCols` extended by `partCols` is a total order, ranks
    * are fully determined (current call sites tie-break on doc_id).
    * When it is NOT, rank assignment among tied rows is unspecified —
    * but still RECOMPUTE-SAFE: [[localSortKeys]] appends every
    * remaining orderable column to the local sort, so a lost persisted
    * block re-derives the exact `_dr_rec` assignment the offset
    * aggregate already consumed instead of silently reshuffling ties.
    *
    * The local sort is protected from EliminateSorts by the
    * NONDETERMINISTIC mid projection directly above it (the rule stops
    * recursing at non-deterministic projects); DistRankSpec pins the
    * ground truth against single-partition row_number so any optimizer
    * drift fails loudly.
    *
    * THE STAMPED FRAME EXECUTES ONCE BY CONSTRUCTION: the offset
    * aggregate and the join both consume it, and a range partitioner
    * re-instantiated in a second copy of the exchange samples
    * boundaries with a fresh seed — boundary rows could land in
    * different pids per consumer and silently corrupt ranks. Until
    * round 9 this leaned on AQE's canonical-plan exchange reuse
    * (`ReusedExchange`), a test-time invariant that
    * `spark.sql.exchange.reuse=false` or canonicalization drift in a
    * future Spark would void ON THE >4M-ROW BRANCH ONLY. The stamped
    * frame is now `persist()`ed (MEMORY_AND_DISK), so both consumers
    * read ONE materialized pid assignment whatever the exchange-reuse
    * machinery does — the columnar cache is the same order of disk
    * cost as the shuffle files themselves, and a lost cached block
    * recomputes from the (deterministic post-sort) shuffle output.
    * Long-lived sessions that interleave corpus snapshots can reclaim
    * the block-manager space with `spark.catalog.clearCache()` between
    * corpora (the CacheManager dedupes repeated construction of the
    * same rank within a snapshot, so per-query re-builds don't stack).
    *
    * NULL partition keys rank as a normal group — the join back to the
    * offset frame uses null-SAFE key equality (`<=>`), matching the
    * window branch's NULL-group semantics; a null-unsafe join would
    * silently DROP null-keyed rows only above the fence (nullable keys
    * are live at the q63/q79/q87 call sites: lang/source columns).
    *
    * Output: input columns + `_dr_rank` (1-based rank within its
    * partCols group under sortCols) + `_dr_cnt` (group row count). */
  def distRank(df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String], desc: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = (partCols ++ sortCols).map(n =>
      if (desc(n)) col(n).desc else col(n))
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val stamped = df.repartitionByRange(p, keys: _*)
      .sortWithinPartitions(localSortKeys(df, partCols ++ sortCols, keys): _*)
      .withColumn("_dr_mid", monotonically_increasing_id())
      .withColumn("_dr_pid", shiftright(col("_dr_mid"), 33))
      .withColumn("_dr_rec", col("_dr_mid").bitwiseAND(lit((1L << 33) - 1)))
      .persist()
    rankCaches.add(stamped)
    val offs = stamped
      .groupBy((partCols :+ "_dr_pid").map(col): _*)
      .agg(count(lit(1)).as("_dr_c"), min(col("_dr_rec")).as("_dr_base"))
      .withColumn("_dr_off",
        sum(col("_dr_c")).over(Window.partitionBy(partCols.map(col): _*)
          .orderBy(col("_dr_pid"))) - col("_dr_c"))
      .withColumn("_dr_cnt",
        sum(col("_dr_c")).over(Window.partitionBy(partCols.map(col): _*)))
      .select((partCols :+ "_dr_pid" :+ "_dr_base" :+ "_dr_off" :+ "_dr_cnt")
        .map(col): _*)
    nullSafeJoin(stamped, offs, partCols, "_dr_pid", "inner",
        bcastRight = true)
      .withColumn("_dr_rank",
        col("_dr_off") + col("_dr_rec") - col("_dr_base") + lit(1L))
      // pin the output to input order + (_dr_rank, _dr_cnt) so both
      // fencedRank branches emit the identical schema
      .select((df.columns.toSeq :+ "_dr_rank" :+ "_dr_cnt").map(col): _*)
  }

  /** Stamped frames pinned by [[distRank]]/[[distCumSum]]. Each
    * above-fence invocation persist()s a corpus-sized MEMORY_AND_DISK
    * block that outlives the consuming action (the CacheManager dedupes
    * re-builds of the SAME rank, but distinct corpora stack). Tracked
    * here so a long-lived session can reclaim exactly these via
    * [[unpersistRanks]] without nuking unrelated cache entries. */
  private val rankCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Release every stamped-frame cache block pinned by above-fence
    * [[distRank]]/[[distCumSum]]/[[fencedLead]] calls since the last
    * release. Safe at any time (an in-flight consumer just recomputes
    * from the deterministic shuffle output); call between corpus
    * snapshots in a long-lived session, or use
    * `spark.catalog.clearCache()` to drop everything. */
  def unpersistRanks(): Unit = {
    var h = rankCaches.poll()
    while (h != null) { h.unpersist(blocking = false); h = rankCaches.poll() }
  }

  /** Local-sort key list for the stamped frame: the explicit
    * (part ++ sort) keys, then every REMAINING orderable column of
    * `df` ascending. The extras never change which ranks are legal
    * (rank among sortCols-ties is unspecified); they exist so a lost
    * persisted block RECOMPUTES in one deterministic order even when
    * `sortCols` is not a total order — without them, a recomputed
    * block could reassign `_dr_rec` among tied rows differently from
    * what the offset aggregate already consumed, silently corrupting
    * ranks under executor failure. Non-orderable columns (maps) are
    * skipped; rows identical in EVERY orderable column are mutually
    * interchangeable, so any assignment among them is value-identical.
    * Sort-only: the range partitioner still keys on the explicit
    * columns alone, so partition boundaries are unchanged. */
  private def localSortKeys(df: DataFrame, explicit: Seq[String],
      keys: Seq[Column]): Seq[Column] = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val rest = df.schema.fields
      .filterNot(f => explicit.contains(f.name))
      .filter(f => RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name)).toSeq
    keys ++ rest
  }

  /** Join `left` to `right` on their shared `partCols` with null-SAFE
    * equality (`<=>` — a NULL key matches its own group, exactly as a
    * window partitions NULLs) plus an exact equality on the shared
    * never-null `anchor` column. Right's key columns are renamed away
    * (`_o_` prefix) before the join and dropped after, so the output
    * is left's columns plus right's remaining payload columns. ONE
    * home for the pattern every distributed-rank consumer shares
    * (distRank/distCumSum offset joins, fencedLead's rank-shifted
    * self-join) — a key-semantics fix here fixes every path at once. */
  private def nullSafeJoin(left: DataFrame, right: DataFrame,
      partCols: Seq[String], anchor: String, joinType: String,
      bcastRight: Boolean = false): DataFrame = {
    val payload = right.columns
      .filterNot(c => partCols.contains(c) || c == anchor)
    val renamed = right.select(
      (partCols.map(n => col(n).as(s"_o_$n")) :+
        col(anchor).as("_o_anchor")) ++ payload.map(col): _*)
    val r = if (bcastRight) broadcast(renamed) else renamed
    val cond = partCols.map(n => col(n) <=> col(s"_o_$n"))
      .foldLeft(col(anchor) === col("_o_anchor"))(_ && _)
    left.join(r, cond, joinType)
      .select((left.columns ++ payload).map(col): _*)
  }

  /** Corpus-partition rank fence: below this many rows a plain
    * rank/count window is CHEAPER than [[distRank]]'s extra stages
    * (one task sorting ≤4M slim (key, id) rows ≈ ~100 MB — fine), and
    * it is every test scale; above it the single window task becomes
    * the straggler that cannot survive 100 TB, so the rank flips to
    * the distributed form. Values identical by construction: same
    * total order, same rank semantics.
    *
    * Measured margin of the window branch (`graft.Bench`, sf0.01,
    * 4-core box, min-of-3, forced/plain wall ratio; BASELINE.md round
    * 17): q20 1.71, q63 1.76, q79 1.86, q81 2.21, q39 1.28, q44 1.19,
    * q90 1.43 — the distributed form's range exchange, stamp persist
    * and offset join cost up to 2.2× there.
    * The ratios understate it: [[distRank]] persists its stamped
    * frame, so min-of-3's second and third runs read that cache. */
  private[graft] val WindowRankCap = 4000000L

  /** Df-count fence for the capped-shingle family
    * ([[graft.queries.Dedup.cappedShingles]]): below this many
    * qualifying docs the per-shingle df count rides a
    * (shingle)-window whose exchange the pair join REUSES; above it
    * the cap flips to the partial-agg df + broadcast-hot-set
    * anti-join shape. Separate from [[WindowRankCap]] because the
    * cost model differs: a rank window sorts one slim corpus-striped
    * partition, while the df window buffers PER-SHINGLE occurrence
    * groups whose size grows with the corpus (df ∝ n under
    * replication) — measured crossover on the GenScale doc axis
    * (BASELINE.md round-16 ladder): window wins 1.13×/1.45× at
    * 0.5M/1.5M docs, LOSES 1.6× at 3M (11.9k s vs 7.3k s exec — the
    * group-buffer + GC cost turns nonlinear) — so this fence sits at
    * the 2M midpoint, ahead of the cliff, while rank fences keep the
    * 4M cap their own slim-row measurements justify. */
  private[graft] val DfCountCap = 2000000L

  /** [[distRank]] behind the [[WindowRankCap]] fence, keyed on an
    * EXPLICIT upper bound `n` of the ranked frame's row count.
    * ABOVE the fence each call pins a corpus-sized MEMORY_AND_DISK
    * cache block for the session lifetime — long-lived sessions
    * release them with [[unpersistRanks]] between corpora.
    * Below the fence (every test scale), nothing is cached:
    * partition-window rank+count while `n` fits the cap, distributed
    * rank above it. Emits the same `_dr_rank`/`_dr_cnt` columns either
    * way. `n` MUST bound `df`'s row count or the window branch holds
    * far past the cap (the fence exists to stop a corpus-sized frame
    * funneling through one window task) — call sites derive it from a
    * memoized snapshot scalar ([[snapCount]]/[[vocabCount]]), never a
    * fresh count job. */
  def fencedRankN(n: Long, df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String], desc: Set[String] = Set.empty): DataFrame =
    if (belowFence(n, WindowRankCap)) {
      import org.apache.spark.sql.expressions.Window
      val order = sortCols.map(n => if (desc(n)) col(n).desc else col(n))
      val w = Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)
      // the count rides the SAME (partition, order) spec with an
      // explicit unbounded frame so both functions fold into ONE
      // WindowExec pass instead of two
      df.withColumn("_dr_rank", row_number().over(w).cast("long"))
        .withColumn("_dr_cnt", count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    } else distRank(df, partCols, sortCols, desc)

  /** [[fencedRankN]] keyed on the memoized `table` row count. VALID
    * ONLY when `df` has at most one row per `table` row (true at both
    * call sites: ≤1 ranked row per document) — a fan-out frame (e.g.
    * per-token rows) must use [[fencedRankN]] with its own bound
    * instead, or the window branch persists far past the cap. */
  def fencedRank(spark: SparkSession, dir: String, table: String,
      df: DataFrame, partCols: Seq[String], sortCols: Seq[String],
      desc: Set[String] = Set.empty): DataFrame =
    fencedRankN(snapCount(spark, dir, table), df, partCols, sortCols, desc)

  /** [[distRank]]'s sibling for an exact per-group EXCLUSIVE prefix
    * sum of `weightCol` under `sortCols` order — the distributed form
    * of `sum(w) OVER (PARTITION BY g ORDER BY s ROWS UNBOUNDED
    * PRECEDING) - w`, which otherwise funnels a corpus-sized group
    * (one-language shard packing) through one window task.
    *
    * Same stamped-frame discipline as distRank (persist()ed so both
    * consumers read ONE pid assignment; null-SAFE key equality on the
    * offset join); the within-partition running sum genuinely needs a
    * window, so it rides a SECOND exchange hash-keyed on
    * (group, pid) — pid spreads a hot group over every range
    * partition, so both exchanges stay balanced and no task sees more
    * than ~n/P rows. Output: input columns + `_dr_psum` (exclusive
    * prefix sum, exact under an integral weight type). */
  def distCumSum(df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String], weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = (partCols ++ sortCols).map(col)
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val stamped = df.repartitionByRange(p, keys: _*)
      .sortWithinPartitions(localSortKeys(df, partCols ++ sortCols, keys): _*)
      .withColumn("_dr_mid", monotonically_increasing_id())
      .withColumn("_dr_pid", shiftright(col("_dr_mid"), 33))
      .persist()
    rankCaches.add(stamped)
    val offs = stamped
      .groupBy((partCols :+ "_dr_pid").map(col): _*)
      .agg(sum(col(weightCol)).as("_dr_c"))
      .withColumn("_dr_off",
        sum(col("_dr_c")).over(Window.partitionBy(partCols.map(col): _*)
          .orderBy(col("_dr_pid"))) - col("_dr_c"))
      .select((partCols :+ "_dr_pid" :+ "_dr_off").map(col): _*)
    val wIn = Window.partitionBy((partCols :+ "_dr_pid").map(col): _*)
      .orderBy(sortCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nullSafeJoin(stamped, offs, partCols, "_dr_pid", "inner",
        bcastRight = true)
      .withColumn("_dr_psum",
        col("_dr_off") + sum(col(weightCol)).over(wIn) - col(weightCol))
      .select((df.columns.toSeq :+ "_dr_psum").map(col): _*)
  }

  /** [[distCumSum]] behind the [[WindowRankCap]] fence on an EXPLICIT
    * row-count bound `n` (the [[fencedRankN]] contract) — plain
    * per-group running-sum window below the cap (every test scale),
    * the distributed two-exchange form above it. Above the fence each
    * call pins a corpus-sized cache block ([[unpersistRanks]]). */
  def fencedCumSumN(n: Long, df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String], weightCol: String): DataFrame =
    if (belowFence(n, WindowRankCap)) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(sortCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("_dr_psum",
        sum(col(weightCol)).over(w) - col(weightCol))
    } else distCumSum(df, partCols, sortCols, weightCol)

  /** [[fencedCumSumN]] keyed on the memoized `table` row count — valid
    * only when `df` has at most one row per `table` row (the
    * [[fencedRank]] contract). */
  def fencedCumSum(spark: SparkSession, dir: String, table: String,
      df: DataFrame, partCols: Seq[String], sortCols: Seq[String],
      weightCol: String): DataFrame =
    fencedCumSumN(snapCount(spark, dir, table), df, partCols, sortCols,
      weightCol)

  /** [[distRank]]-backed LEAD — the distributed form of
    * `lead(c, 1) OVER (PARTITION BY g ORDER BY s)` for corpus-striped
    * partition keys (q81's (event_type, day)): rank every row, then
    * left-join each row to rank+1 within its group. Below
    * [[WindowRankCap]] the plain lead window is cheaper and is every
    * test scale. `sortCols` must be a total order. Output: input
    * columns + `_dr_lead` (next row's `leadCol`, NULL at the group
    * end — exactly lead's contract). */
  def fencedLead(spark: SparkSession, dir: String, table: String,
      df: DataFrame, partCols: Seq[String], sortCols: Seq[String],
      leadCol: String): DataFrame =
    if (belowFence(snapCount(spark, dir, table), WindowRankCap)) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(sortCols.map(col): _*)
      df.withColumn("_dr_lead", lead(col(leadCol), 1).over(w))
    } else {
      val ranked = distRank(df, partCols, sortCols).drop("_dr_cnt")
      // null-SAFE group keys via the shared helper: a NULL partition
      // key is a normal lead group in the window branch, and a
      // null-unsafe self-join would null out its leads above the cap
      val next = ranked
        .select((partCols.map(col) :+
          (col("_dr_rank") - 1).as("_dr_rank") :+
          col(leadCol).as("_dr_lead")): _*)
      nullSafeJoin(ranked, next, partCols, "_dr_rank", "left")
        .select((df.columns.toSeq :+ "_dr_lead").map(col): _*)
    }

  /** Exact integer division for non-negative longs (Spark's `/` on
    * longs returns double). The divisible numerator `a - pmod(a, b)`
    * is divided in DECIMAL(38,0): the quotient is exactly integral, so
    * the scale-6 decimal result is exact for ALL long operands — a
    * double division would round past 2^53, and dividing the RAW `a`
    * in decimal would carry the integer part up whenever the remainder
    * fraction exceeds 0.9999995 (reachable once b > 2·10⁶, i.e. at
    * corpus-scale ntile row counts). */
  private[graft] def intDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
      .cast("long")

  /** ntile(k) recomputed from an exact 1-based rank and the partition
    * row count — bit-identical to SQL NTILE (first n%k buckets get the
    * extra row), so a [[distRank]] chain can replace an ntile window
    * without touching a DuckDB oracle. */
  def ntileFromRank(k: Int, rank: Column, n: Column): Column = {
    val r = pmod(n, lit(k.toLong))
    val q = intDiv(n, lit(k.toLong))
    val b = r * (q + 1)
    when(rank <= b, intDiv(rank - 1, q + 1) + 1)
      .otherwise(r + intDiv(rank - lit(1L) - b, q) + 1)
  }

  /** Global sort over an expensive SHUFFLE-FREE map lineage. A bare
    * `orderBy` range-samples its child to pick partition boundaries,
    * and when no exchange sits below the sort that sampling job
    * re-executes the entire map lineage a second time — 2× the
    * regex/hash CPU of a text-normalization pass (q85 ran at half
    * cost after this pin; BASELINE.md round 10). Pinning a slim hash
    * exchange on the sort keys below the sort materializes the
    * PROJECTED rows once as shuffle files, which the sampling job and
    * the sort stage then both re-read. Shuffle volume is the slim
    * projected frame (twice) — never the corpus text — so the shape
    * also holds at 100 TB, where the alternative (sorting the raw
    * text first and projecting after, order-preserved) would
    * range-exchange the whole corpus. Only worth it when the lineage
    * below is shuffle-free AND expensive: any existing exchange in
    * the child already gives the sampling job shuffle files to
    * re-read, and pinning a cheap lineage just adds an exchange. */
  def pinnedSort(df: DataFrame, keys: String*): DataFrame =
    df.repartition(keys.map(col): _*).orderBy(keys.map(col): _*)

  /** Portable 32-bit hash of a string column (agrees with DuckDB). */
  def phash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** DuckDB SQL fragment for [[phash]]. */
  def phashSql(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 8))::BIGINT)"

  /** Driver-side JVM twin of [[phash]] — for deterministic constants
    * baked into literals (q53's plane weights) and for computing
    * expected outcomes in tests. The three forms (Column, SQL, JVM)
    * must stay in lockstep; this file is their single home. */
  def phashDriver(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Exact, order-independent aggregation-ready value for a double col.
    *
    * Cross-engine caveat (round-10 fuzz, the q81 drift): Spark casts
    * a double to decimal via its SHORTEST string repr while DuckDB
    * rounds the EXACT binary value — the two disagree only when the
    * double's ulp approaches the 10⁻⁶ target resolution, i.e.
    * |x| ≳ ~10⁹. So `dec(product)` of an inexact double product is
    * safe for the ≤10⁵-magnitude revenue terms (a 2M-sample search
    * found zero divergences there) but NOT for 10¹⁰-magnitude terms
    * like value×gap_ms — at that scale compute dec(factor) FIRST and
    * multiply in decimal space (exact in both engines). */
  def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** DuckDB SQL fragment for [[dec]]. */
  def decSql(expr: String): String = s"CAST($expr AS DECIMAL(18,6))"

  /** Timestamp column -> epoch milliseconds (bigint; floors like DuckDB
    * epoch_ms). */
  def ms(c: Column): Column = unix_millis(c)

  /** Timestamp column -> integer epoch-day number — THE day-bucketing
    * convention (UTC, epoch origin), one home for the expression that
    * q19/q51/q54/q89 all key on. DuckDB twin: [[dayNumSql]]. */
  def dayNum(c: Column): Column =
    // floor-div (matches DuckDB `//`); the midnight-truncated ms value
    // is an exact multiple of 86400000 well inside 2^53, so the double
    // quotient is the exact integer day.
    floor(unix_millis(date_trunc("day", c)) / 86400000.0d).cast("long")

  /** DuckDB SQL fragment for [[dayNum]]. */
  def dayNumSql(expr: String): String =
    s"epoch_ms(CAST(date_trunc('day', $expr) AS TIMESTAMP)) // 86400000"

  /** Spread a narrow scan across cores ONLY when it arrives with fewer
    * partitions than the session's parallelism — the test-scale case,
    * where one parquet file = one split would serialize a CPU-bound
    * derivation (minhash/signature builds) on a single core. At real
    * scale the scan already has >= cores splits and this is the
    * IDENTITY: no corpus-wide shuffle is inserted.
    *
    * The partition count is read from `gauge` (defaults to `df`), which
    * MUST be a narrow plan (scan + projections): `.rdd.getNumPartitions`
    * on a narrow plan is pure driver-side planning, but on a plan with
    * exchanges AQE would *execute* the upstream stages to size them.
    * Callers whose input embeds a join pass the underlying scan as the
    * gauge.
    *
    * The repartition carries an EXPLICIT partition count (round 16):
    * a bare `repartition(key)` is `REPARTITION_BY_COL`, which AQE's
    * byte-based coalescing merges right back to 1-2 partitions — the
    * spread inputs are exactly the input-invisible/compute-explosive
    * shape (a few MB of compressed docs/vectors feeding minhash or
    * pair-loop work) that coalescing mis-sizes, so the spread was
    * silently a no-op (q30's pair loop measured wall ≈ total executor
    * time: ONE task). `REPARTITION_BY_NUM` is exempt from coalescing;
    * the count is the session's parallelism — scale-adaptive, never a
    * hard-coded width. */
  def spread(df: DataFrame, key: Column, gauge: DataFrame = null): DataFrame =
    if (Option(gauge).getOrElse(df).rdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df

  /** Attach a one-row scalar frame (a global aggregate — corpus count,
    * derived parameter) to every row of `df` — as a broadcast
    * EQUALITY join on a constant key, not a cross join: the plan stays
    * BroadcastHashJoin, so the suite-wide "no BNLJ / no cartesian"
    * plan invariants (which guard against accidental all-pairs joins)
    * hold even for queries that consume a derived scalar.
    *
    * The key is `coalesce(pmod(hash(firstCol), 1), 0)` — always 0 —
    * rather than a literal: a literal key gets constant-folded
    * (`1 = 1` → true) and the join re-planned as a nested loop; an
    * attribute-derived key is not foldable, so the equality survives
    * to physical planning. `hash` never returns null, so no row is
    * dropped. The `coalesce(..., 0)` wrapper matters for PLANS, not
    * values: bare `pmod` is nullable (division ops can return null),
    * so the join would infer an `isnotnull(pmod(...))` filter and push
    * it into the probe branch — breaking subtree canonicalization and
    * therefore ReusedExchange wherever the probe subtree also feeds a
    * derived aggregate (q75's one-scan tf→vocab→N chain). A
    * non-nullable key makes the inferred filter fold away.
    *
    * This is THE way to attach a 1-row scalar. The one deliberate
    * BNLJ exemption left in the inventory is the k-means centroid
    * assignment (`Similarity.assignTo`): a ≤8-row broadcast really is
    * a bounded cross join, and its plans assert that bound explicitly
    * rather than disguise the shape. */
  def withScalar(df: DataFrame, scalar: DataFrame): DataFrame = {
    def k(f: DataFrame) =
      f.withColumn("__k",
        coalesce(pmod(hash(col(f.columns.head)), lit(1)), lit(0)))
    k(df).join(broadcast(k(scalar)), "__k").drop("__k")
  }
}
