package graft.queries

import graft.T._
import graft.functions.MinHashLsh
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication inventory (north-star extension; SURVEY.md
  * §2.3 q25 + q28-q29): the operators a training-data pipeline runs
  * over a document corpus. All hashing is the portable md5-prefix hash
  * (T.phash) so DuckDB oracles are hash-exact.
  *
  * Scale design (100 TB posture): the exact-Jaccard join only touches
  * co-occurring shingles (no all-pairs blowup — hot shingles above a
  * document-frequency cap are dropped before the self-join, the
  * standard stop-phrase mitigation); MinHash/LSH reduces candidate
  * generation to equality joins on band signatures, which
  * shuffle-partition cleanly by (band, signature) and are computed
  * row-locally (functions.MinHashLsh — zero shuffle); SimHash pairing
  * uses band-prefix blocking (equality join on 8-bit signature bands,
  * exact for hamming ≤ 3 by pigeonhole) instead of an all-pairs
  * cartesian.
  */
object Dedup {

  /** Tokens with 0-based position per document. */
  private def toks(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("ord", "tok")))

  /** Distinct 3-gram token shingles per `keyCols` group, built with
    * per-row array ops (split once → transform(sequence) →
    * array_distinct → explode): fully narrow — no per-token window
    * shuffle, no global distinct shuffle — which is what makes
    * shingling embarrassingly parallel at 100 TB. Single definition
    * shared by q25/q28/q48/q49 so the shingle scheme cannot diverge. */
  private[queries] def shinglesBy(
      s: SparkSession, d: String, keyCols: String*): DataFrame =
    // NOT spread (round-16 A/B): widening this scan won the
    // non-iterative KMV consumer (q49, spread at its own call site)
    // but cost the CC/incremental family ~0.5-1s each — their
    // checkpointed per-round frames inherit the 32-partition width
    // and every tiny pointer-jump round then pays 32-task scheduling.
    shinglesOf(tbl(s, d, "documents"), keyCols: _*)

  /** The same scheme over an arbitrary docs frame (needs `text` +
    * `keyCols`) — public so the s19 streaming ingest gate computes
    * shingles with PROVABLY the same definition the batch dedup
    * family uses. */
  def shinglesOf(docs: DataFrame, keyCols: String*): DataFrame =
    docs
      .select(keyCols.map(col) :+ split(col("text"), " ").as("t"): _*)
      .filter(size(col("t")) >= 3)
      .select(keyCols.map(col) :+
        explode(array_distinct(transform(
          sequence(lit(1), size(col("t")) - 2),
          i => concat_ws(" ",
            element_at(col("t"), i),
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2))))).as("shingle"): _*)

  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesBy(s, d, "doc_id")

  /** Document-frequency cap for the exact-Jaccard self-join: shingles
    * shared by more than `cap` documents are dropped before the join.
    * A single stop-phrase shingle shared by k docs contributes O(k²)
    * join rows — one phrase in 1M docs is 10¹² rows — so the cap
    * bounds per-shingle join fan-out at cap² regardless of corpus
    * size. The cap is RELATIVE — 0.1% of the corpus's document count,
    * the production tuning — with an absolute floor so tiny test
    * corpora (where 0.1% rounds to ~0) keep a cap far above the
    * observed max df (sf0.1: max df = 25 over 5000 docs → floor 1000
    * binds, results byte-identical with and without the cap; at 1e9
    * docs the fraction, 1e6, binds). The q25/q48 oracles apply the
    * SAME fraction+floor cap (cap/shc CTEs), so Spark and DuckDB stay
    * formally equivalent at every scale, not just below the cap. */
  private[graft] val HotShingleDfFraction = 0.001
  private[graft] val HotShingleDfFloor = 1000L

  /** The cap formula over a qualifying-doc count column — ONE home
    * (private[graft]: the s19 index builder must use the same rule,
    * not a copy). */
  private[graft] def capFromCount(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(lit(HotShingleDfFloor), floor(n * HotShingleDfFraction))

  /** The cap as a lazy 1-row scalar off the shingle frame itself (like
    * q46's corpus-size N: attached via T.withScalar's broadcast hash
    * join, no driver action). */
  private[queries] def hotShingleCap(sh: DataFrame): DataFrame =
    sh.agg(capFromCount(countDistinct(col("doc_id"))).as("cap"))

  /** Memoized qualifying-doc count (docs with ≥3 tokens — the shingle
    * universe's row bound per doc), the scalar behind both the df cap
    * and the [[cappedShingles]] skew fence. Every ≥3-token doc emits
    * ≥1 shingle, so this plain documents-scan count equals
    * countDistinct(doc_id) over the shingle frame (the oracle cap CTE
    * counts the same way) WITHOUT re-exploding the corpus; cached per
    * corpus snapshot ([[graft.T.snapScalar]]), so the scan runs once
    * per JVM instead of once per execution of each of the four
    * consumers (q25/q83/q88/q92). */
  private[queries] def qualifyingDocs(s: SparkSession, d: String): Long =
    snapScalar(d, "docs_ge3tok") {
      tbl(s, d, "documents")
        .filter(size(split(col("text"), " ")) >= 3).count()
    }

  /** The fraction+floor cap over [[qualifyingDocs]] as a 1-row frame —
    * keeps the downstream [[cappedShingles]] plumbing (and its
    * injectable-cap test surface) unchanged. The driver-side formula
    * is the same IEEE arithmetic as [[capFromCount]]: n is exact in a
    * double, so floor(n·0.001) agrees bit-for-bit. */
  private def hotShingleCapDocs(s: SparkSession, d: String): DataFrame = {
    val n = qualifyingDocs(s, d)
    val cap = math.max(HotShingleDfFloor,
      math.floor(n * HotShingleDfFraction).toLong)
    // A 1-row LocalRelation with a DATA row (not a projected literal):
    // a foldable `cap` column would constant-fold withScalar's hash
    // key and degrade the scalar-attach join to a nested loop (the
    // hazard documented on T.withScalar); an attribute-valued row
    // keeps it a broadcast hash join.
    import s.implicits._
    Seq(cap).toDF("cap")
  }

  /** The capped shingle universe: `sh` minus shingles whose document
    * frequency exceeds the fraction+floor cap. Extra key columns
    * (e.g. q92's `source`) ride through untouched.
    *
    * Skew fence (`nDocs` = qualifying-doc count, the max df any one
    * shingle can reach): below [[graft.T.DfCountCap]] (2M — measured
    * crossover, see the constant's scaladoc; round 16 moved this off
    * the 4M rank fence after the window path lost 1.6× at 3M docs)
    * the df count is a (shingle)-partitioned window — ONE corpus
    * exchange feeding the self-join downstream, the plan the bench
    * family measures. Above it a stop-phrase shingle's occurrence
    * list (up to nDocs rows in ONE window task's group buffer) no
    * longer fits a task, so the cap flips to the
    * `StreamingIngestDedup.buildIndex` shape:
    * a partial-agg df count (map-side combine → vocab-sized shuffle),
    * the over-cap shingles — a BOUNDED set, |hot| ≤ Σdf/cap ≤ 1000·k̄
    * by construction (k̄ = mean shingles/doc) — broadcast, and hot
    * occurrences dropped ROW-LOCALLY by an anti-join before any
    * corpus-scale shingle exchange. Values identical on both sides:
    * keep df ≤ cap ≡ drop df > cap (DedupScaleSpec flip test).
    *
    * The above-fence branch deliberately runs the tokenize+shingle
    * lineage TWICE (once under the df aggregate, once as the anti-join
    * probe) rather than pinning one (shingle) exchange: a pin would
    * shuffle the ENTIRE exploded shingle frame — the full-corpus
    * write+read the branch exists to avoid, plus the hot-group
    * buffering — while the df side reduces to vocab-sized partials at
    * the map (combine) and the probe side stays fully narrow. Two
    * narrow scans beat one corpus-wide shuffle at the scale this
    * branch runs; do NOT "fix" this by caching `sh` either (the
    * exploded frame is larger than the corpus itself). */
  private[queries] def cappedShingles(sh: DataFrame, capDf: DataFrame,
      nDocs: Long): DataFrame =
    if (graft.T.belowFence(nDocs, graft.T.DfCountCap)) {
      withScalar(sh, capDf)
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy("shingle")))
        .filter(col("df") <= col("cap"))
        .drop("df", "cap")
    } else {
      val dfCounts = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      val hot = withScalar(dfCounts, capDf)
        .filter(col("df") > col("cap"))
        .select(col("shingle").as("_hot_shingle"))
      // null-SAFE anti-join key (<=>): the below-cap window branch
      // groups NULL shingles null-safely (a NULL group counts and can
      // be dropped when over-cap), so the above-cap branch must be
      // able to drop a NULL-keyed hot group too or the two fence
      // branches diverge on byte identity. Moot for today's
      // concat_ws-built (never-null) shingles, but the guarantee no
      // longer depends on that unstated upstream property.
      sh.join(broadcast(hot), col("shingle") <=> col("_hot_shingle"),
          "left_anti")
        .select(sh.columns.map(col): _*)
    }

  /** Shared pair-overlap core for the exact set-similarity family
    * (q25 Jaccard, q83 containment): capped shingle self-join →
    * per-pair intersection size `i` with both set sizes (na, nb)
    * attached. The cap is applied BEFORE set sizes are computed, so
    * every similarity derived from (i, na, nb) is a true measure over
    * the capped shingle universe (intersections and sizes count the
    * same shingle set).
    *
    * Skew-lever hierarchy for kept-but-hot shingles (df ≤ cap but ≫
    * median; measured on the Zipfian fixture, DedupScaleSpec):
    * INLINE, the intersection join inherits the cap window's (shingle)
    * partitioning and sort — no fresh shuffle at the join, so AQE's
    * skew rule can never fire here and the per-task bound is cap²
    * combos consumed by the same-stage partial agg. That is fine up to
    * production caps of ~10⁴ (10⁸ combos/task); past that, materialize
    * the core and self-join the files — BUT shard the write
    * round-robin, NOT clustered by shingle: AQE splits a skewed
    * partition by map-output ranges, so a hot key written into one
    * file (one map task) is structurally unsplittable, while the same
    * key spread over n shards splits n ways (both behaviors asserted
    * in DedupScaleSpec's skew-lever test). */
  private[queries] def pairOverlaps(sh: DataFrame, capDf: DataFrame,
      nDocs: Long): DataFrame = {
    // Pin the capped frame to an explicit (shingle) exchange so all
    // FOUR consumer subtrees (join side A, join side B, and the two
    // aliases of `sizes`) canonicalize to the same exchange and the
    // cap's count-over-window chain runs ONCE via ReusedExchange —
    // without this the chain executed once per subtree (4x at sf0.1;
    // the q28/q55 sigs repartition is the same discipline, asserted
    // in DedupScaleSpec).
    val capped = cappedShingles(sh, capDf, nDocs).repartition(col("shingle"))
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shA = capped.select(col("doc_id").as("da"), col("shingle"))
    val shB = capped.select(col("doc_id").as("db"), col("shingle").as("shingle_b"))
    val inter = shA
      .join(shB, col("shingle") === col("shingle_b") && col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
  }

  /** Near-duplicate pairs (da < db) with exact 3-gram Jaccard ≥ 0.2 —
    * the q25 computation, shared with q48's cluster resolution.
    * Injectable corpus + cap frame (1 row, `cap: bigint`) so the
    * blowup guard is unit-testable at any cap. */
  private[queries] def nearDupPairsFrom(sh: DataFrame, capDf: DataFrame,
      nDocs: Long): DataFrame =
    pairOverlaps(sh, capDf, nDocs)
      .select(col("da"), col("db"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.2)

  private[queries] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    nearDupPairsFrom(shingles(s, d), hotShingleCapDocs(s, d),
      qualifyingDocs(s, d))

  /** q25: near-duplicate documents by exact 3-gram shingle Jaccard
    * (the verifiable form of MinHash dedup at test scale — the MinHash
    * approximation itself is q28). */
  private def q25(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d).orderBy("da", "db")

  /** CTE fragment: the per-doc distinct 3-gram shingle frame
    * (t → sh) — the oracle twin of [[shingles]]. ONE SQL home, shared
    * by the capped-overlap chain below and [[lshCandidateCtes]]. */
  private[queries] val tShCtes =
    """t AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok,2) OVER w AS shingle
      |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      |  QUALIFY lead(tok,2) OVER w IS NOT NULL)""".stripMargin

  /** CTE fragment: just the cap + capped shingle universe (cap → shc)
    * — the oracle twin of [[cappedShingles]]; [[cappedFromShCtes]]
    * composes the symmetric pair chain on top, q92 an asymmetric one. */
  private[queries] val capShcCtes =
    s"""cap AS (
      |  SELECT greatest($HotShingleDfFloor,
      |                  CAST(floor(count(*) * $HotShingleDfFraction) AS BIGINT)) AS cap
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |shc AS (
      |  SELECT doc_id, shingle FROM sh, cap
      |  QUALIFY count(*) OVER (PARTITION BY shingle) <= cap)""".stripMargin

  /** CTE fragment: the capped pair-overlap chain (cap → shc → sizes →
    * inter) over an upstream `sh` — the oracle twin of
    * [[pairOverlaps]]. Composes after [[tShCtes]] (q25/q83, Corpus's
    * pair/CC oracles) or after [[lshCandidateCtes]] (q88), which
    * define the same `t`/`sh`. */
  private[queries] val cappedFromShCtes =
    s"""$capShcCtes,
      |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val q25Sql =
    s"""WITH $tShCtes,
      |$cappedFromShCtes
      |SELECT da, db,
      |       CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.2
      |ORDER BY da, db""".stripMargin

  /** q28: MinHash + LSH candidate pairs — the scalable approximation
    * of q25: 16 hash functions
    * mh_i = min((h·(2i+1) + 7919·i + 13) mod 4294967311) over the
    * document's 3-gram shingle set (unigram sets are useless here —
    * the tiny shared vocab makes every pair collide), banded by the
    * corpus-derived rows-per-band (4×4 at test scale, 2×8 past 8k
    * docs); a candidate pair shares at least one full band signature. Pure
    * integer arithmetic on the portable hash ⇒ bit-identical in
    * DuckDB.
    *
    * Signatures come from the shared row-local HOF scheme
    * ([[graft.functions.MinHashLsh.bandSignatures]] — also the s11
    * streaming-dedup scheme, so batch and stream provably agree); the
    * only shuffle in the whole query is candidate generation itself,
    * the (band, sig) equality self-join. */
  private def q28(s: SparkSession, d: String): DataFrame =
    q28From(lshCandidates(s, d))

  /** q28 with an injectable candidate core — the published-pairs
    * consumer (Cores.lshCandidates): a deployment that materializes
    * the LSH core still publishes the sorted candidate list itself as
    * one of the fan-out artifacts (the third CoresBench consumer,
    * round-12 verdict task 6). */
  private[graft] def q28From(c: DataFrame): DataFrame =
    c.orderBy("da", "db")

  /** q28's distinct LSH candidate pairs (da < db), unsorted — shared
    * with q88's estimate-vs-exact audit. Distinct BY CONSTRUCTION
    * since round 16: each pair is emitted only in its first agreeing
    * band ([[firstAgreeingBand]]), so there is no pair-sized
    * `distinct()` exchange — the cross-band dedup the skew bench
    * measured at ~128 GB of spill is a row-local predicate now. */
  private[queries] def lshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidatesW(s, d, withMh = false)

  /** [[lshCandidates]] with both docs' raw 16-minhash vectors carried
    * on the pair row (`da, db, mha, mhb`) — the q88 shape: the
    * signature-agreement estimate becomes a row-local expression over
    * (mha, mhb), so q88 needs neither a second minhash corpus pass
    * nor the two pair⋈mh doc_id joins the join-attach formulation
    * ([[q88From]], kept for the materialized-core consumer) pays.
    * Corpus-linear extra shuffle bytes (16 longs per signature row),
    * never pair-quadratic. */
  private[queries] def lshCandidatesMh(s: SparkSession, d: String): DataFrame =
    lshCandidatesW(s, d, withMh = true)

  private def lshCandidatesW(s: SparkSession, d: String,
      withMh: Boolean): DataFrame = {
    // Input spread is GATED (T.spread): only a single-split test scan
    // is repartitioned for parallelism; a real-scale scan with many
    // splits passes through untouched — no corpus-wide shuffle. Then
    // repartition on the join keys BEFORE the self-join: both sides
    // share one canonicalized exchange (ReuseExchange), so the
    // signature build runs ONCE, not once per join side — and the
    // (band, sig) equality join is co-partitioned.
    //
    // Band structure derives from the corpus count (the cached
    // T.snapCount snapshot scalar): 4×4 up to 8k docs, 2×8 beyond —
    // stricter bands keep LSH buckets (and the Σ bucket² candidate
    // join) bounded as the corpus grows. The oracle derives the same
    // split from count(*).
    val r = if (snapCount(s, d, "documents") > 8000) 8 else 4
    val sigs = MinHashLsh.bandSignaturesPrev(
        spread(tbl(s, d, "documents"), col("doc_id")), lit(r), withMh)
      .repartition(col("band"), col("sig"))
    val out = Seq(col("da"), col("db")) ++
      (if (withMh) Seq(col("mha"), col("mhb")) else Nil)
    bandedPairs(sigs, giantBuckets(s, d, sigs), withMh)
      .select(out: _*)
  }

  /** Row-local "this band is the FIRST where the two signatures
    * agree" predicate over the two docs' `prev` arrays (their earlier
    * band signatures, [[graft.functions.MinHashLsh.bandSignaturesPrev]]):
    * no earlier band value is shared. A duplicate pair agrees in every
    * band, so without this the banded self-join emits it once per band
    * and a pair-sized `distinct()` exchange had to collapse the copies
    * — MinHashSkewBench measured that distinct at ~128 GB spill on a
    * 4.5×10⁸-pair mega bucket (round-15 verdict, residual 2). With it,
    * the join output is distinct by construction: each qualifying pair
    * survives in exactly one band (its first agreeing one), evaluated
    * from columns already on the joined row — no exchange at all. */
  private[queries] def firstAgreeingBand(pa: Column, pb: Column): Column =
    !exists(zip_with(pa, pb, (x, y) => x === y), v => v)

  /** The (band, sig) ordered-pair self-join with GIANT-bucket grid
    * slicing — the [[graft.queries.Similarity.clusterPairs]]
    * discipline applied to the text family's composite key: a
    * mega-group of identical documents shares every band signature,
    * so its bucket's pair fan-out is c² on ONE join key that AQE's
    * input-size skew split cannot see (the vector-family measurement:
    * a 30k-member bucket reads ~17 MB and melts one task for 80+
    * minutes). Buckets past [[Similarity.GiantClusterCap]] members
    * spread over an S×S grid, S = ⌈c/[[Similarity.PairSliceTarget]]⌉;
    * pair SET identical (the cell (i, j) = (pmod(da, S), pmod(db, S))
    * of every pair is unique), so q28/q88/q55 values and their oracle
    * twins are untouched. Empty census ⇒ the plain join,
    * byte-identical — zero overhead for healthy corpora.
    *
    * Input contract: `sigs` carries (doc_id, band, sig, prev) from
    * [[graft.functions.MinHashLsh.bandSignaturesPrev]]; both joins
    * apply [[firstAgreeingBand]] so the output pair set is distinct
    * with no downstream dedup exchange. `withMh = true` expects the
    * builder's `mh` column too and carries it through both branches
    * as (mha, mhb) on the pair row — the q88 row-local-estimate
    * contract ([[lshCandidatesMh]]). */
  private[queries] def bandedPairs(sigs: DataFrame,
      giants: Array[(Int, String, Long)],
      withMh: Boolean = false): DataFrame = {
    val mhA = if (withMh) Seq(col("mh").as("mha")) else Nil
    val mhB = if (withMh) Seq(col("mh").as("mhb")) else Nil
    val out = Seq(col("da"), col("db")) ++
      (if (withMh) Seq(col("mha"), col("mhb")) else Nil)
    val aCols = Seq(col("doc_id").as("da"), col("band"), col("sig"),
      col("prev").as("pa")) ++ mhA
    val bCols = Seq(col("doc_id").as("db"), col("band").as("band_b"),
      col("sig").as("sig_b"), col("prev").as("pb")) ++ mhB
    val a = sigs.select(aCols: _*)
    val b = sigs.select(bCols: _*)
    val fb = firstAgreeingBand(col("pa"), col("pb"))
    if (giants.isEmpty)
      a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b") &&
          col("da") < col("db") && fb)
        .select(out: _*)
    else {
      val s = sigs.sparkSession
      import s.implicits._
      val g = broadcast(giants.toSeq.map { case (bd, sg, c) =>
        (bd, sg, math.ceil(c.toDouble / Similarity.PairSliceTarget).toInt)
      }.toDF("band", "sig", "slices"))
      val marked = sigs.join(g, Seq("band", "sig"), "left")
      val normal = marked.filter(col("slices").isNull)
      val plain = normal.select(aCols: _*)
        .join(normal.select(bCols: _*),
          col("band") === col("band_b") && col("sig") === col("sig_b") &&
            col("da") < col("db") && fb)
        .select(out: _*)
      val giant = marked.filter(col("slices").isNotNull)
      val ga = giant.select(aCols :+ col("slices"): _*)
        .withColumn("ua", pmod(col("da"), col("slices")))
        // BIGINT grid coords (ua already is, da being long): an
        // int-typed j would put cast(j as bigint) in the join keys and
        // the explicit repartition below — keyed on the uncast column —
        // would no longer satisfy the join's required distribution, so
        // EnsureRequirements would re-shuffle through a coalescable
        // exchange and AQE would re-merge the cells (observed: the fix
        // below did nothing until the types lined up).
        .withColumn("j",
          explode(sequence(lit(0L), col("slices").cast("bigint") - 1)))
      val gb = giant.select(bCols :+ col("slices").as("slices_b"): _*)
        .withColumn("ub", pmod(col("db"), col("slices_b")))
        .withColumn("i",
          explode(sequence(lit(0L), col("slices_b").cast("bigint") - 1)))
      // EXPLICIT fixed-count repartition on the full (band, sig, cell)
      // join key: the grid cells are tiny in INPUT bytes (replicated
      // signature rows) but explosive in OUTPUT pairs, so AQE's
      // byte-based coalescing merges them back onto a handful of tasks
      // — measured on the round-16 first-band rerun of
      // MinHashSkewBench: total executor work fell 2206 s → 237 s (the
      // distinct spill gone) yet ONE coalesced task held 209 s of the
      // 213 s stage. A user repartition with an explicit partition
      // count is exempt from AQE coalescing, so every cell-sized
      // shuffle partition stays its own task and the grid actually
      // parallelizes (measured wall in BASELINE.md's round-16 record).
      val parts = sigs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      val sliced = ga
        .repartition(parts, col("band"), col("sig"), col("ua"), col("j"))
        .join(gb.repartition(parts, col("band_b"), col("sig_b"),
            col("i"), col("ub")),
          col("band") === col("band_b") && col("sig") === col("sig_b") &&
            col("ua") === col("i") && col("j") === col("ub") &&
            col("da") < col("db") && fb)
        .select(out: _*)
      plain.unionByName(sliced)
    }
  }

  /** Memoized giant-bucket census for [[bandedPairs]] — ≤ n/cap rows
    * collected driver-side, fingerprint-keyed like the centroid and
    * cluster censuses; one signature pass per corpus per JVM. */
  private val bucketCensusCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, String, Long)]]()

  private def giantBuckets(s: SparkSession, d: String,
      sigs: DataFrame): Array[(Int, String, Long)] =
    bucketCensusCache.computeIfAbsent(
      s"$d@${graft.T.dirFingerprint(d)}", _ =>
        sigs.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("c"))
          .filter(col("c") > Similarity.GiantClusterCap)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))))

  /** The q28 signature chain as a CTE fragment (t → sh → h → mh → bw
    * → sigs → cand) — ONE SQL home for the minhash recurrence and the
    * corpus-derived banding, shared by the q28 and q88 oracles the way
    * [[graft.functions.MinHashLsh]] is shared on the Spark side. */
  private val lshCandidateCtes =
    s"""$tShCtes,
      |h AS (SELECT doc_id, ${phashSql("shingle")} AS h FROM sh),
      |mh AS (
      |  SELECT doc_id, i, min((h*(2*i+1) + 7919*i + 13) % 4294967311) AS mh
      |  FROM h CROSS JOIN generate_series(0,15) AS g(i) GROUP BY doc_id, i),
      |bw AS (
      |  SELECT CASE WHEN count(*) > 8000 THEN 8 ELSE 4 END AS r FROM documents),
      |sigs AS (
      |  SELECT doc_id, i//r AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS sig
      |  FROM mh, bw GROUP BY doc_id, i//r),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM sigs a JOIN sigs b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  private val q28Sql =
    s"""WITH $lshCandidateCtes
      |SELECT da, db FROM cand ORDER BY da, db""".stripMargin

  /** q29: SimHash near-dup — 32-bit term-frequency-weighted SimHash,
    * pairs at Hamming distance ≤ 3. The token hash is row-local on
    * each (doc, token) row — embarrassingly parallel at any scale, with
    * no distinct-token dim (vocabulary-sized, growing with the corpus)
    * to build, count or broadcast.
    *
    * Pairing uses band-prefix blocking, not an all-pairs cartesian:
    * the 32-bit signature is split into 4 bands of 8 bits, and
    * candidates are generated by an equality self-join on
    * (band, band_value). EXACT for the hamming ≤ 3 predicate — by
    * pigeonhole, ≤ 3 differing bits cannot touch all 4 bands, so every
    * qualifying pair shares at least one full band. Turns O(n²)
    * pairing into a shuffle-partitioned equality join (the LSH shape),
    * which is what survives a 100× corpus. */
  private[queries] def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val tokens = toks(s, d)
    // hash BEFORE the bit explode: a non-generator column in the
    // explode's own select is evaluated per exploded row (32 md5s)
    tokens.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", phash(col("tok")))
      .select(col("doc_id"), col("cnt"), col("h"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("contrib",
        col("cnt") * (lit(2L) * expr("shiftright(h, b) & 1") - 1L))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("contrib")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("cast(pow(2, b) as bigint)"))
        .otherwise(0L)).as("sim"))
  }

  private def q29(s: SparkSession, d: String): DataFrame = {
    val sim = simhashSignatures(s, d)
    val banded = sim
      .select(col("doc_id"), col("sim"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(sim, band * 8) & 255"))
      // NO repartition pin here, deliberately (round-16, measured): the
      // STATIC plan shows the simhash chain duplicated under the two
      // self-join aliases, but every expensive operator sits BELOW the
      // chain's aggregate exchanges, so AQE's runtime stage reuse
      // already executes it once — task metrics read the same ~0.9 s
      // executor run with and without a (band, bv) pin, and the pin
      // only adds a corpus-banded exchange. pairOverlaps' pin is
      // different: its expensive cap-window chain sits ABOVE its
      // exchange, where stage reuse cannot dedupe it.
    val a = banded.select(col("doc_id").as("da"), col("sim").as("sa"),
      col("band"), col("bv"))
    val b = banded.select(col("doc_id").as("db"), col("sim").as("sb"),
      col("band").as("band_b"), col("bv").as("bv_b"))
    // First-agreeing-band emission (round 16, the q28/q53 discipline
    // applied to its last analog): a pair whose signatures agree in k
    // of the 4 bands matched k times under the plain (band, bv) join
    // and was collapsed by a PAIR-SIZED distinct — the exchange shape
    // that spilled 128 GB on the MinHash skew bench. Both full
    // signatures are on the joined row, so "this is the first band
    // where the two agree" is a row-local predicate (no byte of
    // sa^sb below 8·band is zero) and the join output is distinct by
    // construction. `when` keeps the sequence bound well-formed at
    // band 0 (sequence(0,-1) would descend through a negative shift).
    a.join(b, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("da") < col("db"))
      .filter(expr(
        // conjunction over the 3 possible earlier bands, not an
        // exists() HOF: higher-order functions are CodegenFallback —
        // the first draft's exists/sequence predicate broke the join
        // stage's whole-stage codegen and measured q29 1.5 s → 4 s
        """(band < 1 OR (shiftright(sa, 0) & 255) != (shiftright(sb, 0) & 255))
          | AND (band < 2 OR (shiftright(sa, 8) & 255) != (shiftright(sb, 8) & 255))
          | AND (band < 3 OR (shiftright(sa, 16) & 255) != (shiftright(sb, 16) & 255))""".stripMargin))
      .select(col("da"), col("db"), col("sa"), col("sb"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy("da", "db")
  }

  private val q29Sql =
    s"""WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
      |  GROUP BY 1, 2),
      |h AS (SELECT doc_id, cnt, ${phashSql("tok")} AS h FROM tf),
      |bits AS (
      |  SELECT doc_id, b, sum(cnt * (2*((h >> b) & 1) - 1)) AS s
      |  FROM h CROSS JOIN generate_series(0,31) AS g(b) GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN s > 0 THEN CAST(pow(2,b) AS BIGINT) ELSE 0 END) AS sim
      |  FROM bits GROUP BY 1)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY da, db""".stripMargin

  /** q83: containment near-dup — pairs where the SMALLER-side overlap
    * |A∩B|/min-side ≥ 0.9 (both directional containments emitted).
    * Catches what symmetric Jaccard (q25) structurally cannot: a short
    * document embedded verbatim in a much longer one has containment
    * ≈ 1 but Jaccard ≈ |A|/|B| → 0 — the quote/boilerplate-inclusion
    * case every production dedup pass (SlimPajama, RefinedWeb) gates
    * on separately. Same capped pair-overlap core as q25
    * ([[pairOverlaps]]) — shingle-equality join, never all-pairs —
    * so the scale posture is identical. */
  private def q83(s: SparkSession, d: String): DataFrame =
    pairOverlaps(shingles(s, d), hotShingleCapDocs(s, d), qualifyingDocs(s, d))
      .select(col("da"), col("db"),
        // Raw IEEE divisions, like q25's jaccard: both engines divide
        // the same exactly-agreed integers, so the bits agree — a
        // round(·, 6) here would ADD a failure mode (decimal half-tie
        // values round differently across engines; q86 hit one).
        (col("i").cast("double") / col("na").cast("double")).as("c_ab"),
        (col("i").cast("double") / col("nb").cast("double")).as("c_ba"),
        (col("i").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("cmax"))
      .filter(col("cmax") >= 0.9)
      .select(col("da"), col("db"), col("c_ab"), col("c_ba"))
      .orderBy("da", "db")

  private val q83Sql =
    s"""WITH $tShCtes,
      |$cappedFromShCtes
      |SELECT da, db,
      |       CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
      |       CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
      |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.9
      |ORDER BY da, db""".stripMargin

  /** q88: sketch-accuracy audit — for every q28 LSH candidate pair,
    * the MinHash ESTIMATE of Jaccard (fraction of the 16 minhash
    * positions that agree — k/16 is exact in binary, so no rounding
    * skew) next to the exact capped 3-gram Jaccard and the absolute
    * error. This is the approximation-quality table a pipeline owner
    * reads before trusting q28 at a new threshold — and because the
    * whole minhash chain is deterministic integer arithmetic, even the
    * ESTIMATE is oracle-verified bit-exact (the q49 KMV discipline
    * applied to MinHash).
    *
    * Scale shape: candidates come from the shared banded join
    * (Σ bucket², never n²) CARRYING both raw 16-minhash vectors on
    * the pair row ([[lshCandidatesMh]]), so the estimate is a
    * row-local expression — no second minhash corpus pass, no
    * pair⋈mh attach joins (round-16: that removed a full
    * shingle+md5+fold pass over the corpus plus two pair-sized
    * shuffle joins; the join-attach formulation survives as
    * [[q88From]] for the materialized-core consumer, and
    * CoresParitySpec pins the two value-identical). The exact-Jaccard
    * side reuses the capped pair-overlap core, LEFT-joined so a
    * candidate with no capped shingle overlap (possible once the df
    * cap bites at real scale) still reports, with jaccard 0. */
  private def q88(s: SparkSession, d: String): DataFrame =
    q88Tail(s, d, lshCandidatesMh(s, d)
      .select(col("da"), col("db"),
        mhAgreeEst(col("mha"), col("mhb")).as("est")))

  /** q88 over an injectable candidate frame — the materialized-LSH-core
    * consumer (Cores.lshCandidates), parity-proven by CoresParitySpec
    * like the q48/q70/q80 pair-core family. A (da, db)-only core has
    * no minhash vectors on the row, so this path re-derives them and
    * attaches by two doc_id-keyed joins — the pre-round-16 shape of
    * the declared q88 itself. */
  private[graft] def q88From(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val mh = MinHashLsh.minhashArray(
      spread(tbl(s, d, "documents"), col("doc_id")))
    q88Tail(s, d, cand
      .join(mh.select(col("doc_id").as("da"), col("mh").as("mha")), Seq("da"))
      .join(mh.select(col("doc_id").as("db"), col("mh").as("mhb")), Seq("db"))
      .select(col("da"), col("db"),
        mhAgreeEst(col("mha"), col("mhb")).as("est")))
  }

  /** Fraction of the 16 minhash positions that agree — k/16, exact in
    * binary. The ONE estimate expression, shared by the row-local and
    * join-attach q88 paths so their value identity is structural. */
  private def mhAgreeEst(mha: Column, mhb: Column): Column =
    aggregate(
      zip_with(mha, mhb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / MinHashLsh.NumHashes

  /** The shared q88 tail over an (da, db, est) frame: attach the
    * exact capped-shingle Jaccard and emit the audit columns. */
  private def q88Tail(s: SparkSession, d: String,
      est: DataFrame): DataFrame = {
    val exact = pairOverlaps(shingles(s, d), hotShingleCapDocs(s, d),
      qualifyingDocs(s, d))
      .select(col("da"), col("db"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jac"))
    // Raw doubles throughout (see q83's rounding note): est is k/16 —
    // exactly representable — and jaccard/abs_err are identical IEEE
    // expression trees in both engines.
    est.join(exact, Seq("da", "db"), "left")
      .select(col("da"), col("db"),
        col("est").as("est_jaccard"),
        coalesce(col("jac"), lit(0.0)).as("jaccard"),
        abs(col("est") - coalesce(col("jac"), lit(0.0))).as("abs_err"))
      .orderBy("da", "db")
  }

  private val q88Sql =
    s"""WITH $lshCandidateCtes,
      |$cappedFromShCtes,
      |j AS (
      |  SELECT da, db,
      |         CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jac
      |  FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id),
      |est AS (
      |  SELECT c.da, c.db,
      |         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0 AS est
      |  FROM cand c
      |  JOIN mh a ON a.doc_id = c.da
      |  JOIN mh b ON b.doc_id = c.db AND b.i = a.i
      |  GROUP BY 1, 2)
      |SELECT e.da, e.db,
      |       e.est AS est_jaccard,
      |       coalesce(j.jac, 0) AS jaccard,
      |       abs(e.est - coalesce(j.jac, 0)) AS abs_err
      |FROM est e LEFT JOIN j ON e.da = j.da AND e.db = j.db
      |ORDER BY e.da, e.db""".stripMargin

  /** q92: incremental-ingestion dedup — the production shape every
    * batch dedup (q25/q28) eventually runs as: a NEW shard (source
    * 'src1') arrives and each incoming document is checked against the
    * EXISTING corpus (every other source), never against its own
    * shard. One verdict row per incoming doc — best-matching existing
    * doc, exact capped-shingle Jaccard against it, and a keep/drop
    * action at the q25 threshold (0.2); `best_match` is −1 when no
    * existing doc shares a capped shingle (a LEFT join, so dedup can
    * never silently lose an incoming doc).
    *
    * Scale shape: the same capped shingle-equality join as q25 —
    * never all-pairs — but asymmetric: the incoming side is a shard
    * (small, in practice ~1/1000 of the index), so the join fan-out is
    * |shard shingles| × df ≤ cap, and the argmax window partitions by
    * incoming doc only. The df cap is computed over the post-ingestion
    * corpus (shard + index), matching what the index's stats would say
    * after the merge. */
  private def q92(s: SparkSession, d: String): DataFrame = {
    // same repartition pin as pairOverlaps: four consumers (inc, exi,
    // sizes x2 aliases) share one capped-chain exchange via reuse
    val capped = cappedShingles(
      shinglesBy(s, d, "doc_id", "source"), hotShingleCapDocs(s, d),
      qualifyingDocs(s, d))
      .repartition(col("shingle"))
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inc = capped.filter(col("source") === "src1")
      .select(col("doc_id").as("di"), col("shingle"))
    val exi = capped.filter(col("source") =!= "src1")
      .select(col("doc_id").as("de"), col("shingle").as("shingle_e"))
    val jac = inc.join(exi, col("shingle") === col("shingle_e"))
      .groupBy(col("di"), col("de")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("di"), col("n").as("ni")), Seq("di"))
      .join(sizes.select(col("doc_id").as("de"), col("n").as("ne")), Seq("de"))
      // Raw IEEE division of exactly-agreed integers (q25's jaccard).
      .select(col("di"), col("de"),
        (col("i").cast("double") /
          (col("ni") + col("ne") - col("i")).cast("double")).as("jaccard"))
    // best match per incoming doc as a PARTIAL-AGGREGATABLE struct-max
    // ((jaccard DESC, de ASC) ≡ max(struct(jaccard, -de))): map-side
    // combine collapses a hot candidate fan-out before the shuffle,
    // where a rank window buffered it in one task.
    val best = jac.groupBy(col("di"))
      .agg(max(struct(col("jaccard"), (-col("de")).as("negde"))).as("_b"))
      .select(col("di"), (-col("_b.negde")).as("bm"),
        col("_b.jaccard").as("bj"))
    tbl(s, d, "documents").filter(col("source") === "src1")
      .select(col("doc_id"))
      // verdict frame rides the T.hintIdSet fence (round-16): it is
      // shard-derived (≤ incoming docs, corpus-bounded), and unhinted
      // this left join planned as an SMJ exchanging+sorting BOTH the
      // shard id scan and the verdicts for a doc_id-keyed 1:1 attach.
      .join(hintIdSet(s, d, "documents", best),
        col("doc_id") === col("di"), "left")
      .select(col("doc_id"),
        coalesce(col("bm"), lit(-1L)).as("best_match"),
        coalesce(col("bj"), lit(0.0)).as("jaccard"),
        when(coalesce(col("bj"), lit(0.0)) >= 0.2, "drop")
          .otherwise("keep").as("action"))
      .orderBy("doc_id")
  }

  private val q92Sql =
    s"""WITH $tShCtes,
      |$capShcCtes,
      |src AS (SELECT doc_id, source FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS di, b.doc_id AS de, count(*) AS i
      |  FROM shc a JOIN src sa ON a.doc_id = sa.doc_id
      |  JOIN shc b ON a.shingle = b.shingle
      |  JOIN src sb ON b.doc_id = sb.doc_id
      |  WHERE sa.source = 'src1' AND sb.source <> 'src1'
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT di, de,
      |         CAST(i AS DOUBLE) / CAST(si.n + se.n - i AS DOUBLE) AS jaccard
      |  FROM inter JOIN sizes si ON di = si.doc_id JOIN sizes se ON de = se.doc_id),
      |best AS (
      |  SELECT di, de, jaccard,
      |         row_number() OVER (PARTITION BY di ORDER BY jaccard DESC, de ASC) AS rn
      |  FROM jac)
      |SELECT d.doc_id,
      |       coalesce(b.de, -1) AS best_match,
      |       coalesce(b.jaccard, 0.0) AS jaccard,
      |       CASE WHEN coalesce(b.jaccard, 0.0) >= 0.2
      |            THEN 'drop' ELSE 'keep' END AS action
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.di AND b.rn = 1
      |WHERE d.source = 'src1'
      |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q25_minhash_textdedup" -> q25 _,
    "q28_minhash_lsh" -> q28 _,
    "q29_simhash_neardup" -> q29 _,
    "q83_containment_dedup" -> q83 _,
    "q88_minhash_estimate" -> q88 _,
    "q92_incremental_dedup" -> q92 _)

  val oracles: Map[String, String] = Map(
    "q25_minhash_textdedup" -> q25Sql,
    "q28_minhash_lsh" -> q28Sql,
    "q29_simhash_neardup" -> q29Sql,
    "q83_containment_dedup" -> q83Sql,
    "q88_minhash_estimate" -> q88Sql,
    "q92_incremental_dedup" -> q92Sql)
}
