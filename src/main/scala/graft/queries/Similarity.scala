package graft.queries

import graft.T._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search inventory (north-star extension;
  * SURVEY.md §2.3 q26 + q30-q31) over the `embeddings` table
  * (`Array[Float]`, dim 64).
  *
  * Cosine is computed with codegen'd higher-order functions
  * (`zip_with` + `aggregate` — a sequential fold, deterministic), and
  * every emitted cosine is `round(·, 6)` so the ~1e-13 summation-order
  * difference vs DuckDB's `list_dot_product` disappears; thresholds
  * and ordering always use the rounded value in both engines.
  *
  * Scale design (100 TB posture): brute-force top-k (q26/q30) is the
  * correctness baseline — all-pairs at test scale, but FENCED behind a
  * corpus-count scalar ([[pairCos]]): past [[FenceCap]] vectors the
  * anchor side thins to a deterministic modulus sample, bounding pair
  * work at ~FenceCap·n (linear, never O(n²)); the IVF path
  * (q31) is the scale path: a tiny broadcast centroid table assigns
  * each vector to a partition-local cluster, and search shuffles once
  * on cluster id, reducing candidate generation from n² to
  * Σ cluster². Centroids are LEARNED: two deterministic Lloyd's
  * iterations in quantized-integer space (see [[lloyd]]) — exact in
  * both engines, so the oracle replays the identical k-means chain.
  */
object Similarity {

  /** (vec_id, v: array<float>, nrm) with precomputed L2 norm. The
    * vectors stay in their storage precision — HALF the bytes of a
    * double array through every broadcast and shuffle the family does
    * — because [[graft.functions.DotProduct]]'s float mode widens
    * each element to double BEFORE multiplying: every cosine/norm is
    * bit-identical to the old double-cast formulation (and to the
    * oracle's `embedding::DOUBLE[]` arithmetic), with no per-row
    * array copy. Derivations that leave dot-product space (the
    * quantized `q`, q76's codes) cast elements to double explicitly
    * at their use sites. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    vecsOf(s, tbl(s, d, "embeddings"))

  /** [[vecs]] over an arbitrary (vec_id, embedding) frame — the same
    * admission discipline applied to streamed batches (s23) as to the
    * stored table, ONE definition. */
  private def vecsOf(s: SparkSession, raw: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    raw
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(expr("dot_product(v, v)")))
      // zero-norm and NON-FINITE vectors (a failed encoder emits both
      // in any real pipeline) are EXCLUDED from the cosine family:
      // their cosine is undefined, and under ANSI the nrm division
      // would otherwise kill the whole pass (round-10 dirty-input
      // sweep; the q76 guard-filter precedent). `nrm < ∞` rejects NaN
      // too — NaN orders LARGEST in both engines, so the comparison
      // is false for it on both sides. Every oracle CTE mirrors.
      .filter(col("nrm") > 0.0 &&
        col("nrm") < lit(Double.PositiveInfinity))
  }

  private def cosR(va: String, vb: String, na: Column, nb: Column): Column =
    round(expr(s"dot_product($va, $vb)") / (na * nb), 6)

  /** Largest |element| admitted into the exact quantized (BIGINT)
    * space — i.e. raw |x| ≤ 1000 under the ×1000 floor quantization.
    * At this bound a 64-dim self-dot is ≤ 64·10¹² ≪ 2⁶³, so every
    * ldot in the lloyd/prototype chains stays exact; one element past
    * it and the Spark side would WRAP while DuckDB's double replay
    * drifts — two silently different engines. Embeddings are
    * unit-norm-ish by contract, so the bound is a no-op on real
    * corpora; it exists so a corrupt megavalue degrades to exclusion
    * instead of corruption. */
  private[queries] val QuantDomainMax = 1000000L

  /** Anchor cap for the exactness-baseline fence: above this corpus
    * size the baselines stop being all-pairs (see [[pairCos]]). Test
    * scales (500 / 2,000 vectors) sit far below it, so the oracle
    * results are byte-identical with or without the fence. */
  private[queries] val FenceCap = 4000L

  /** Probe-family fence: the audit/probe queries (q31 IVF search, q53
    * sampled ANN, q95 recall audit, q106 triplet mining) sample every
    * 50th vec_id — a FRACTION, which at 100× the corpus makes the
    * probe set (and q95's probe×corpus exact pass, and q31's
    * probe×cluster join) grow quadratically/50. Above ProbeCapN
    * vectors the stride therefore grows with the corpus
    * (pstep = 50·ceil(n/ProbeCapN)), capping probes at ~2000 — the
    * [[pairCos]] fence discipline applied to the probe family. Below
    * the cap pstep = 50 exactly, so test-scale results are
    * byte-identical. The oracle derives the identical stride (pf CTE). */
  private[queries] val ProbeCapN = 100000L

  /** The probe stride, derived from the cached corpus count
    * ([[graft.T.snapCount]]) — same value the oracle's pf CTE computes
    * from count(*). */
  private[queries] def probeStride(s: SparkSession, d: String): Long =
    50L * ((snapCount(s, d, "embeddings") + ProbeCapN - 1) / ProbeCapN)

  /** Thins `df` (needs `vec_id`) to the deterministic probe sample. */
  private[queries] def probeSample(df: DataFrame, stride: Long): DataFrame =
    df.filter(pmod(col("vec_id"), lit(stride)) === 0)

  /** Oracle twin of [[probeStride]]. */
  private def pfCte: String =
    s"pf AS (SELECT 50 * ((count(*) + ${ProbeCapN - 1}) // $ProbeCapN) AS pstep FROM embeddings)"

  /** IVF cluster-count fence: with a FIXED k, balanced clusters hold
    * n/k vectors and the blocked pair join costs Σ cluster² = n²/k —
    * quadratic with a smaller constant, which the sf1 rehearsal
    * measured directly (q52: 4.25s → 38.0s at 10× the corpus, ~100×
    * the candidate combos). So k is corpus-derived like the banding
    * and probe ladders: k = max(8, ceil(n / [[IvfClusterTarget]])),
    * which holds the BALANCED cluster size at ~512 and makes
    * Σ cluster² ≈ n·512 — linear in the corpus. Below ~4096 vectors
    * the floor binds (k = 8 exactly), so every test-scale result is
    * byte-identical and the oracle replays the same ladder (kdf CTE).
    * The k-row centroid table stays broadcast-able far past any
    * plausible single-cluster corpus (k = n/512; 1B vectors → 2M×65
    * longs ≈ 1 GB is past the comfortable broadcast ceiling — at THAT
    * scale real IVF systems assign hierarchically, which is what
    * [[assignRows]] does past [[TwoLevelK]]: coarse centroids over
    * centroids, same bounded-broadcast join shapes). */
  private[queries] val IvfClusterTarget = 512L

  /** Upper ladder for k at extreme corpus sizes: past the crossover
    * (n/512 = 4√n ⇔ n ≈ 4.2M vectors) k follows 4·⌈√n⌉ — the faiss-
    * style nlist ≈ c·√n rule — instead of n/512. The linear ladder
    * alone keeps Σ cluster² linear but grows the broadcast centroid
    * table with the corpus (2M rows ≈ 1 GB at 10⁹ vectors — past the
    * broadcast ceiling, the same disease as an unfenced vocab
    * broadcast); the √n cap holds it at ~126k rows ≈ 65 MB at 10⁹
    * while cluster sizes grow as √n/4 (assignment work n·k = 4n^1.5 —
    * the point where real IVF goes two-level coarse/fine, which
    * [[assignRows]] engages past [[TwoLevelK]]). Below the crossover the
    * min is the IDENTITY, so every test scale (sf0.01 2k, sf1 200k,
    * sf3 600k vectors) produces bit-identical k, centroids, and
    * results to the pure linear ladder. */
  private[queries] val IvfSqrtFactor = 4L

  /** The IVF cluster count k, derived from the cached corpus count
    * ([[graft.T.snapCount]]) — same value the oracle's kdf CTE computes
    * from count(*): max(8, min(⌈n/512⌉, 4·⌈√n⌉)). */
  private[queries] def ivfK(s: SparkSession, d: String): Long = {
    val n = snapCount(s, d, "embeddings")
    math.max(8L, math.min(
      (n + IvfClusterTarget - 1) / IvfClusterTarget,
      IvfSqrtFactor * math.ceil(math.sqrt(n.toDouble)).toLong))
  }

  /** Oracle twin of [[ivfK]] — sqrt/ceil are IEEE-exact in both
    * engines, so the SQL replays the identical ladder. */
  private val kdfCte: String =
    s"""kdf AS (SELECT greatest(8, least(
      |  (count(*) + ${IvfClusterTarget - 1}) // $IvfClusterTarget,
      |  $IvfSqrtFactor * CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS kk
      |  FROM embeddings)""".stripMargin

  /** Shared rounded-cosine pair frame of the q26/q30 exactness
    * baselines — all pairs (va < vb) at test scale, FENCED above
    * [[FenceCap]] vectors: the anchor (va) side is thinned to every
    * fk-th vec_id, fk = ceil(n / FenceCap), derived from the cached
    * corpus count ([[graft.T.snapCount]]; the same deterministic
    * modulus sampling q95's exact side uses).
    * Pair work is thereby bounded at ~FenceCap·n — linear in the
    * corpus, never O(n²) — while below the cap fk = 1 and the filter
    * is the identity, so the baselines keep calibrating q88/q95
    * exactly. The bounded anchor side is broadcast explicitly: at any
    * scale it holds ≤ ~FenceCap vectors. The oracle replays the
    * identical fence, so both engines agree at every corpus size. */
  /** `minCos`: when set, the threshold lives INSIDE the join condition
    * AFTER the cheap `va < vb` conjunct — deliberately. A separate
    * `.filter(cos >= t)` above the join gets pushed into the BNLJ
    * condition PREPENDED to `va < vb`, making every ordered COMBO (2×
    * the pair count) pay the 64-dim dot + rounding; with the explicit
    * conjunct order, short-circuit evaluation prices the dot only for
    * va < vb survivors and the projection recomputes it only for the
    * ~thousand rows that pass the threshold (measured 5.0s → ~2s at
    * sf0.1). */
  private def pairCos(s: SparkSession, d: String,
      minCos: Option[Double] = None): DataFrame = {
    val v = vecs(s, d)
    val fk = (snapCount(s, d, "embeddings") + FenceCap - 1) / FenceCap
    val a = v
      .select(col("vec_id").as("va"), col("v").as("av"), col("nrm").as("na"))
      .filter(pmod(col("va"), lit(fk)) === 0)
    // spread the STREAMED side: the sf parquet is one split, which
    // would serialize the whole pair loop on one core (T.spread is
    // the identity at real scale, where the scan has >= cores splits)
    val b = spread(v, col("vec_id"))
      .select(col("vec_id").as("vb"), col("v").as("bv"), col("nrm").as("nb"))
    val cond0 = col("va") < col("vb")
    val cond = minCos.fold(cond0)(t =>
      cond0 && cosR("av", "bv", col("na"), col("nb")) >= t)
    broadcast(a).join(b, cond)
      .select(col("va"), col("vb"),
        cosR("av", "bv", col("na"), col("nb")).as("cos"))
  }

  private val pairCosSql =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |       WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |         AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |             < 'Infinity'::DOUBLE),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      |fence AS (SELECT (count(*) + ${FenceCap - 1}) // $FenceCap AS fk FROM embeddings),
      |pc AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id CROSS JOIN fence f
      |  WHERE a.vec_id % f.fk = 0)""".stripMargin

  /** q26: brute-force cosine top-k — the 20 most similar embedding
    * pairs, fully tie-broken on the rounded cosine. Above [[FenceCap]]
    * vectors the pair frame is the fenced anchor sample ([[pairCos]]):
    * still a deterministic, oracle-agreed baseline, no longer O(n²). */
  private def q26(s: SparkSession, d: String): DataFrame =
    pairCos(s, d)
      .orderBy(col("cos").desc, col("va"), col("vb"))
      .limit(20)

  private val q26Sql =
    s"""WITH $pairCosSql
      |SELECT va, vb, cos FROM pc ORDER BY cos DESC, va, vb LIMIT 20""".stripMargin

  /** q30: embedding-cosine near-duplicate pairs (cos ≥ 0.4). Above
    * [[FenceCap]] vectors only pairs whose smaller id lands in the
    * anchor sample are emitted ([[pairCos]]) — the production near-dup
    * surface at that scale is q52, whose blocked join stays complete. */
  private def q30(s: SparkSession, d: String): DataFrame =
    pairCos(s, d, minCos = Some(0.4))
      .orderBy("va", "vb")

  private val q30Sql =
    s"""WITH $pairCosSql
      |SELECT va, vb, cos FROM pc WHERE cos >= 0.4 ORDER BY va, vb""".stripMargin

  // ---- deterministic k-means (Lloyd's) for the IVF family ----------

  /** Exact BIGINT dot product of two long-array columns by NAME — the
    * scoring primitive of the k-means chain, dispatched to the typed
    * codegen'd [[graft.functions.DotProduct]] (its array<bigint> mode;
    * an `aggregate` HOF fold gives identical values and measured
    * within noise here — the chain's dots run against the k-row broadcast
    * centroids — but the codegen path avoids the HOF's per-row
    * intermediate array and is the same primitive the double hot path
    * uses). Long arithmetic is exact to 2^63, so centroid self-dots
    * stay exact up to ~4e5 rows/cluster (vs ~1e4 for the
    * double-mantissa bound an earlier formulation had); overflow
    * beyond that is a loud wrap, not silent rounding. */
  private def ldot(a: String, b: String): Column = expr(s"dot_product($a, $b)")

  /** The one rounded-cosine formula every assignment site uses, with
    * the [[coarseGroups]] degenerate-denominator convention mirrored:
    * a zero-norm centroid (cancelling integer sums — impossible for
    * c0, possible in principle for a re-summed c1/c2) scores -1.0
    * instead of NaN/Inf, in BOTH engines (the SQL twins carry the
    * matching CASE WHEN). Without the guard Spark and DuckDB agree on
    * NaN-orders-largest, but the driver-side coarse routing emits
    * -1.0 — three-way agreement requires one convention (round-11
    * ADVICE). */
  private def guardedCos(qn: Column, cn: Column, cs: String): Column =
    when(qn * cn > 0,
      round(ldot("q", cs).cast("double") / (qn * cn), 6)).otherwise(-1.0)

  /** Vectors with an integer-quantized copy `q` (floor(x·1000), stored
    * as BIGINT) and its norm `qn`. Everything the k-means chain
    * computes from `q` — element-wise centroid sums and dot products —
    * is pure BIGINT arithmetic ([[ldot]]), exact regardless of
    * summation order, so both engines get bit-identical centroids and
    * assignment scores. (The oracle folds the same integers in
    * doubles, which is also exact at oracle scales — every addend is
    * an integer and every partial sum < 2^53.) Only the final
    * cosine's divide is IEEE — a deterministic operation on two
    * exactly-agreed values. */
  private def qvecs(s: SparkSession, d: String): DataFrame =
    // spread the scan (round 16): the topk_assign_bc/topk_route_bc kernel
    // projections the IVF family (q31/q52/q97/q112/q113 + the Lloyd
    // chain) runs over this frame are row-local — on the single
    // test-scale split they serialized on one core. Identity at real
    // scale (T.spread gate); the streaming path (qvecsOf on a batch
    // frame) is untouched — spread's getNumPartitions probe is
    // illegal on a streaming plan.
    qvecsOf(s, spread(tbl(s, d, "embeddings"), col("vec_id")))

  /** [[qvecs]] over an arbitrary (vec_id, embedding) frame — s23's
    * per-batch prep shares the exact quantization + admission chain
    * of the batch family. */
  private[graft] def qvecsOf(s: SparkSession, raw: DataFrame): DataFrame =
    vecsOf(s, raw)
      // explicit double cast BEFORE the multiply: float×int would
      // round to 24-bit precision first and floor could land on the
      // other side of an integer boundary vs the oracle's DOUBLE[]
      .withColumn("q",
        transform(col("v"), x => floor(x.cast("double") * 1000).cast("long")))
      .withColumn("qn", sqrt(ldot("q", "q").cast("double")))
      // a vector under the quantization resolution (every element in
      // [0, 1/1000)) floors to the zero vector — undefined cosine in
      // quantized space, same exclusion as vecs()'s nrm guard — and a
      // vector BEYOND the quantized domain (any |q_i| > QuantDomainMax)
      // would overflow the exact BIGINT dot the whole chain's
      // bit-exactness rests on (Spark wraps silently; the round-10
      // dirty-input sweep caught a 1e6-magnitude vector skewing every
      // centroid). Both excluded; every oracle qq CTE mirrors.
      .filter(col("qn") > 0.0 &&
        array_max(transform(col("q"), x => abs(x))) <= QuantDomainMax)

  /** Assign each vector to its `keep` highest-cosine centroids (ties →
    * lower cid). Cosine against the UN-normalized centroid sum-vector:
    * cosine is scale-invariant, so the mean's division by the cluster
    * count — the one inexact step of textbook Lloyd's — is never
    * performed. Output: input columns + `cid` + the winning rounded
    * cosine `ccos`.
    *
    * Since round 12 this join+window form is the TEST REFERENCE only
    * (DedupScaleSpec scores the topk kernels' agreement against it as
    * an independent implementation of the same argmax); every query
    * path assigns via the row-local `topk_assign_bc`/`topk_route_bc`
    * kernels ([[assignRows]], [[labelAssign]]) — the n·k-row window
    * sort here is exactly what they exist to avoid. */
  private[queries] def assignTo(v: DataFrame, c: DataFrame, keep: Int): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
    v.join(broadcast(c), lit(true))
      .withColumn("ccos", guardedCos(col("qn"), col("cn"), "cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= keep)
      .drop("rn", "cs", "cn")
  }

  /** One Lloyd's update: element-wise integer sum of the quantized
    * vectors per cluster. Distributed shape: posexplode to (cluster,
    * dim) — a partial-aggregatable groupBy over narrow rows — then the
    * k·64 sums collapse to the k centroid rows. */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("q")).as(Seq("d", "qd")))
      .groupBy("cid", "d").agg(sum("qd").as("sd"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("sd")))),
        x => x.getField("sd")).as("cs"))
      .withColumn("cn", sqrt(ldot("cs", "cs").cast("double")))

  /** The learned centroid table alone — the IVF "index" a serving
    * deployment materializes once per corpus snapshot (Cores). */
  private[queries] def lloydCentroids(s: SparkSession, d: String): DataFrame =
    lloyd(s, d)._2

  /** Two deterministic Lloyd's iterations from the k lowest-vec_id
    * qualifying seeds (rank-based, not `vec_id < k` — see the c0
    * comment), k corpus-derived ([[ivfK]]; = 8 at every test scale):
    * (vec_id, v, nrm, q, qn) × learned centroids (cid, cs, cn).
    *
    * The centroid table is MEMOIZED per corpus dir (the
    * [[graft.T.snapCount]] snapshot discipline applied to the IVF
    * index): the chain's two corpus-wide aggregations run once per
    * JVM, are collected (k rows — the same magnitude every consumer
    * already broadcasts), and replay as a LocalRelation for the other
    * lloyd-chain queries (q31/q52/q97 each re-derived the full chain
    * per execution before). This is the index-build-once posture a
    * serving deployment has anyway — Cores materializes the same
    * table to parquet — and centroid VALUES are unchanged
    * (deterministic integer arithmetic), so every oracle, which
    * replays the chain in SQL, still matches exactly. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Seq[Long], Double)]]()

  private[queries] def lloydRowsOf(s: SparkSession, d: String)
      : (DataFrame, Array[(Long, Seq[Long], Double)]) = {
    val qv = qvecs(s, d)
    // keyed on the dir's CONTENT fingerprint, not the path: an
    // in-place rewrite of embeddings.parquet within one JVM (test
    // overwrite, driver regen) must re-learn centroids, not silently
    // replay the previous corpus's index (T.snapScalar discipline)
    val rows = centroidCache.computeIfAbsent(
      s"$d@${graft.T.dirFingerprint(d)}", _ => {
      // each centroid generation is collected (≤k rows — the same
      // magnitude every consumer already broadcasts) so the TRAINING
      // assignments ride the same [[assignRows]] fence as serving:
      // below TwoLevelK the chain is value-identical to the unrolled
      // single-level form the oracle replays; above it each of the two
      // training passes goes coarse/fine too — n·k per iteration would
      // otherwise dominate the index build at 10⁸-10⁹ vectors
      def collectC(df: DataFrame): Array[(Long, Seq[Long], Double)] =
        df.select(col("cid"), col("cs"), col("cn")).collect().map(r =>
          (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
      // seeds = the k LOWEST qualifying vec_ids (TakeOrdered, k rows),
      // NOT `vec_id < k`: production id spaces are sparse — the 1.1M
      // GenScale rehearsal (ids striped by 10M per replica) silently
      // degraded `vec_id < 2149` to the 2000 replica-0 ids, capping k
      // below the two-level crossover. Rank-based seeding is identical
      // on contiguous ids (every test corpus) and the oracle's c0 CTE
      // replays the same row_number() rule.
      val c0 = collectC(qv
        .orderBy(col("vec_id")).limit(ivfK(s, d).toInt)
        .select(col("vec_id").as("cid"), col("q").as("cs"), col("qn").as("cn")))
      // each generation is assigned against once: its broadcast is
      // released as soon as the next generation is collected
      val c1 = collectC(recompute(
        assignRows(s, qv, c0, 1).select(col("cid"), col("q"))))
      releaseBc(c0)
      val c2 = collectC(recompute(
        assignRows(s, qv, c1, 1).select(col("cid"), col("q"))))
      releaseBc(c1)
      c2
    })
    (qv, rows)
  }

  private def lloyd(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (qv, rows) = lloydRowsOf(s, d)
    import s.implicits._
    (qv, rows.toSeq.toDF("cid", "cs", "cn"))
  }

  /** Cluster-count threshold past which assignment goes TWO-LEVEL
    * (coarse/fine). Single-level assignment scores every vector
    * against all k centroids — n·k work, which under the √n ladder
    * trends to 4·n^1.5 (the reason real IVF systems route through
    * coarse centroids past ~10⁷ vectors). k = 2048 corresponds to
    * n ≈ 1.05M on the linear ladder — ABOVE every test and oracle
    * scale (sf3: k = 1172), so the sub-fence regime stays bit-exact
    * against the SQL replay, and the engaged regime is exercised by
    * the seeded-scalar tests (agreement + plan shape), the
    * fence-family discipline. Round 11: additionally seedable via the
    * env var SPARK_GRAFT_SEED_TWOLEVEL for the engaged-branch ORACLE
    * sweep — when set, BOTH the Spark chain (this fence) and the
    * DuckDB twins (lloydSql / the q31/q52/q97 assign CTEs) switch to
    * the coarse/fine two-level form, so a full Verify + check run
    * proves the engaged routing oracle-exact end to end (pick a
    * corpus whose k exceeds the seed — sf1's k = 40 with seed 16).
    * Never set in production. */
  private[queries] val TwoLevelK: Long =
    seedEnv("SPARK_GRAFT_SEED_TWOLEVEL", 2048L)

  /** True when [[TwoLevelK]] is seeded for the engaged-branch oracle
    * sweep — the oracle SQL builders emit the two-level twin. */
  private val TwoLevelSeeded: Boolean =
    sys.env.contains("SPARK_GRAFT_SEED_TWOLEVEL")

  /** Coarse groups each vector probes before the fine argmax — the
    * standard IVF multi-probe knob: 1 would make a vector near a
    * coarse boundary miss its true centroid; each extra probe costs
    * one more k/√k fine fan-out. */
  private[graft] val CoarseProbes = 2

  /** Driver-side deterministic grouping of the k fine centroids into
    * kc = ⌈√k⌉ coarse groups: seeds = the kc lowest-cid centroids, two
    * Lloyd's passes by cosine (ties → lower gid), empty groups dropped.
    * Returns (coarse (gid, gs: floor-mean of member cs, gn), fine
    * (gid, cid, cs, cn)). All driver arithmetic is fixed-order over
    * the cid-sorted array — deterministic across runs. The floor-mean
    * (not the sum) keeps gs elements in the member-cs magnitude range
    * so the Spark-side BIGINT dot against a quantized vector can
    * never overflow (a SUM of 10⁹ member vectors would).
    *
    * Round 11: the routine now follows the SAME cross-engine
    * replayability discipline as the main lloyd chain, so the
    * two-level oracle twin ([[twoLevelAssignSql]]) can replay it
    * bit-exactly — seeds stay INTEGER vectors at every step (initial
    * seeds are the centroid vectors themselves; each update is the
    * per-dim floor-mean, i.e. floor(exact-integer-sum / count), where
    * the division is correctly rounded IEEE in both engines), and the
    * assignment argmax compares round(cos, 6) with lowest-gid
    * tie-break — the row_number() twin. The previous form iterated in
    * raw rational-mean space with unrounded comparisons: value-fine
    * for a driver-internal heuristic, but unreplayable in SQL
    * (summation-order low bits could flip an argmax). */
  private[graft] def coarseGroups(rows: Array[(Long, Seq[Long], Double)])
      : (Array[(Long, Seq[Long], Double)], Array[(Long, Long, Seq[Long], Double)]) = {
    val sorted = rows.sortBy(_._1)
    val k = sorted.length
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    val dim = sorted.head._2.length
    val vecs = sorted.map(_._2.toArray)
    // Cross-engine exactness contract (round-11 ADVICE): the DuckDB
    // twin folds the integer products in DOUBLEs, exact only while
    // every pairwise dot stays below 2^53 (the Scala side's Long
    // accumulation is exact to 2^63 but WRAPS silently past it).
    // Centroid elements are sums over cluster members, so a huge
    // cluster of same-sign coordinates can push a centroid-by-seed dot
    // past 2^53 precisely in the genuinely-engaged large-k regime.
    // Seeds stay inside the member magnitude range by construction
    // (floor-mean of values |x| <= maxAbs lands in [-maxAbs-1, maxAbs]),
    // so dim*(maxAbs+1)^2 bounds every dot this routine computes —
    // guard LOUDLY rather than diverge quietly.
    val maxAbs = vecs.iterator.flatMap(_.iterator).map(math.abs).max.toDouble
    require(dim.toDouble * (maxAbs + 1) * (maxAbs + 1) < (1L << 53).toDouble,
      s"coarseGroups: centroid magnitude $maxAbs at dim $dim breaks the " +
        "2^53 exact-DOUBLE dot bound the DuckDB twin's bit-exactness " +
        "rests on; re-quantize or shrink clusters before two-level routing")
    val nrm = sorted.map(_._3)
    var seeds: Array[Array[Long]] = vecs.take(kc).map(_.clone())
    var seedNrm: Array[Double] =
      seeds.map(v => math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
    var gidOf: Array[Int] = Array.fill(k)(0)
    for (_ <- 0 until 2) {
      var i = 0
      while (i < k) {
        var best = 0; var bestCos = -2.0
        var g = 0
        while (g < kc) {
          val den = nrm(i) * seedNrm(g)
          // integer×integer products accumulated exactly (the ldot
          // discipline), then ONE correctly-rounded division + round:
          // identical in DuckDB whatever its summation order
          var dot = 0L
          var j = 0
          while (j < dim) { dot += vecs(i)(j) * seeds(g)(j); j += 1 }
          // round6 = the bit-exact twin of Spark's round(col, 6) (and
          // the DuckDB twin's round(x, 6)) with the boundary-guarded
          // fast path — pinned by the 2.2M-probe property spec. At the
          // 4√n k-ceiling this loop does ~90M roundings (k·√k·2), so
          // the always-BigDecimal form it replaces would dominate the
          // driver-side index prep.
          val cos =
            if (den > 0) graft.functions.VectorKernels.round6(dot.toDouble / den)
            else -1.0
          if (cos > bestCos) { bestCos = cos; best = g }
          g += 1
        }
        gidOf(i) = best
        i += 1
      }
      val sums = Array.fill(kc)(new Array[Long](dim))
      val cnt = new Array[Long](kc)
      var i2 = 0
      while (i2 < k) {
        val g = gidOf(i2); cnt(g) += 1
        var j = 0
        while (j < dim) { sums(g)(j) += vecs(i2)(j); j += 1 }
        i2 += 1
      }
      seeds = Array.tabulate(kc)(g =>
        if (cnt(g) > 0)
          sums(g).map(s => math.floor(s.toDouble / cnt(g)).toLong)
        else seeds(g))
      seedNrm = seeds.map(v => math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
    }
    val live = gidOf.distinct.sorted
    val coarse = live.map { g =>
      val gs: Seq[Long] = seeds(g).toSeq
      val gn = math.sqrt(gs.map(x => x.toDouble * x.toDouble).sum)
      (g.toLong, gs, gn)
    }
    val fine = sorted.indices.map(i =>
      (gidOf(i).toLong, sorted(i)._1, sorted(i)._2, sorted(i)._3)).toArray
    (coarse, fine)
  }

  /** Memoized per-table broadcasts for the assignment kernels, keyed
    * on the centroid array's identity. The memo keeps one entry per
    * table that lives for the JVM: a corpus's serving table
    * ([[lloydRowsOf]]'s `centroidCache` entry, which the SemDedup
    * index also serves from) and its label prototypes
    * (`prototypeCache`), i.e. one entry each per corpus fingerprint,
    * as those two caches keep their arrays. The training generations
    * c0/c1 are assigned against once each, so [[lloydRowsOf]] removes
    * and destroys their entries ([[releaseBc]]) after their collect.
    * Creating a broadcast starts no job. */
  private val shipBcCache = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef,
      org.apache.spark.broadcast.Broadcast[_]]())

  private def shipBc[A: scala.reflect.ClassTag](s: SparkSession, key: AnyRef,
      build: => A): org.apache.spark.broadcast.Broadcast[A] =
    shipBcCache.computeIfAbsent(key,
      _ => s.sparkContext.broadcast(build))
      .asInstanceOf[org.apache.spark.broadcast.Broadcast[A]]

  private def releaseBc(key: AnyRef): Unit =
    Option(shipBcCache.remove(key)).foreach(_.destroy())

  private def exprOf(c: Column) =
    org.apache.spark.sql.graftshim.ExprColumn.expression(c)

  private def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftshim.ExprColumn.column(e)

  /** Flat top-`keep` assignment column against `rows`: the
    * codegen'd `topk_assign_bc` kernel over the broadcast table,
    * array<struct<ccos, cid>> per row. One projection, value-identical
    * to [[assignTo]] (same rounded cosine, same ccos-desc/cid-asc
    * order — the oracle twins are untouched) and row-local: zero
    * shuffle at ANY n. The join+window shape it replaced forced an
    * n·k-row exchange+SORT with every row dragging the ~0.5 KB
    * quantized vector: measured spilling tens of GB per pass on the
    * 1.1M-vector / k=2149 rehearsal corpus. */
  private def flatAssign(s: SparkSession,
      rows: Array[(Long, Seq[Long], Double)], keep: Int): Column = {
    val bc = shipBc(s, rows, graft.functions.VectorKernels.centTableLocal(rows))
    colOf(graft.functions.TopKAssignBc(
      Seq(exprOf(col("q")), exprOf(col("qn"))), bc, keep))
  }

  /** Two-level assignment column against `rows`: coarse routing to
    * each vector's [[CoarseProbes]] best coarse groups and the fine
    * argmax over only those groups' centroids, fused in the
    * `topk_route_bc` kernel — kc + probes·k/kc dots per row instead of
    * k, still one row-local projection. The driver-side coarse
    * grouping runs once per table, when its broadcast is built. */
  private[queries] def routeAssign(s: SparkSession,
      rows: Array[(Long, Seq[Long], Double)], keep: Int): Column = {
    val bc = shipBc(s, rows, {
      val (coarse, fine) = coarseGroups(rows)
      graft.functions.VectorKernels.routeTableLocal(coarse, fine)
    })
    colOf(graft.functions.TopKRouteBc(
      Seq(exprOf(col("q")), exprOf(col("qn"))), bc, keep, CoarseProbes))
  }

  /** Assignment of `v` against a driver-resident centroid table: flat
    * at k ≤ [[TwoLevelK]] ([[flatAssign]] — the oracle-replayed
    * shape), two-level above it ([[routeAssign]]): n·(√k +
    * probes·k/√k) ≈ 3n√k scored dots instead of n·k. Approximate by
    * design above the fence (a vector whose true centroid lives in an
    * unprobed coarse group mis-assigns — the standard IVF trade-off);
    * the seeded-scalar test measures the agreement rate against the
    * exhaustive argmax on a deterministic corpus. The table ships as a
    * Broadcast in both regimes ([[shipBc]]). */
  private[queries] def assignRows(s: SparkSession, v: DataFrame,
      rows: Array[(Long, Seq[Long], Double)], keep: Int): DataFrame = {
    val kernel =
      if (rows.length <= TwoLevelK) flatAssign(s, rows, keep)
      else routeAssign(s, rows, keep)
    v.select(col("*"), explode(kernel).as("_a"))
      .withColumn("cid", col("_a").getField("cid"))
      .withColumn("ccos", col("_a").getField("ccos"))
      .drop("_a")
  }

  /** SQL twin of [[guardedCos]]: the rounded cosine with the
    * degenerate-denominator -1.0 convention (round-11 ADVICE — a
    * zero-norm centroid made the twin emit NaN/Inf, which DuckDB
    * orders ahead of every finite cosine, diverging from the Scala
    * side's -1.0). */
  private def sqlCos(q: String, cs: String, qn: String, cn: String): String =
    s"(CASE WHEN $qn * $cn > 0 THEN round(list_dot_product($q, $cs) / ($qn * $cn), 6) ELSE -1.0 END)"

  /** Oracle mirror of [[lloyd]]: the same unrolled seed → assign →
    * re-sum → assign → re-sum chain, seeded from the same
    * corpus-derived k (kdf ≡ [[ivfK]]). `sum(qd)` over integer-valued
    * doubles is exact, so `c2` is bit-identical to Spark's. */
  /** Oracle twin of [[coarseGroups]] over the centroid CTE `cent`
    * (columns cid, cs, cn), CTEs prefixed `p`: seeds = the kc = ⌈√k⌉
    * lowest-cid centroids, two assignment+floor-mean-update passes
    * (integer-exact sums, correctly-rounded division, floor —
    * identical in both engines), empty groups keep their seed, live
    * groups only. Emits `{p}coarse` (gid, gs, gn) and `{p}fine`
    * (gid, cid, cs, cn). */
  private def coarseCtes(p: String, cent: String): String = {
    def assignPass(src: String, seeds: String): String =
      s"""(SELECT cid, gid FROM (
        |    SELECT o.cid, s.gid,
        |           row_number() OVER (PARTITION BY o.cid
        |             ORDER BY ${sqlCos("o.cs", "s.gs", "o.cn", "s.gn")} DESC,
        |                      s.gid ASC) AS rn
        |    FROM $src o CROSS JOIN $seeds s) WHERE rn = 1)""".stripMargin
    def updatePass(assign: String, prev: String): String =
      s"""(SELECT s.gid, coalesce(u.gs, s.gs) AS gs,
        |        sqrt(list_dot_product(coalesce(u.gs, s.gs), coalesce(u.gs, s.gs))) AS gn
        | FROM $prev s LEFT JOIN (
        |   SELECT gid, list(fm ORDER BY d) AS gs FROM (
        |     SELECT a.gid, e.d, floor(sum(e.qd) / count(*)) AS fm
        |     FROM $assign a JOIN ${p}exp e USING (cid) GROUP BY 1, 2)
        |   GROUP BY 1) u USING (gid))""".stripMargin
    s"""${p}k AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS kc
      |          FROM $cent),
      |${p}ord AS MATERIALIZED (SELECT cid, cs, cn,
      |            row_number() OVER (ORDER BY cid) - 1 AS idx FROM $cent),
      |${p}exp AS MATERIALIZED (SELECT cid, unnest(cs) AS qd, generate_subscripts(cs, 1) AS d
      |            FROM ${p}ord),
      |${p}s0 AS MATERIALIZED (SELECT idx AS gid, cs AS gs, cn AS gn
      |           FROM ${p}ord CROSS JOIN ${p}k WHERE idx < kc),
      |${p}a1 AS MATERIALIZED ${assignPass(s"${p}ord", s"${p}s0")},
      |${p}s1 AS MATERIALIZED ${updatePass(s"${p}a1", s"${p}s0")},
      |${p}a2 AS MATERIALIZED ${assignPass(s"${p}ord", s"${p}s1")},
      |${p}s2 AS MATERIALIZED ${updatePass(s"${p}a2", s"${p}s1")},
      |${p}coarse AS MATERIALIZED (SELECT s.gid, s.gs, s.gn FROM ${p}s2 s
      |               WHERE s.gid IN (SELECT gid FROM ${p}a2)),
      |${p}fine AS MATERIALIZED (SELECT a.gid, o.cid, o.cs, o.cn
      |             FROM ${p}a2 a JOIN ${p}ord o USING (cid))""".stripMargin
  }

  /** Single-level oracle assign subquery against centroid CTE `cent`:
    * (vec_id, cid, v, nrm, q) rows with rank ≤ `keep` by rounded
    * cosine (cid tie-break) — the [[assignTo]] twin. The cosine is
    * pre-projected BELOW the window and the heavy vector columns are
    * joined back AFTER it, so the n·k window sort buffer holds slim
    * (vec_id, cid, cos) rows — the q95-oracle lesson: with the
    * DOUBLE[64] payloads riding the sort, the sf10 assign (200k·391
    * rows ≈ 100 GB buffered) OOM-killed DuckDB. */
  private def singleAssignSql(cent: String, keep: Int): String =
    s"""SELECT a.vec_id, a.cid, qq.v, qq.nrm, qq.q FROM (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY cos DESC, cid ASC) AS rn
      |    FROM (SELECT qq.vec_id, $cent.cid,
      |                 ${sqlCos("qq.q", s"$cent.cs", "qq.qn", s"$cent.cn")} AS cos
      |          FROM qq CROSS JOIN $cent))
      |  WHERE rn <= $keep) a JOIN qq ON qq.vec_id = a.vec_id""".stripMargin

  /** Two-level oracle assign subquery — the [[assignRows]] engaged
    * branch's twin: route each vector to its [[CoarseProbes]] best
    * `{p}coarse` groups by rounded cosine, fine argmax over those
    * groups' `{p}fine` centroids. Same output columns as
    * [[singleAssignSql]]. */
  private def twoLevelAssignSql(p: String, keep: Int): String =
    s"""SELECT a.vec_id, a.cid, qq.v, qq.nrm, qq.q FROM (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY cos DESC, cid ASC) AS rn
      |    FROM (SELECT qq.vec_id, f.cid,
      |                 ${sqlCos("qq.q", "f.cs", "qq.qn", "f.cn")} AS cos
      |          FROM (SELECT vec_id, gid FROM (
      |                  SELECT vec_id, gid,
      |                         row_number() OVER (PARTITION BY vec_id
      |                           ORDER BY gcos DESC, gid ASC) AS grn
      |                  FROM (SELECT qq.vec_id, s.gid,
      |                               ${sqlCos("qq.q", "s.gs", "qq.qn", "s.gn")} AS gcos
      |                        FROM qq CROSS JOIN ${p}coarse s))
      |                WHERE grn <= $CoarseProbes) r
      |          JOIN qq ON qq.vec_id = r.vec_id
      |          JOIN ${p}fine f ON f.gid = r.gid))
      |  WHERE rn <= $keep) a JOIN qq ON qq.vec_id = a.vec_id""".stripMargin

  /** CTE prelude for an assignment against `cent` — empty on the
    * single-level (sub-fence) oracle path, the [[coarseCtes]] chain
    * when the two-level sweep is seeded. */
  private def assignCtes(cent: String, p: String): String =
    if (!TwoLevelSeeded) "" else coarseCtes(p, cent) + ",\n"

  /** The assignment subquery body matching the Spark-side
    * [[assignRows]] fence state. */
  private def assignBody(cent: String, p: String, keep: Int): String =
    if (!TwoLevelSeeded) singleAssignSql(cent, keep)
    else twoLevelAssignSql(p, keep)

  private val lloydSql =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |       WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |         AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |             < 'Infinity'::DOUBLE),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      |qv AS (SELECT vec_id, v, nrm,
      |              list_transform(v, x -> CAST(floor(x * 1000) AS DOUBLE)) AS q
      |       FROM n),
      |qq AS MATERIALIZED (SELECT vec_id, v, nrm, q, sqrt(list_dot_product(q, q)) AS qn FROM qv
      |       WHERE list_dot_product(q, q) > 0
      |         AND list_max(list_transform(q, x -> abs(x))) <= 1000000),
      |$kdfCte,
      |c0 AS MATERIALIZED (SELECT vec_id AS cid, q AS cs, qn AS cn
      |       FROM (SELECT vec_id, q, qn, row_number() OVER (ORDER BY vec_id) AS srn
      |             FROM qq) CROSS JOIN kdf WHERE srn <= kk),
      |${assignCtes("c0", "g0")}a1 AS (SELECT cid, q FROM (${assignBody("c0", "g0", 1)})),
      |s1 AS (SELECT cid, d, sum(qd) AS sd
      |       FROM (SELECT cid, unnest(q) AS qd, generate_subscripts(q, 1) AS d FROM a1) e
      |       GROUP BY 1, 2),
      |c1p AS (SELECT cid, list(sd ORDER BY d) AS cs FROM s1 GROUP BY 1),
      |c1 AS MATERIALIZED (SELECT cid, cs, sqrt(list_dot_product(cs, cs)) AS cn FROM c1p),
      |${assignCtes("c1", "g1")}a2 AS (SELECT cid, q FROM (${assignBody("c1", "g1", 1)})),
      |s2 AS (SELECT cid, d, sum(qd) AS sd
      |       FROM (SELECT cid, unnest(q) AS qd, generate_subscripts(q, 1) AS d FROM a2) e
      |       GROUP BY 1, 2),
      |c2p AS (SELECT cid, list(sd ORDER BY d) AS cs FROM s2 GROUP BY 1),
      |c2 AS MATERIALIZED (SELECT cid, cs, sqrt(list_dot_product(cs, cs)) AS cn FROM c2p)""".stripMargin

  /** q31: IVF-style ANN — centroids are learned with two deterministic
    * Lloyd's iterations from the k lowest-vec_id seeds, k corpus-derived
    * ([[ivfK]]; broadcast at every
    * step); each probe vector (the [[probeStride]] sample) retrieves its top-5
    * cosine neighbors from its own cluster only. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    val assign = assignRows(s, qv, c2rows, 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm"))
    val q = probeSample(assign, probeStride(s, d))
      .select(col("vec_id").as("qid"), col("cluster"),
        col("v").as("qv"), col("nrm").as("qn"))
    val m = assign.select(col("vec_id").as("mid"),
      col("cluster").as("mcluster"), col("v").as("mv"), col("nrm").as("mn"))
    val wTop = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("mid").asc)
    q.join(m, col("cluster") === col("mcluster") && col("qid") =!= col("mid"))
      .withColumn("cos", cosR("qv", "mv", col("qn"), col("mn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("mid"), col("cos"))
      .orderBy("qid", "rank")
  }

  private val q31Sql =
    s"""WITH $lloydSql,
      |${assignCtes("c2", "g2")}assign AS (
      |  SELECT vec_id, cid AS cluster, v, nrm
      |  FROM (${assignBody("c2", "g2", 1)})),
      |$pfCte,
      |q AS (SELECT vec_id AS qid, cluster, v AS qv, nrm AS qn
      |      FROM assign CROSS JOIN pf WHERE vec_id % pf.pstep = 0)
      |SELECT qid, rank, mid, cos FROM (
      |  SELECT q.qid,
      |         CAST(row_number() OVER (
      |           PARTITION BY q.qid
      |           ORDER BY round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) DESC,
      |                    m.vec_id ASC) AS BIGINT) AS rank,
      |         m.vec_id AS mid,
      |         round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) AS cos
      |  FROM q JOIN assign m ON q.cluster = m.cluster AND q.qid <> m.vec_id)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** q52: blocked embedding near-dup — the scale shape of q30. Each
    * vector is assigned to its top-2 nearest of the k Lloyd's-learned
    * centroids — k corpus-derived ([[ivfK]], the fence that keeps
    * Σ cluster² linear; the sf1 rehearsal measured the fixed-k curve
    * at ~100× combos per 10× corpus before this), multi-probe to
    * soften cluster-boundary misses; candidate pairs
    * are generated by an equality self-join on the assigned cluster id
    * and scored with the same rounded cosine ≥ 0.4 predicate. The
    * plan has NO cartesian/broadcast-NL pair join (asserted in
    * DedupScaleSpec): candidate generation shuffles once on cluster
    * id, so pair cost is Σ cluster² instead of n². Approximate by
    * design (pairs whose members share no probed cluster are not
    * candidates); the oracle encodes the same blocking, and q30
    * remains the exactness baseline. */
  /** A cluster is GIANT past this many members — its within-cluster
    * pair join gets grid-sliced ([[clusterPairs]]) instead of riding
    * one shuffle key. At the [[IvfClusterTarget]]=512 balanced size
    * this never fires on healthy corpora; it exists for the Zipf head
    * (boilerplate pages, retried encoder shards — one cluster holding
    * a third of the corpus). */
  /** Seedable via SPARK_GRAFT_SEED_GIANTCAP for the combined-axis
    * fuzz sweep (the [[TwoLevelK]] discipline): slicing is
    * value-identical by construction, so forcing the grid onto a
    * small corpus needs NO oracle change — a full Verify + check run
    * with the cap seeded proves the engaged grid oracle-exact end to
    * end on dirty data. Never set in production. */
  /** Validated positive-long env knob: a malformed or non-positive
    * value would otherwise throw an opaque NumberFormatException from
    * this object's static initializer (or worse, a zero SEED_SLICE
    * would send ⌈c/slice⌉ pathological) — fail loudly, naming the
    * variable. */
  private def seedEnv(name: String, default: Long): Long =
    sys.env.get(name).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$name must be a positive long, got '$v'")
      }
      require(n > 0, s"$name must be > 0, got $n")
      n
    }.getOrElse(default)

  private[queries] val GiantClusterCap: Long =
    seedEnv("SPARK_GRAFT_SEED_GIANTCAP", 4096L)

  /** Grid-slice edge length target: a giant cluster of size c splits
    * into S = ⌈c/2048⌉ row/col buckets, so one grid cell evaluates
    * ≈ 2048² ≈ 4.2M pairs — a few seconds of cosine work per task.
    * Seedable via SPARK_GRAFT_SEED_SLICE alongside the cap: a fuzz
    * corpus's mega-cluster is hundreds of rows, under the production
    * 2048, so without a smaller slice edge the forced grid would be
    * 1×1 (the giant PATH, but not multi-cell geometry); seeding both
    * makes S ≥ 2 grids face the full dirty-data oracle sweep. Never
    * set in production. */
  private[queries] val PairSliceTarget: Long =
    seedEnv("SPARK_GRAFT_SEED_SLICE", 2048L)

  /** The within-cluster ordered-pair frame (va, av, na) × (vb, bv,
    * nb), va < vb — the SemDeDup / blocked-near-dup candidate join
    * (q52, q112) with GIANT clusters spread over an S×S task grid.
    *
    * Why: AQE's skew split keys on shuffle-partition INPUT size, and
    * a mega-cluster self-join is output-explosive, not input-heavy —
    * measured on the round-14 Zipf corpus (30k exact copies in one
    * cluster at n = 100k): the cluster's partition reads ~17 MB (far
    * under the 256 MB skew threshold) and then evaluates 4.5×10⁸
    * pairs in ONE task, single-threaded for ~12 minutes while 31
    * cores idle. No AQE knob sees this; the engine must.
    *
    * How: per-cluster counts (k-row frame) broadcast back; clusters
    * ≤ [[GiantClusterCap]] ride the plain equality self-join exactly
    * as before. A giant cluster of size c gets S = ⌈c/
    * [[PairSliceTarget]]⌉: each member row has a home bucket
    * u = pmod(vec_id, S); the a-side replicates across grid columns
    * (u_a, j), the b-side across grid rows (i, u_b), and the join key
    * (cluster, i = u_a, j = u_b) lands every (a, b) pair in EXACTLY
    * one of S² cells of ≈ [[PairSliceTarget]]² pairs each. Pair SET,
    * cosines, and every downstream aggregate are value-identical —
    * the oracle twins are untouched; replication cost is 2·c·S input
    * rows, always ≪ the c² pair work it parallelizes.
    *
    * The census is DRIVER-RESIDENT and memoized ([[clusterSizes]]:
    * k rows, the magnitude the centroid chain already collects), so
    * on a corpus with NO giant cluster the emitted plan is
    * byte-identical to the plain self-join — zero in-plan overhead
    * for the healthy case (an in-plan census measured +7 s on q112 /
    * +19 s on q52 at 1.8M vectors, re-running the assignment kernel
    * and doubling the pair-join shuffle). Scope: "zero overhead"
    * is a claim about the EMITTED PLAN; the first consumer per
    * (corpus, keep) per JVM still pays one assignment pass + ≤k-row
    * collect to take the census, amortized across q52/q112/q113 and
    * repeat runs by the memo.
    * private[queries]: DedupScaleSpec proves sliced ≡ plain self-join
    * on a synthetic giant cluster (the grid never engages on clean
    * test corpora, so the equivalence needs direct exercise). */
  private[queries] def clusterPairs(assign: DataFrame,
      giantSizes: Array[(Long, Long)]): DataFrame = {
    val a = assign.select(col("vec_id").as("va"), col("cluster"),
      col("v").as("av"), col("nrm").as("na"))
    val b = assign.select(col("vec_id").as("vb"),
      col("cluster").as("cluster_b"), col("v").as("bv"),
      col("nrm").as("nb"))
    if (giantSizes.isEmpty)
      a.join(b, col("cluster") === col("cluster_b") && col("va") < col("vb"))
        .select(col("va"), col("vb"), col("av"), col("na"),
          col("bv"), col("nb"))
    else {
      val s = assign.sparkSession
      import s.implicits._
      val giants = broadcast(giantSizes.toSeq.map { case (c, csz) =>
        (c, math.ceil(csz.toDouble / PairSliceTarget).toInt)
      }.toDF("cluster", "s"))
      val marked = assign.join(giants, Seq("cluster"), "left")
      val normal = marked.filter(col("s").isNull)
      def aSide(df: DataFrame) = df.select(col("vec_id").as("va"),
        col("cluster"), col("v").as("av"), col("nrm").as("na"), col("s"))
      def bSide(df: DataFrame) = df.select(col("vec_id").as("vb"),
        col("cluster").as("cluster_b"), col("v").as("bv"),
        col("nrm").as("nb"), col("s").as("s_b"))
      val plain = aSide(normal).drop("s")
        .join(bSide(normal).drop("s_b"),
          col("cluster") === col("cluster_b") && col("va") < col("vb"))
      val giant = marked.filter(col("s").isNotNull)
      val ga = aSide(giant)
        .withColumn("ua", pmod(col("va"), col("s")))
        .withColumn("j", explode(sequence(lit(0), col("s") - 1)))
      val gb = bSide(giant)
        .withColumn("ub", pmod(col("vb"), col("s_b")))
        .withColumn("i", explode(sequence(lit(0), col("s_b") - 1)))
      val sliced = ga.join(gb,
          col("cluster") === col("cluster_b") &&
            col("ua") === col("i") && col("j") === col("ub") &&
            col("va") < col("vb"))
        .drop("s", "s_b", "ua", "ub", "i", "j")
      plain.unionByName(sliced)
        .select(col("va"), col("vb"), col("av"), col("na"),
          col("bv"), col("nb"))
    }
  }

  /** Memoized per-(corpus, keep) cluster-size census for the GIANT
    * clusters only — the k-row collect every clusterPairs consumer
    * shares (same bounded-collect class as the centroid chain: ≤ k
    * rows, fingerprint-keyed so an in-place corpus rewrite re-counts).
    * One assignment pass per (dir, keep) per JVM, amortized across
    * q52/q112 and their repeat runs. */
  private val censusCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()

  private def giantClusters(s: SparkSession, d: String, assign: DataFrame,
      keep: Int): Array[(Long, Long)] =
    censusCache.computeIfAbsent(
      s"$d@${graft.T.dirFingerprint(d)}#$keep", _ =>
        assign.groupBy(col("cluster")).agg(count(lit(1)).as("csz"))
          .filter(col("csz") > GiantClusterCap)
          .collect().map(r => (r.getLong(0), r.getLong(1))))

  private def q52(s: SparkSession, d: String): DataFrame = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    val assign = assignRows(s, qv, c2rows, 2)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm"))
    clusterPairs(assign, giantClusters(s, d, assign, 2))
      .select(col("va"), col("vb"),
        cosR("av", "bv", col("na"), col("nb")).as("cos"))
      .distinct() // a pair sharing both probed clusters matches twice
      .filter(col("cos") >= 0.4)
      .orderBy("va", "vb")
  }

  private val q52Sql =
    s"""WITH $lloydSql,
      |${assignCtes("c2", "g2")}assign AS (
      |  SELECT vec_id, cid AS cluster, v, nrm
      |  FROM (${assignBody("c2", "g2", 2)}))
      |SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
      |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      |FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
      |ORDER BY va, vb""".stripMargin

  /** q112: semantic dedup over the embedding corpus — the SemDeDup
    * recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") re-expressed on the
    * IVF index the engine already learns. Each admissible vector is
    * assigned to its single nearest Lloyd's centroid (the memoized
    * index + row-local `topk_assign_bc`/`topk_route_bc` kernels, exactly
    * q31's assignment — zero joins/windows/exchanges in assignment);
    * a vector is DROPPED when an earlier (lower vec_id) member of its
    * cluster scores rounded cosine ≥ 0.42 against it. Output: one row
    * per admissible vector with the keep verdict and, for dropped
    * vectors, the LOWEST such keeper (deterministic; NULL when kept).
    *
    * SEMANTICS NOTE — `keeper` is the lowest earlier same-cluster
    * neighbor above threshold, tested against ANY earlier member
    * regardless of that member's own verdict. In a transitive chain
    * (a~b, b~c, a!~c) the reported keeper for a dropped vector can
    * itself be dropped: keeper is the dedup WITNESS, not a guaranteed
    * member of the keep set. Consumers wanting a retained
    * representative use q113, which resolves the chain to a kept
    * `rep` column. This matches the oracle bit-for-bit by design; the
    * greedy keep-against-kept SemDeDup variant is a sequential scan
    * within each cluster (inherently order-dependent) and would
    * forfeit the partial-aggregable groupBy MIN shape below.
    * Exactness: the same BIGINT-quantized centroid chain + 6-decimal
    * rounded cosine as the rest of the family, so the oracle replays
    * the decision bit-for-bit.
    *
    * Scale shape (the q52 posture): candidate pairs come from an
    * equality self-join on the assigned cluster id — Σ cluster² with
    * k riding the [[ivfK]] ladder, never all-pairs; the drop set
    * reduces via a partial-aggregatable groupBy MIN (map-side combine
    * collapses a mega-cluster's fan-in before the shuffle); the
    * verdict attach is a vec_id-keyed hash equality join; the output
    * sort rides [[graft.T.pinnedSort]] (slim verdict rows over the
    * pair-join lineage — the q69/q85 pin criterion). */
  /** The SemDeDup drop threshold (rounded cosine) — ONE definition
    * shared by batch q112, its oracle twin, and the streaming gate
    * (s23), so the three can never drift. */
  private[graft] val SemDedupCos = 0.42

  /** s23's static side — the (centroid table, indexed member frame)
    * pair the streaming gate serves against: the SAME memoized Lloyd's
    * index every batch consumer rides (so building it after a q31/q52/
    * q97/q112 run is free), members as (vec_id, cluster, v, nrm).
    * Caller owns persistence (StreamingSemDedup.buildIndex persists +
    * cluster-partitions it once). */
  private[graft] def semDedupIndex(s: SparkSession, d: String)
      : (Array[(Long, Seq[Long], Double)], DataFrame) = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    (c2rows, assignRows(s, qv, c2rows, 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm")))
  }

  /** s23's per-batch gate — one verdict row per ADMISSIBLE incoming
    * vector (the [[qvecsOf]] admission: degenerate/non-finite/
    * out-of-domain vectors emit nothing, exactly q112's rule):
    * (vec_id, kept, keeper) against the STATIC index. An incoming
    * vector is dropped when ANY indexed member of its assigned
    * cluster scores rounded cosine ≥ [[SemDedupCos]]; keeper = the
    * LOWEST such indexed vec_id (a member of the index by
    * construction — the index-only form has no transitive-chain
    * caveat). Pure function of (vector, index): incoming vectors are
    * never compared to each other, so verdicts are batching-invariant
    * by construction (asserted in StreamingSemDedupSpec).
    *
    * Scale shape: assignment is the row-local topk kernel against the
    * driver-resident centroid table (zero shuffle, same TwoLevelK
    * fence as q31); the only index-scale operation is the
    * cluster-equality join against the persisted, cluster-partitioned
    * member frame — per batch the incoming side is shard-sized. */
  private[graft] def semDedupGate(s: SparkSession, batch: DataFrame,
      centroids: Array[(Long, Seq[Long], Double)],
      members: DataFrame): DataFrame = {
    val in = assignRows(s, qvecsOf(s, batch), centroids, 1)
      .select(col("vec_id").as("vi"), col("cid").as("cluster"),
        col("v").as("iv"), col("nrm").as("ni"))
    val hits = in.join(
        members.select(col("vec_id").as("ve"), col("cluster").as("cluster_e"),
          col("v").as("ev"), col("nrm").as("ne")),
        col("cluster") === col("cluster_e"))
      .filter(cosR("iv", "ev", col("ni"), col("ne")) >= SemDedupCos)
      .groupBy(col("vi")).agg(min(col("ve")).as("keeper"))
    in.select(col("vi"))
      .join(hits, Seq("vi"), "left")
      .select(col("vi").as("vec_id"), col("keeper").isNull.as("kept"),
        col("keeper"))
  }

  private def q112(s: SparkSession, d: String): DataFrame = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    val assign = assignRows(s, qv, c2rows, 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm"))
    val drops = clusterPairs(assign, giantClusters(s, d, assign, 1))
      .filter(cosR("av", "bv", col("na"), col("nb")) >= SemDedupCos)
      .groupBy(col("vb")).agg(min(col("va")).as("keeper"))
    val out = assign.select(col("vec_id"))
      .join(drops, col("vec_id") === col("vb"), "left")
      .select(col("vec_id"), col("keeper").isNull.as("kept"), col("keeper"))
    graft.T.pinnedSort(out, "vec_id")
  }

  private val q112Sql =
    s"""WITH $lloydSql,
      |${assignCtes("c2", "g2")}assign AS (
      |  SELECT vec_id, cid AS cluster, v, nrm
      |  FROM (${assignBody("c2", "g2", 1)})),
      |drops AS (
      |  SELECT b.vec_id AS vb, min(a.vec_id) AS keeper
      |  FROM assign a JOIN assign b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $SemDedupCos
      |  GROUP BY 1)
      |SELECT assign.vec_id,
      |       drops.keeper IS NULL AS kept,
      |       drops.keeper
      |FROM assign LEFT JOIN drops ON assign.vec_id = drops.vb
      |ORDER BY vec_id""".stripMargin

  /** q113: q112 with the keeper chain RESOLVED to a retained
    * representative — the consumer-safe form of the SemDeDup verdict
    * frame. q112's `keeper` is the dedup WITNESS (the lowest earlier
    * same-cluster neighbor above threshold, itself possibly dropped in
    * a transitive chain a~b, b~c, a≁c); here an extra `rep` column
    * carries the terminal of each dropped vector's keeper chain, which
    * is ALWAYS a kept row: keeper < dropped id by construction, so the
    * keeper edges form a functional forest whose roots have no earlier
    * witness — every chain strictly descends to a kept vector (and the
    * root is also its tree's minimum id). Kept rows carry rep =
    * vec_id. The streaming gate (s23) needs no such resolution — its
    * keeper is always a member of the static index, chain-free by
    * construction (asserted in StreamingSemDedupSpec).
    *
    * Scale shape: everything through `drops` is EXACTLY q112 (memoized
    * index, row-local assignment, grid-sliced Σ cluster² pair join,
    * partial-aggregable groupBy MIN). The drop frame — O(dropped)
    * slim (vb, keeper) rows — is checkpointed once and chain-resolved
    * by [[graft.scale.Scale.functionalRoots]] path halving: ⌈log₂
    * depth⌉+1 rounds of one self-join each, never touching the vector
    * columns. Real chains are shallow (inside a duplicate clique every
    * later member's witness IS the clique minimum, which is kept —
    * depth 1); the log-depth loop is insurance for adversarial
    * near-threshold arcs, not the expected cost. Verdict attach is two
    * vec_id-keyed hash joins against the slim frames. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    val assign = assignRows(s, qv, c2rows, 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm"))
    // Checkpointed: referenced by the verdict attach AND iterated by
    // functionalRoots — without this the pair join would re-execute
    // once per pointer-jump round.
    val drops = clusterPairs(assign, giantClusters(s, d, assign, 1))
      .filter(cosR("av", "bv", col("na"), col("nb")) >= SemDedupCos)
      .groupBy(col("vb")).agg(min(col("va")).as("keeper"))
      // LAZY (round 16): the first action over this frame is
      // functionalRoots' roots-init checkpoint, which reads it exactly
      // once — the pair join materializes inside that job instead of
      // paying its own. Later consumers (the verdict attach) read the
      // stored blocks.
      .transform(d => graft.scale.Scale.ckpt(d, eager = false))
    val reps = graft.scale.Scale.functionalRoots(
      drops.select(col("vb").as("node"), col("keeper").as("parent")))
    val out = assign.select(col("vec_id"))
      .join(drops, col("vec_id") === col("vb"), "left")
      .join(reps, col("vec_id") === col("node"), "left")
      .select(col("vec_id"), col("keeper").isNull.as("kept"), col("keeper"),
        coalesce(col("root"), col("vec_id")).as("rep"))
    graft.T.pinnedSort(out, "vec_id")
  }

  /** The oracle resolves the same chains with a recursive CTE: `chain`
    * walks every dropped vector's keeper pointer one hop per
    * iteration; the terminal row per vb is the one whose rep is not
    * itself dropped. Chains strictly descend in vec_id, so the
    * recursion provably terminates. */
  private val q113Sql =
    s"""WITH RECURSIVE $lloydSql,
      |${assignCtes("c2", "g2")}assign AS (
      |  SELECT vec_id, cid AS cluster, v, nrm
      |  FROM (${assignBody("c2", "g2", 1)})),
      |drops AS (
      |  SELECT b.vec_id AS vb, min(a.vec_id) AS keeper
      |  FROM assign a JOIN assign b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $SemDedupCos
      |  GROUP BY 1),
      |chain AS (
      |  SELECT vb, keeper AS rep FROM drops
      |  UNION ALL
      |  SELECT c.vb, d.keeper AS rep
      |  FROM chain c JOIN drops d ON c.rep = d.vb),
      |resolved AS (
      |  SELECT vb, rep FROM chain
      |  WHERE rep NOT IN (SELECT vb FROM drops))
      |SELECT assign.vec_id,
      |       drops.keeper IS NULL AS kept,
      |       drops.keeper,
      |       coalesce(resolved.rep, assign.vec_id) AS rep
      |FROM assign
      |LEFT JOIN drops ON assign.vec_id = drops.vb
      |LEFT JOIN resolved ON assign.vec_id = resolved.vb
      |ORDER BY vec_id""".stripMargin

  /** q53: random-hyperplane LSH ANN — the OTHER classic ANN bucketing
    * (complements q31's IVF): deterministic pseudo-random integer
    * hyperplanes w[j][d] = phash("j:d") % 1001 − 500 give each vector
    * a sign signature of 2·bits planes (bits derived from corpus
    * size, see [[lshTopK]]); candidates share a bits-wide signature
    * band; probes (the [[probeStride]] sample) take top-5 cosine among
    * candidates.
    *
    * Exactness design: vectors are quantized (floor(v·1000), exact in
    * both engines) so the plane projections are pure BIGINT sums —
    * sign bits cannot flip on float summation order. The weight table
    * is a LshPlanes×64 literal baked driver-side with the same md5
    * formula the oracle computes in SQL, so signatures are
    * bit-identical.
    * Scale shape: signatures row-local (no shuffle), candidate
    * generation a (band, value) equality join — same posture as q28's
    * LSH. */
  /** Band-width ladder cap: 2 bands × ≤30 bits ⇒ up to 60 hyperplanes
    * are defined; a given corpus only evaluates the 2·bits it uses
    * (BOTH engines: the Spark signature fold's sequence bound is
    * corpus-derived, and the oracle's `planes` CTE carries the same
    * `j < 2·bits` predicate). 30 bits/band is the hard packing
    * ceiling — the 2-band signature lives in one signed BIGINT — and
    * covers corpora to 2000·4¹¹ ≈ 8.4B vectors at the intended ~2–10
    * bucket density, so the ladder-range defect class (round 9: the
    * 8→14 extension; round 13: 14→20 after the 1.8M-vector sf90 run
    * filled the disk with a ~400M-row candidate shuffle) is closed by
    * construction, not by remembering to append rungs. */
  private val LshMaxBits = 30
  private val LshPlanes = 2 * LshMaxBits

  /** The band-width ladder itself — ONE definition, unit-tested, with
    * the DuckDB twin (`bw` CTE in [[lshCtes]]) computing the SAME
    * closed form. bits = 8 + 2·|{i ≥ 0 : n > 2000·4^i}|, i.e. +2 bits
    * per 4× corpus growth above 2000 vectors, capped at [[LshMaxBits]]
    * by bounding i — pure integer thresholds (2000·4^i is an exact
    * shift), never float log2, so the two engines cannot disagree on
    * a boundary. Replaces the hand-extended rung list that caused the
    * round-9 and round-13 scale blowups when growth passed its last
    * rung. */
  private[queries] def lshBits(n: Long): Int =
    8 + 2 * (0 until (LshMaxBits - 8) / 2).count(i => n > 2000L * (1L << (2 * i)))

  /** Shared LSH top-k machinery for q53 (sampled probes) and q57 (all
    * vectors). `probeFilter = None` is the full-corpus shape: both
    * join sides are the SAME banded frame, pre-partitioned on
    * (b, bv) so the signature build runs once and the self-join
    * reuses one exchange (the q28 pattern).
    *
    * Band width is DERIVED from the corpus size (the cached
    * [[graft.T.snapCount]] scalar): expected bucket size is
    * n/2^bits per band value, so fixed-width bands make the Σ bucket²
    * pair join grow QUADRATICALLY with the corpus; widening bits with
    * n keeps buckets bounded and the join ~linear. The width is the
    * closed-form integer ladder ([[lshBits]]: 8 bits + 2 per 4× n
    * above 2000, capped at 30 by the BIGINT signature packing), not
    * float log2, so the oracle derives the identical width with the
    * same integer-shift arithmetic in its `bw` CTE. */
  private def lshTopK(s: SparkSession, d: String,
      probeFilter: Option[DataFrame => DataFrame]): DataFrame = {
    val wTop = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("mid").asc)
    lshScored(s, d, probeFilter)
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("mid"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** The distinct scored LSH candidate frame (qid, mid, cos) before
    * ranking — shared by q53/q57's top-k and q106's pos/neg mining. */
  private def lshScored(s: SparkSession, d: String,
      probeFilter: Option[DataFrame => DataFrame]): DataFrame = {
    val planes: Seq[Seq[Long]] = (0 until LshPlanes).map(j =>
      (1 to 64).map(dd => (phashDriver(s"$j:$dd") % 1001L) - 500L))
    val wLit = typedlit(planes)
    val n = snapCount(s, d, "embeddings")
    val bits = lshBits(n)
    val v = spread(vecs(s, d), col("vec_id")) // gated: test-split spread only
      // same explicit double-cast-before-multiply as qvecs
      .withColumn("q",
        transform(col("v"), x => floor(x.cast("double") * 1000).cast("long")))
    // Only the 2·bits planes in use are evaluated (sequence bound is
    // corpus-derived), so a small corpus pays for 16 plane dots, not
    // 60 — mirrored oracle-side by the planes CTE's j < 2·bits filter.
    val sig = v.withColumn("sg",
      aggregate(sequence(lit(0), lit(2 * bits - 1)), lit(0L), (acc, j) =>
        acc + when(
          aggregate(zip_with(col("q"), element_at(wLit, j + 1),
            (x, w) => x * w), lit(0L), (a, b) => a + b) > 0,
          pow(lit(2.0), j).cast("long")).otherwise(0L)))
    val banded0 = sig
      .select(col("vec_id"), col("v"), col("nrm"), col("sg"),
        explode(sequence(lit(0), lit(1))).as("b"))
      .withColumn("bv",
        expr(s"shiftright(sg, b * $bits) & (shiftleft(CAST(1 AS BIGINT), $bits) - 1)"))
    // All-vectors case: co-partition once on the join keys so the
    // identical probe/member subtrees collapse to a ReusedExchange.
    val banded =
      if (probeFilter.isEmpty) banded0.repartition(col("b"), col("bv"))
      else banded0
    val probes = probeFilter.fold(banded)(f => f(banded))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("b"), col("bv"), col("sg").as("sg_q"))
    val members = banded.select(col("vec_id").as("mid"), col("v").as("mv"),
      col("nrm").as("mn"), col("b").as("b_m"), col("bv").as("bv_m"),
      col("sg").as("sg_m"))
    // A pair can share both bands — emit it only in its FIRST shared
    // band (the q28 lshCandidates discipline): for b = 1 require the
    // two band-0 values (sg & mask, both already on the joined row)
    // to DIFFER. Row-local, so the scored frame is distinct by
    // construction and the old pair-sized distinct() exchange (qid,
    // mid, cos — quadratic in bucket size) is gone.
    val mask = (1L << bits) - 1
    probes
      .join(members,
        col("b") === col("b_m") && col("bv") === col("bv_m") &&
          col("qid") =!= col("mid") &&
          (col("b") === 0 ||
            col("sg_q").bitwiseAND(mask) =!= col("sg_m").bitwiseAND(mask)))
      .select(col("qid"), col("mid"),
        cosR("qv", "mv", col("qn"), col("mn")).as("cos"))
  }

  private def q53(s: SparkSession, d: String): DataFrame =
    lshTopK(s, d, Some(probeSample(_, probeStride(s, d))))

  /** q57: all-vectors LSH top-k — the blocked replacement for q26 at
    * scale: EVERY vector retrieves its top-5 cosine neighbors among
    * its (band, value) LSH candidates. Same signature scheme as q53;
    * the pair join stays an equality join whose fan-out is Σ bucket²
    * over the band-value buckets, never n². Band width grows with the
    * corpus (the [[lshTopK]] ladder: wider signatures → smaller
    * buckets), and the scheme is shared with q53 so the two stay one.
    * Approximate by design: vectors sharing no band with anything
    * (or fewer than 5 candidates) emit fewer rows — q26 remains the
    * exactness baseline. */
  private def q57(s: SparkSession, d: String): DataFrame =
    lshTopK(s, d, None)

  /** Oracle twin of [[lshTopK]] as a CTE chain (v → … → ranked);
    * `probeWhere` mirrors `probeFilter`. [[lshSql]] selects the top-5
    * directly; q95 composes the recall audit on top. */
  private def lshCtes(probeWhere: String): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |       WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |         AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |             < 'Infinity'::DOUBLE),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      |$pfCte,
      |qv AS (SELECT vec_id,
      |              list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      |       FROM v),
      |bw AS (
      |  SELECT 8 + 2 * count(*) AS bits
      |  FROM generate_series(0, ${(LshMaxBits - 8) / 2 - 1}) g(i)
      |  WHERE (SELECT count(*) FROM embeddings) > 2000 * (1::BIGINT << (2 * i))),
      |planes AS (
      |  SELECT j, d,
      |         ((('0x' || substr(md5(j || ':' || d), 1, 8))::BIGINT % 1001) - 500) AS w
      |  FROM generate_series(0, ${LshPlanes - 1}) g(j), generate_series(1, 64) gd(d),
      |       bw
      |  WHERE j < 2 * bits),
      |comp AS (
      |  SELECT vec_id, j, sum(qd * w) AS s
      |  FROM (SELECT vec_id, unnest(q) AS qd, generate_subscripts(q, 1) AS d
      |        FROM qv) u
      |  JOIN planes USING (d)
      |  GROUP BY 1, 2),
      |sig AS (
      |  SELECT vec_id,
      |         sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS sg
      |  FROM comp GROUP BY 1),
      |banded AS (
      |  SELECT vec_id, b, (sg >> (b * bits)) & ((1::BIGINT << bits) - 1) AS bv
      |  FROM sig, generate_series(0, 1) gb(b), bw),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS qid, m.vec_id AS mid
      |  FROM banded q JOIN banded m
      |    ON q.b = m.b AND q.bv = m.bv AND q.vec_id <> m.vec_id
      |  $probeWhere),
      |scored AS (
      |  SELECT qid, mid,
      |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      |  FROM cand JOIN n a ON a.vec_id = qid JOIN n b ON b.vec_id = mid),
      |ranked AS (
      |  SELECT qid, mid, cos,
      |         CAST(row_number() OVER (
      |           PARTITION BY qid ORDER BY cos DESC, mid ASC) AS BIGINT) AS rank
      |  FROM scored)""".stripMargin

  private def lshSql(probeWhere: String): String =
    s"""WITH ${lshCtes(probeWhere)}
      |SELECT qid, rank, mid, cos FROM ranked
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The probe predicate over [[lshCtes]]'s `cand` join — the oracle
    * twin of `probeSample` (q53/q95/q106 share it; q57 probes all). */
  private val probeJoin = "CROSS JOIN pf WHERE q.vec_id % pf.pstep = 0"

  private val q53Sql = lshSql(probeJoin)
  private val q57Sql = lshSql("")

  /** q106: contrastive pair mining — for each probe anchor, the
    * hardest NEGATIVE (highest cosine among different-label LSH
    * candidates — the confusable impostor) and the best POSITIVE
    * (highest cosine among same-label candidates), the (anchor,
    * positive, hard-negative) triplets metric-learning / embedding
    * fine-tuning trains on. −1/0.0 sentinels when a side has no
    * candidate; anchors with no candidates at all emit nothing (the
    * q57 fence: LSH recall is q95's audit).
    *
    * Scale shape: candidates ride the shared banded equality join
    * (lshScored — never n²); labels attach by two vec_id-keyed joins
    * of the (vec_id, label) projection; the per-(anchor, side) argmax
    * windows over candidate-sized frames. */
  private def q106(s: SparkSession, d: String): DataFrame = {
    val lab = tbl(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val j = lshScored(s, d, Some(probeSample(_, probeStride(s, d))))
      .join(lab.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .join(lab.select(col("vec_id").as("mid"), col("label").as("mlabel")),
        Seq("mid"))
      .withColumn("same", col("label") === col("mlabel"))
    val w = Window.partitionBy("qid", "same")
      .orderBy(col("cos").desc, col("mid").asc)
    val r = j.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val pos = r.filter(col("same"))
      .select(col("qid"), col("mid").as("pos_id"), col("cos").as("pos_cos"))
    val neg = r.filter(!col("same"))
      .select(col("qid"), col("mid").as("neg_id"), col("cos").as("neg_cos"))
    j.select(col("qid"), col("label")).distinct()
      .join(pos, Seq("qid"), "left")
      .join(neg, Seq("qid"), "left")
      .select(col("qid"), col("label"),
        coalesce(col("pos_id"), lit(-1L)).as("pos_id"),
        coalesce(col("pos_cos"), lit(0.0)).as("pos_cos"),
        coalesce(col("neg_id"), lit(-1L)).as("neg_id"),
        coalesce(col("neg_cos"), lit(0.0)).as("neg_cos"))
      .orderBy("qid")
  }

  private val q106Sql =
    s"""WITH ${lshCtes(probeJoin)},
      |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
      |j AS (
      |  SELECT s.qid, s.mid, s.cos, la.label, (la.label = lb.label) AS same
      |  FROM scored s JOIN lab la ON la.vec_id = s.qid
      |  JOIN lab lb ON lb.vec_id = s.mid),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid, same
      |              ORDER BY cos DESC, mid ASC) AS rn
      |  FROM j),
      |pos AS (SELECT qid, mid AS pos_id, cos AS pos_cos
      |        FROM r WHERE rn = 1 AND same),
      |neg AS (SELECT qid, mid AS neg_id, cos AS neg_cos
      |        FROM r WHERE rn = 1 AND NOT same),
      |anchors AS (SELECT DISTINCT qid, label FROM j)
      |SELECT a.qid, a.label,
      |       coalesce(pos_id, -1) AS pos_id,
      |       coalesce(pos_cos, 0.0) AS pos_cos,
      |       coalesce(neg_id, -1) AS neg_id,
      |       coalesce(neg_cos, 0.0) AS neg_cos
      |FROM anchors a LEFT JOIN pos USING (qid) LEFT JOIN neg USING (qid)
      |ORDER BY a.qid""".stripMargin

  /** q95: ANN-accuracy audit — recall@5 of the LSH path (q53) against
    * the exact brute-force top-5 for every probe: the table an index
    * owner reads before trusting q53/q57 at a new corpus, closing the
    * audit family (q88 calibrates MinHash, q95 calibrates ANN). Per
    * probe: exact-neighbor count (5), LSH-returned count (≤5 — a probe
    * sharing no bucket returns fewer), overlap, and recall. Both
    * sides and the overlap are deterministic integer/rounded-cosine
    * chains, so even this accuracy table is oracle-verified bit-exact.
    *
    * Scale shape: the approx side rides q53's banded equality join;
    * the exact side is a probe-sample×corpus broadcast-NL scan —
    * fenced by design, like q26: the audit SAMPLE is fixed (~1/50),
    * so the exact side is one bounded broadcast pass over the corpus,
    * not a pair blowup. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val stride = probeStride(s, d)
    val approx = lshTopK(s, d, Some(probeSample(_, stride)))
      .select(col("qid"), col("mid"))
    val v = vecs(s, d)
    val p = probeSample(v, stride)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // spread the streamed corpus side (single test-scale split would
    // serialize the probe×corpus pass; identity at real scale)
    val m = spread(v, col("vec_id"))
      .select(col("vec_id").as("mid"), col("v").as("mv"), col("nrm").as("mn"))
    // Per-probe exact top-5 as a BOUNDED partial aggregation, not a
    // window: the probes×corpus pair frame is probes·n rows (3.6G at
    // sf90), and the window form shoved all of them through one
    // partition-by-probe sort — measured 943 s / 158 GB spill at 1.8M
    // vectors. TopKByScore collapses each map partition to ≤5 rows
    // per probe before the exchange (value-identical: same
    // (cos DESC, mid ASC) total order the window ranked by).
    val topk = udaf(new graft.functions.TopKByScore(5,
      s.implicits.newLongArrayEncoder))
    val exact = broadcast(p).join(m, col("qid") =!= col("mid"))
      .select(col("qid"), col("mid"),
        cosR("qv", "mv", col("qn"), col("mn")).as("cos"))
      .groupBy(col("qid")).agg(topk(col("mid"), col("cos")).as("top"))
      .select(col("qid"), explode(col("top")).as("mid"))
    val hits = exact.join(approx, Seq("qid", "mid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val nApp = approx.groupBy("qid").agg(count(lit(1)).as("n_approx"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(nApp, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_approx", "n_hit"))
      .select(col("qid"), col("n_exact"), col("n_approx"), col("n_hit"),
        // Raw IEEE division of exactly-agreed counts (T.scala rules).
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("qid")
  }

  /** Probe-batch count for [[q95Sql]]'s exact side. The naive
    * formulation (one row_number window over the raw probe×corpus
    * join) OOM-killed DuckDB at sf3 (127 GB RSS): the window's ORDER
    * BY expression referenced the two DOUBLE[64] vectors, so the sort
    * buffer carried ~1 KB of list payload per pair instead of 24
    * bytes. Fixed twice over: (a) the cosine is pre-projected in a
    * subquery BELOW the window, so the window input is slim
    * (qid, mid, cos); (b) the probe filter moves into its own derived
    * table ahead of the inequality join, so the non-equi join is
    * probes×corpus, never corpus×corpus; (c) probes are split into
    * this many disjoint batches — per-qid top-5 is independent per
    * probe, so a UNION ALL of per-batch windows is value-identical
    * while each window materializes only 1/batches of the pairs.
    * Values unchanged at every scale (same rounded-cos expression,
    * same (cos DESC, mid ASC) tie-break, disjoint probe partition). */
  private val ExOracleBatches = 10

  private val q95Sql = {
    val exBatches = (0 until ExOracleBatches).map { i =>
      s"""  SELECT qid, mid FROM (
        |    SELECT qid, mid, row_number() OVER (PARTITION BY qid
        |             ORDER BY cos DESC, mid ASC) AS rn
        |    FROM (SELECT p.vec_id AS qid, m.vec_id AS mid,
        |                 round(list_dot_product(p.v, m.v) / (p.nrm * m.nrm), 6) AS cos
        |          FROM probes p JOIN n m ON m.vec_id <> p.vec_id
        |          WHERE p.batch = $i))
        |  WHERE rn <= 5""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${lshCtes(probeJoin)},
      |approx AS (SELECT qid, mid FROM ranked WHERE rank <= 5),
      |probes AS (
      |  -- pmod, not %: DuckDB's % keeps the dividend's sign, so a
      |  -- NEGATIVE probe id (fuzz seed 22's mega-cluster lives at
      |  -- ids < 0) would land in batch -1 and silently fall out of
      |  -- every exact batch — found as a 14-vs-10-row divergence
      |  -- where the ENGINE was right and the twin wrong
      |  SELECT n.*,
      |         (((vec_id // pf.pstep) % $ExOracleBatches)
      |          + $ExOracleBatches) % $ExOracleBatches AS batch
      |  FROM n CROSS JOIN pf WHERE vec_id % pf.pstep = 0),
      |ex AS (
      |$exBatches),
      |hits AS (
      |  SELECT e.qid, count(*) AS n_hit
      |  FROM ex e JOIN approx a ON a.qid = e.qid AND a.mid = e.mid
      |  GROUP BY 1),
      |na AS (SELECT qid, count(*) AS n_approx FROM approx GROUP BY 1),
      |ne AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY 1)
      |SELECT ne.qid, ne.n_exact,
      |       coalesce(na.n_approx, 0) AS n_approx,
      |       coalesce(h.n_hit, 0) AS n_hit,
      |       CAST(coalesce(h.n_hit, 0) AS DOUBLE) /
      |       CAST(ne.n_exact AS DOUBLE) AS recall
      |FROM ne LEFT JOIN na ON ne.qid = na.qid
      |LEFT JOIN hits h ON ne.qid = h.qid
      |ORDER BY ne.qid""".stripMargin
  }

  /** q97: IVF index-health audit — per learned cluster (the q31
    * Lloyd's chain): occupancy, corpus fraction, and pair-work share
    * (nᵢ²/Σnⱼ² — the slice of the Σ cluster² candidate-join cost this
    * cluster carries). THE table an index owner reads before shipping
    * q31/q52 at a new corpus: one fat cluster means the blocked join
    * degenerates toward all-pairs, and re-seeding/splitting is due —
    * the q88/q95 calibration discipline applied to the index
    * STRUCTURE rather than its answers.
    *
    * Scale shape: everything after the assignment is O(clusters) —
    * the counts frame partial-aggregates to k rows, and the totals
    * attach via the standard withScalar broadcast. */
  private def q97(s: SparkSession, d: String): DataFrame = {
    val (qv, c2rows) = lloydRowsOf(s, d)
    val counts = assignRows(s, qv, c2rows, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("n_total"),
      sum(col("n_vecs") * col("n_vecs")).as("ssq"))
    withScalar(counts, tot)
      .select(col("cid").as("cluster"), col("n_vecs"),
        // Raw IEEE divisions of exactly-agreed counts (T.scala rules).
        (col("n_vecs").cast("double") / col("n_total").cast("double"))
          .as("frac"),
        ((col("n_vecs") * col("n_vecs")).cast("double") /
          col("ssq").cast("double")).as("pair_share"))
      .orderBy("cluster")
  }

  private val q97Sql =
    s"""WITH $lloydSql,
      |${assignCtes("c2", "g2")}assign AS (
      |  SELECT vec_id, cid FROM (${assignBody("c2", "g2", 1)})),
      |counts AS (SELECT cid, count(*) AS n_vecs FROM assign GROUP BY 1),
      |tot AS (SELECT sum(n_vecs) AS n_total,
      |               sum(n_vecs * n_vecs) AS ssq FROM counts)
      |SELECT cid AS cluster, n_vecs,
      |       CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS frac,
      |       CAST(n_vecs * n_vecs AS DOUBLE) / CAST(ssq AS DOUBLE) AS pair_share
      |FROM counts, tot ORDER BY cluster""".stripMargin

  /** q76: int8 scalar quantization — the storage-compression half of a
    * 100 TB ANN index (IVF+SQ): each vector is encoded as 64 int8
    * codes with a per-vector step (max|x|/127), and the per-dimension
    * reconstruction MSE is reported. Fully row-local: the fold
    * accumulates squared errors as micro-unit BIGINTs (round(t²·1e6))
    * so the sum is exact and order-independent — decimal accumulators
    * don't fit Spark's `aggregate` HOF (addition widens the precision
    * away from the accumulator type), integers do. Vectors are cast
    * float→double (exact) before any arithmetic so both engines run
    * the identical IEEE tree. */
  private def q76(s: SparkSession, d: String): DataFrame = {
    val v = tbl(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      // mx < ∞ rejects NaN and inf elements (NaN orders largest both
      // engines): floor/round of a non-finite would ANSI-throw
      .filter(col("mx") > 0.0 && col("mx") < lit(Double.PositiveInfinity))
      .withColumn("step", col("mx") / 127.0)
    def err(x: Column) = x - round(x / col("step")) * col("step")
    // scale_step and mse are emitted RAW (identical IEEE trees in
    // both engines; the q86 half-tie note) — the remaining round()
    // calls here are the int8 quantization semantics itself, not
    // display rounding.
    v.select(col("vec_id"), size(col("v")).cast("long").as("n_dims"),
        col("step").as("scale_step"),
        array_join(transform(col("v"),
          x => round(x / col("step")).cast("long").cast("string")), ",").as("codes"),
        aggregate(col("v"), lit(0L),
          (acc, x) => acc + round(err(x) * err(x) * 1000000.0).cast("long")).as("micro"))
      .select(col("vec_id"), col("n_dims"), col("scale_step"), col("codes"),
        (col("micro").cast("double") / 1000000.0 /
          col("n_dims").cast("double")).as("mse"))
      .orderBy("vec_id")
  }

  private val q76Sql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
      |q AS (SELECT vec_id, v, mx / 127.0 AS step FROM m
      |      WHERE mx > 0 AND mx < 'Infinity'::DOUBLE),
      |t AS (
      |  SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, step,
      |         array_to_string(list_transform(v,
      |           x -> CAST(round(x / step) AS BIGINT)), ',') AS codes,
      |         list_sum(list_transform(v,
      |           x -> CAST(round((x - round(x / step) * step)
      |                         * (x - round(x / step) * step)
      |                         * 1000000.0) AS BIGINT))) AS micro
      |  FROM q)
      |SELECT vec_id, n_dims, step AS scale_step, codes,
      |       CAST(micro AS DOUBLE) / 1000000.0
      |           / CAST(n_dims AS DOUBLE) AS mse
      |FROM t ORDER BY vec_id""".stripMargin

  /** q86: per-label centroids — the supervised sibling of q31's
    * learned IVF centroids: mean embedding per class label, emitted
    * as (label, dim) rows (exact decimal per-dim sums ÷ count, so the
    * reduction is order-independent and DuckDB-replayable — the same
    * discipline as the Lloyd's chain). The class-prototype table a
    * retrieval/classification pipeline ships after embedding a corpus.
    *
    * Scale shape: posexplode fans each vector into 64 (label, dim)
    * terms that partial-aggregate map-side down to labels×64 rows —
    * shuffle volume is independent of corpus size, like q61. */
  private def q86(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "embeddings")
      // a NaN/inf element would poison its whole (label, dim) mean —
      // finite vectors only (zero vectors stay IN: a mean is defined
      // for them, unlike a cosine), oracle mirrored
      .filter(array_max(transform(col("embedding"),
        x => abs(x.cast("double")))) < lit(Double.PositiveInfinity))
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(dec(col("x").cast("double"))).as("sx"))
      .select(col("label"), col("dim"), col("n_vecs"),
        // Raw IEEE division of exactly-agreed values (q38's pattern).
        // round(·, 6) here FAILED at sf0.1: decimal sums over a group
        // whose count divides a power of ten can land exactly on a
        // half-tie at the 7th decimal, and Spark/DuckDB round such
        // doubles in opposite directions (0.003213 vs 0.003214).
        (col("sx").cast("double") / col("n_vecs").cast("double"))
          .as("centroid"))
      .orderBy("label", "dim")

  private val q86Sql =
    """WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |         generate_subscripts(embedding, 1) - 1 AS dim,
      |         unnest(embedding) AS x
      |  FROM embeddings
      |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
      |        < 'Infinity'::DOUBLE),
      |a AS (
      |  SELECT label, CAST(dim AS BIGINT) AS dim, count(*) AS n_vecs,
      |         sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS sx
      |  FROM e GROUP BY 1, 2)
      |SELECT label, dim, n_vecs,
      |       CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS centroid
      |FROM a ORDER BY label, dim""".stripMargin

  /** Quantized vectors WITH the class label — the supervised twin of
    * [[qvecs]], feeding the q93/q94 prototype classifier. */
  private def lqvecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    tbl(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // a non-finite element would ANSI-throw in the floor→long cast
      // (or slip a null element past the domain max, which skips
      // nulls); reject before quantizing — the oracle's qq list_max
      // clause rejects the same vectors (NaN/inf compare false
      // against the domain bound there)
      .filter(array_max(transform(col("v"), x => abs(x))) <
        lit(Double.PositiveInfinity))
      .withColumn("q", transform(col("v"), x => floor(x * 1000).cast("long")))
      .withColumn("qn", sqrt(ldot("q", "q").cast("double")))
      // the qvecs guards: zero-in-quantized-space (no defined
      // prototype cosine) and quantized-domain overflow exclusion
      .filter(col("qn") > 0.0 &&
        array_max(transform(col("q"), x => abs(x))) <= QuantDomainMax)
  }

  /** Shared q93/q94 core: nearest-label-centroid (Rocchio prototype)
    * assignment. Per-label centroids are the k-means [[recompute]]
    * keyed by the TRUE label instead of a learned cid — exact BIGINT
    * sums in quantized space, so both engines agree bit-for-bit — and
    * each vector scores against the ≤10-label broadcast prototype
    * table with the same rounded-cosine argmax as IVF assignment
    * ([[assignTo]]; ties → lower label). This is the embedding-side
    * quality gate a labeled corpus ships with: how separable are the
    * classes under their own prototypes?
    *
    * Scale shape: centroid build is the q86 posture (posexplode →
    * partial-agg (label, dim), shuffle volume independent of corpus
    * size); assignment is the one sanctioned bounded BNLJ (≤10
    * broadcast rows); nothing else shuffles beyond the output sort. */
  /** ≤10 label prototypes, memoized per corpus snapshot like the IVF
    * centroid table (same justification: the collect is the same ≤10
    * rows every consumer broadcast anyway, and the build job runs once
    * per corpus fingerprint instead of once per execution). */
  private val prototypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Seq[Long], Double)]]()

  private def labelAssign(s: SparkSession, d: String): DataFrame = {
    val lq = lqvecs(s, d)
    val rows = prototypeCache.computeIfAbsent(
      s"$d@${graft.T.dirFingerprint(d)}", _ =>
        recompute(lq.select(col("label").as("cid"), col("q")))
          .select(col("cid"), col("cs"), col("cn")).collect().map(r =>
            (r.getLong(0), r.getSeq[Long](1), r.getDouble(2))))
    // row-local kernel assignment (round 12) — the label-prototype
    // argmax was the last join+window assignment left: a ≤10-row
    // BNLJ is bounded, but the row_number() above it still sorted
    // n·10 wide rows per corpus, the same disease assignRows shed.
    // Always flat: ≤10 prototypes, whatever TwoLevelK is seeded to.
    lq.select(col("vec_id"), col("label"), explode(flatAssign(s, rows, 1)).as("_a"))
      .select(col("vec_id"), col("label"),
        col("_a").getField("cid").as("pred"),
        col("_a").getField("ccos").as("score"))
  }

  /** Oracle twin of [[labelAssign]] (CTEs v → qq → c → asg): the same
    * quantize → label-sum → rounded-cosine-argmax chain; `sum(qd)`
    * over integer-valued doubles is exact, so prototypes match Spark's
    * BIGINT sums bit-for-bit. */
  private val labelAssignSql =
    """v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |              embedding::DOUBLE[] AS v FROM embeddings),
      |qv AS (SELECT vec_id, label,
      |              list_transform(v, x -> CAST(floor(x * 1000) AS DOUBLE)) AS q
      |       FROM v),
      |qq AS (SELECT vec_id, label, q, sqrt(list_dot_product(q, q)) AS qn FROM qv
      |       WHERE list_dot_product(q, q) > 0
      |         AND list_max(list_transform(q, x -> abs(x))) <= 1000000),
      |ls AS (SELECT label AS cid, d, sum(qd) AS sd
      |       FROM (SELECT label, unnest(q) AS qd,
      |                    generate_subscripts(q, 1) AS d FROM qq) e
      |       GROUP BY 1, 2),
      |cp AS (SELECT cid, list(sd ORDER BY d) AS cs FROM ls GROUP BY 1),
      |c AS (SELECT cid, cs, sqrt(list_dot_product(cs, cs)) AS cn FROM cp),
      |asg AS (SELECT vec_id, label, cid AS pred, score FROM (
      |         SELECT qq.vec_id, qq.label, c.cid,
      |                round(list_dot_product(qq.q, c.cs) / (qq.qn * c.cn), 6) AS score,
      |                row_number() OVER (PARTITION BY qq.vec_id
      |                  ORDER BY round(list_dot_product(qq.q, c.cs) / (qq.qn * c.cn), 6) DESC,
      |                           c.cid ASC) AS rn
      |         FROM qq CROSS JOIN c) WHERE rn = 1)""".stripMargin

  /** q93: per-vector prototype classification — true label, predicted
    * label (nearest label centroid), winning cosine, and correctness
    * flag. */
  private def q93(s: SparkSession, d: String): DataFrame =
    labelAssign(s, d)
      .select(col("vec_id"), col("label"), col("pred"), col("score"),
        (col("label") === col("pred")).as("correct"))
      .orderBy("vec_id")

  private val q93Sql =
    s"""WITH $labelAssignSql
      |SELECT vec_id, label, pred, score, (label = pred) AS correct
      |FROM asg ORDER BY vec_id""".stripMargin

  /** q94: the confusion matrix over q93's assignment — count and
    * within-label fraction per (true label, predicted label) cell.
    * The window runs over the ≤labels² grouped frame, not the corpus:
    * one partial-agg exchange, then driver-scale work. */
  private def q94(s: SparkSession, d: String): DataFrame =
    labelAssign(s, d)
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
      .withColumn("n_label", sum(col("n")).over(Window.partitionBy("label")))
      // Raw IEEE division of exactly-agreed counts (T.scala rules).
      .select(col("label"), col("pred"), col("n"),
        (col("n").cast("double") / col("n_label").cast("double")).as("frac"))
      .orderBy("label", "pred")

  private val q94Sql =
    s"""WITH $labelAssignSql,
      |g AS (SELECT label, pred, count(*) AS n FROM asg GROUP BY 1, 2)
      |SELECT label, pred, n,
      |       CAST(n AS DOUBLE) /
      |       CAST(sum(n) OVER (PARTITION BY label) AS DOUBLE) AS frac
      |FROM g ORDER BY label, pred""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q86_label_centroids" -> q86 _,
    "q93_centroid_classify" -> q93 _,
    "q94_confusion_matrix" -> q94 _,
    "q26_cosine_topk" -> q26 _,
    "q30_embed_neardup" -> q30 _,
    "q31_ann_ivf" -> q31 _,
    "q52_embed_neardup_blocked" -> q52 _,
    "q53_ann_lsh" -> q53 _,
    "q57_ann_lsh_all" -> q57 _,
    "q76_embed_quantize" -> q76 _,
    "q95_ann_recall" -> q95 _,
    "q97_ivf_stats" -> q97 _,
    "q106_hard_negatives" -> q106 _,
    "q112_semdedup" -> q112 _,
    "q113_semdedup_reps" -> q113 _)

  val oracles: Map[String, String] = Map(
    "q86_label_centroids" -> q86Sql,
    "q93_centroid_classify" -> q93Sql,
    "q94_confusion_matrix" -> q94Sql,
    "q26_cosine_topk" -> q26Sql,
    "q30_embed_neardup" -> q30Sql,
    "q31_ann_ivf" -> q31Sql,
    "q52_embed_neardup_blocked" -> q52Sql,
    "q53_ann_lsh" -> q53Sql,
    "q57_ann_lsh_all" -> q57Sql,
    "q76_embed_quantize" -> q76Sql,
    "q95_ann_recall" -> q95Sql,
    "q97_ivf_stats" -> q97Sql,
    "q106_hard_negatives" -> q106Sql,
    "q112_semdedup" -> q112Sql,
    "q113_semdedup_reps" -> q113Sql)
}
