package graft.queries

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Scale-shape proofs for the dedup/similarity family: the blocked
  * pairing paths (q29 band-prefix, q52 IVF-bucketed) must produce the
  * same rows as their all-pairs definitions WITHOUT any cartesian /
  * broadcast-nested-loop join in the physical plan, and the
  * hot-shingle frequency cap must bound the exact-Jaccard self-join's
  * fan-out without changing results below the cap. */
class DedupScaleSpec extends SparkSpec {

  test("hot-shingle cap: a stop-phrase shared by every doc stops driving pairs") {
    import spark.implicits._
    // 20 docs all share one hot shingle; docs 1 and 2 additionally
    // share 5 rare shingles (a genuine near-dup pair).
    val hot = (1 to 20).map(d => (d.toLong, "the quick brown"))
    val rare = (1 to 5).flatMap(i => Seq((1L, s"rare shingle $i"), (2L, s"rare shingle $i")))
    val unique = (3 to 20).map(d => (d.toLong, s"unique to $d"))
    val sh = (hot ++ rare ++ unique).toDF("doc_id", "shingle")

    val uncapped = Dedup.nearDupPairsFrom(sh, Seq(1000L).toDF("cap"), 20L)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val capped = Dedup.nearDupPairsFrom(sh, Seq(10L).toDF("cap"), 20L)
      .select("da", "db").as[(Long, Long)].collect().toSet

    // Uncapped, the hot shingle makes the small docs pairwise similar
    // (jaccard 1/3) — the quadratic blowup in miniature.
    assert(uncapped.size > 100, s"expected hot-shingle pair blowup, got ${uncapped.size}")
    // Capped, only the genuinely-similar pair survives.
    assert(capped == Set((1L, 2L)), s"got $capped")
  }

  test("hot-shingle cap does not change q25 at test scale") {
    import spark.implicits._
    val def_ = Dedup.nearDupPairs(spark, sfDir).orderBy("da", "db").collect().toSeq
    val unc = Dedup.nearDupPairsFrom(
      Dedup.shinglesBy(spark, sfDir, "doc_id"), Seq(Long.MaxValue).toDF("cap"),
      Dedup.qualifyingDocs(spark, sfDir))
      .orderBy("da", "db").collect().toSeq
    assert(def_ == unc)
  }

  test("hot-shingle cap scalar: fraction of corpus with an absolute floor") {
    import spark.implicits._
    // Small corpus: the floor binds (0.1% of 20 docs rounds to 0).
    val small = (1 to 20).map(d => (d.toLong, s"shingle $d")).toDF("doc_id", "shingle")
    assert(Dedup.hotShingleCap(small).as[Long].head() == 1000L)
    // Large corpus (distinct doc ids beyond floor/fraction): the
    // fraction binds — 0.1% of 3,000,000 docs = 3000 > floor 1000.
    val big = spark.range(3000000).select(col("id").as("doc_id"), lit("x").as("shingle"))
    assert(Dedup.hotShingleCap(big).as[Long].head() == 3000L)
  }

  test("q29 band-prefix blocking: exact vs all-pairs, no cartesian in plan") {
    import spark.implicits._
    val q29 = SparkEntry.queries("q29_simhash_neardup")(spark, sfDir)
    val plan = planString(q29)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q29 pairing must be an equality join, not all-pairs:\n$plan")
    // All-pairs reference recomputed inline from the same signatures.
    val sim = Dedup.simhashSignatures(spark, sfDir)
    val a = sim.select(col("doc_id").as("da"), col("sim").as("sa"))
    val b = sim.select(col("doc_id").as("db"), col("sim").as("sb"))
    val ref = a.join(b, col("da") < col("db"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("da", "db", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val got = q29.as[(Long, Long, Long)].collect().toSet
    assert(got == ref)
  }

  test("q52 IVF-blocked near-dup: subset of q30, no cartesian in plan") {
    import spark.implicits._
    val q52 = SparkEntry.queries("q52_embed_neardup_blocked")(spark, sfDir)
    val plan = planString(q52)
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    // The ONLY nested-loop joins allowed are the centroid assignments
    // (one per Lloyd's pass: seed assign ×2 + final assign), each
    // broadcasting the bounded ≤8-row centroid table — that's the IVF
    // design, not an all-pairs blowup.
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 3,
      s"only the ≤8-row centroid broadcasts may be nested-loop:\n$plan")
    // Pair generation itself must be keyed on the cluster id.
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cluster".r
        .findFirstIn(plan).isDefined,
      s"pair join must be an equality join on cluster:\n$plan")
    val got = q52.select("va", "vb").as[(Long, Long)].collect().toSet
    val base = SparkEntry.queries("q30_embed_neardup")(spark, sfDir)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "q52 should find candidate near-dups at test sf")
    assert(got.subsetOf(base),
      s"blocked pairs must all satisfy the exact predicate; extras: ${got.diff(base)}")
  }

  test("q53 LSH ANN: candidate generation is an equality join, no cartesian") {
    val q53 = SparkEntry.queries("q53_ann_lsh")(spark, sfDir)
    val plan = planString(q53)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q53 candidates must come from the (band, value) equality join:\n$plan")
  }

  test("q57 all-vectors LSH top-k: equality-join candidates, reused exchange") {
    val q57 = SparkEntry.queries("q57_ann_lsh_all")(spark, sfDir)
    val plan = planString(q57)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q57 candidates must come from the (band, value) equality join:\n$plan")
    // Both join sides are the same banded signature frame — the
    // signature build must run once, not once per side.
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"q57's self-join should reuse the (b, bv) exchange:\n$plan")
  }

  test("q25 pair core: the capped-shingle chain materializes once (reused exchange)") {
    // pairOverlaps pins the capped frame to a (shingle) repartition so
    // its four consumer subtrees (join sides + the two `sizes`
    // aliases) share ONE exchange instead of re-running the
    // count-over-window cap chain each.
    val q25 = SparkEntry.queries("q25_minhash_textdedup")(spark, sfDir)
    val plan = planString(q25)
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"pair-core consumers must share the capped-shingle exchange:\n$plan")
  }

  test("q28 self-join computes the signature build once (reused exchange)") {
    val q28 = SparkEntry.queries("q28_minhash_lsh")(spark, sfDir)
    val plan = planString(q28)
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"q28's (band,sig) self-join should reuse one exchange:\n$plan")
  }

  test("q26/q30 fence: above FenceCap the anchor side thins to a modulus sample") {
    import spark.implicits._
    // FenceCap+1 vectors → fk = ceil(n/FenceCap) = 2: only even vec_ids
    // may anchor a pair. Deterministic small-dim embeddings suffice —
    // the fence is about plan/anchor shape, not cosine values.
    val n = Similarity.FenceCap + 1
    val tmp = java.nio.file.Files.createTempDirectory("graft-fence").toString
    spark.range(n).select(col("id").as("vec_id"),
        array((0 until 4).map(j =>
          ((col("id") % (7 + 2 * j)) + 1).cast("float")): _*).as("embedding"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val q26 = SparkEntry.queries("q26_cosine_topk")(spark, tmp)
    val rows = q26.collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getLong(0) % 2 == 0),
      s"every anchor must be in the fk=2 modulus sample: ${rows.map(_.getLong(0)).toSeq}")
    // The fence must be IN the plan (pair build bounded by construction,
    // not by data luck): a pmod filter on the anchor ids against the
    // corpus-derived step (a literal from the cached snapCount scalar).
    val plan = planString(q26)
    assert(plan.contains("pmod"), s"fence filter missing from plan:\n$plan")
    // Below the cap the fence is the identity: odd anchors survive.
    val base = SparkEntry.queries("q30_embed_neardup")(spark, sfDir)
    assert(base.filter(col("va") % 2 === 1).count() > 0,
      "at test scale fk = 1 — the fence must not thin anchors")
  }

  test("probe-stride fence: 50 below ProbeCapN, grows with the corpus above it") {
    import spark.implicits._
    // the stride only counts rows — a vec_id-only embeddings file
    // suffices; ProbeCapN+1 rows → pstep = 100 (probe set halved),
    // test corpora → pstep = 50 exactly (byte-identical oracles).
    val tmp = java.nio.file.Files.createTempDirectory("graft-pfence").toString
    spark.range(Similarity.ProbeCapN + 1).select(col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(Similarity.probeStride(spark, tmp) == 100L)
    assert(Similarity.probeStride(spark, sfDir) == 50L)
    // and the sample itself thins accordingly: every 100th id above
    // the cap (the shared probeSample body all four probe queries use)
    val ids = Similarity.probeSample(
        spark.read.parquet(s"$tmp/embeddings.parquet"),
        Similarity.probeStride(spark, tmp))
      .select("vec_id").as[Long].collect()
    assert(ids.length == 1001 && ids.forall(_ % 100 == 0),
      s"expected the %100 sample, got ${ids.length} ids")
  }

  test("IVF k fence: 8 below ~4k vectors, cluster count grows with the corpus above") {
    import spark.implicits._
    // the sf1 rehearsal measured the fixed-k curve (q52 4.25→38.0s at
    // 10×, Σ cluster² = n²/k); the ladder holds cluster size ~512 so
    // Σ cluster² ≈ n·512 — and stays the identity at test scales.
    assert(Similarity.ivfK(spark, sfDir) == 8L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-kfence").toString
    // hash-derived dims: diverse directions, so the learned clusters
    // don't collapse (a periodic construction left only 4 non-empty)
    spark.range(5000).select(col("id").as("vec_id"),
        array((0 until 4).map(j =>
          (pmod(hash(col("id") * 17 + j), lit(1000)) + 1).cast("float")): _*)
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(Similarity.ivfK(spark, tmp) == 10L) // ceil(5000/512)
    // the whole Lloyd's chain runs at the engaged k: more than the 8
    // floor seeds survive to learned centroids, and never more than k
    val centroids = Similarity.lloydCentroids(spark, tmp)
      .select("cid").as[Long].collect()
    assert(centroids.length > 8 && centroids.length <= 10,
      s"expected 9-10 learned centroids at k=10, got ${centroids.length}")
  }

  test("IVF k ladder: the 4·√n cap binds past the ~4.2M crossover, identity below") {
    // The upper ladder never needs data: ivfK reads the memoized
    // count scalar, so seed it directly (the vocab-fence test
    // discipline). Crossover n/512 = 4√n ⇔ n ≈ 4.19M.
    def kAt(n: Long): Long = {
      val dir = s"/graft-kladder-$n" // nonexistent → constant fingerprint
      graft.T.snapScalar(dir, "count:embeddings")(n)
      Similarity.ivfK(spark, dir)
    }
    assert(kAt(600000L) == 1172L, "sf3 scale stays on the linear ladder")
    assert(kAt(4194304L) == 8192L, "at the crossover both ladders agree")
    // past it: 4·⌈√n⌉ caps the broadcast centroid table ~√n, not n/512
    assert(kAt(100000000L) == 40000L && kAt(1000000000L) == 126492L,
      "the √n cap must bind at extreme corpus sizes")
  }

  test("two-level IVF assignment: engaged past TwoLevelK — coarse routing + fine " +
      "equality join, one assignment per vector, high agreement with the exhaustive argmax") {
    import spark.implicits._
    // deterministic hash-derived corpus; the seeded count scalar puts
    // k = min(⌈2M/512⌉, 4·⌈√2M⌉) = 3907 > TwoLevelK = 2048, so the
    // whole lloyd chain AND the consumer assignment run the
    // coarse/fine path on a corpus small enough to also compute the
    // exhaustive single-level answer for comparison.
    val tmp = java.nio.file.Files.createTempDirectory("graft-twolevel").toString
    spark.range(4000).select(col("id").as("vec_id"),
        array((0 until 4).map(j =>
          (pmod(hash(col("id") * 17 + j), lit(1000)) + 1).cast("float")): _*)
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    graft.T.snapScalar(tmp, "count:embeddings")(2000000L)
    assert(Similarity.ivfK(spark, tmp) == 3907L)
    val (qv, rows) = Similarity.lloydRowsOf(spark, tmp)
    assert(rows.length > Similarity.TwoLevelK,
      s"the engaged chain should learn >TwoLevelK centroids, got ${rows.length}")
    val two = Similarity.assignRows(spark, qv, rows, 1)
      .select(col("vec_id"), col("cid"))
    // plan shape (round 12): the whole coarse+fine routing is the
    // row-local topk_route kernel — ONE projection, no join of any
    // kind, no window, no exchange (the 1.1M-vector rehearsal
    // measured the previous join+row_number shape spilling tens of
    // GB per pass in its n·k-row window sort)
    val plan = planString(two)
    assert(plan.contains("topk_route"),
      s"two-level assignment must ride the topk_route kernel:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Exchange"),
      s"row-local assignment must not join/window/exchange:\n$plan")
    // exactly one assignment per vector — multi-probe routing must
    // never lose a vector (empty coarse groups are dropped from the
    // router) nor emit duplicates
    val twoRows = two.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoRows.size == 4000, s"expected 4000 assignments, got ${twoRows.size}")
    // agreement with the exhaustive argmax: CoarseProbes=2 on this
    // corpus routes the true centroid's group for the overwhelming
    // majority (deterministic data ⇒ deterministic rate; measured
    // 3964/4000 = 0.991 — pinned at a floor that catches routing
    // regressions without chasing the exact value)
    val single = Similarity.assignTo(qv, rows.toSeq.toDF("cid", "cs", "cn"), 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = twoRows.count { case (v, c) => single(v) == c }
    assert(agree >= 3400,
      s"two-level agreement degraded: $agree/4000 vs exhaustive argmax")
  }

  test("ship path: two-level tables ride a Broadcast above and below 2048") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    // synthetic tables on both sides of 2048 rows; dim 4 keeps the
    // driver-side coarseGroups pass cheap while honoring its 2^53
    // magnitude contract
    val rnd = new scala.util.Random(23)
    def table(k: Int) = Array.tabulate(k) { c =>
      val cs = Seq.fill(4)(rnd.nextInt(2001).toLong - 1000)
      (c.toLong, cs, math.sqrt(cs.map(x => x.toDouble * x).sum))
    }.filter(_._3 > 0)
    val qv = (0L until 400L).map(i =>
        (i, Seq.fill(4)(rnd.nextInt(2001).toLong - 1000)))
      .toDF("vec_id", "q")
      .withColumn("qn", sqrt(expr("dot_product(q, q)").cast("double")))
      .filter(col("qn") > 0)
    // above TwoLevelK: assignRows routes two-level
    val above = Similarity.assignRows(spark, qv, table(2156), 1)
    val planA = planString(above)
    assert(planA.contains("topk_route_bc"),
      s"past TwoLevelK the route table must ship as a Broadcast:\n$planA")
    assert(!planA.contains("Join") && !planA.contains("Exchange"),
      s"the broadcast ship path must stay row-local:\n$planA")
    // a sub-2048 table through the two-level kernel (the regime a
    // seeded TwoLevelK engages) ships the same way
    val small = table(300)
    val below = qv.select(col("vec_id"),
      explode(Similarity.routeAssign(spark, small, 1)).as("_a"))
    val planB = planString(below)
    assert(planB.contains("topk_route_bc"),
      s"a sub-2048 route table must ship as a Broadcast:\n$planB")
    assert(!planB.contains("Join") && !planB.contains("Exchange"),
      s"the broadcast ship path must stay row-local:\n$planB")
    assert(below.count() == qv.count(), "one assignment per vector at keep=1")
  }

  // ---- Zipfian-corpus stress (round 6): the cap/AQE levers proven ----
  // ---- on a skewed shingle distribution, not the near-uniform sf  ----

  /** Deterministic Zipf(s=1.1) shingle corpus + a crawl-boilerplate
    * hot key on 80% of docs — the distribution BASELINE.md round-5
    * said the window-vs-anti-join levers must be re-judged on. ~`perDoc`
    * Zipf draws per doc over a 30k-shingle vocabulary; seeded driver-
    * side sampling (150k rows) so every run builds the identical
    * frame. */
  private def zipfCorpus(nDocs: Int, perDoc: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val vocab = 30000
    val rnd = new java.util.Random(42)
    val weights = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1.0, 1.1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    def draw(): Int = {
      val u = rnd.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, u)
      if (i >= 0) i else -i - 1
    }
    val zipf = (0 until nDocs).flatMap { d =>
      Seq.fill(perDoc)(draw()).distinct.map(sh => (d.toLong, s"sh$sh"))
    }
    val hot = (0 until nDocs).filterNot(_ % 5 == 0)
      .map(d => (d.toLong, "hot boilerplate shingle"))
    (zipf ++ hot).toDF("doc_id", "shingle")
  }

  test("Zipfian corpus: the df cap bounds hot-shingle pair fan-out") {
    import spark.implicits._
    val sh = zipfCorpus(nDocs = 4000, perDoc = 30)
    // the REAL corpus-derived cap (floor 1000 binds at 4000 docs)
    val cap = Dedup.hotShingleCap(sh).as[Long].head()
    assert(cap == 1000L)
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .select("df").as[Long].collect()
    def pairRows(ds: Seq[Long]) = ds.map(df => df * (df - 1) / 2).sum
    val uncapped = pairRows(dfs.toSeq)
    val capped = pairRows(dfs.filter(_ <= cap).toSeq)
    // the blowup is real on this distribution (head ranks + boilerplate
    // each contribute O(df²) ≈ millions of join rows)...
    assert(uncapped > 5L * capped && uncapped > 5000000L,
      s"fixture must exhibit hot-key blowup: uncapped=$uncapped capped=$capped")
    // ...and the capped core's join fan-out is the bounded sum — the
    // real pair chain completes with exactly that many intersection
    // rows feeding the per-pair groupBy (counted via the pre-filter
    // overlap frame: i ranges over co-occurrences).
    val overlaps = Dedup.pairOverlaps(sh, Seq(cap).toDF("cap"), 4000L)
      .agg(sum(col("i")).as("rows")).as[Long].head()
    assert(overlaps == capped,
      s"capped join rows must equal the Σ C(df,2) bound: got $overlaps expected $capped")
  }

  test("Zipfian corpus: cappedShingles skew fence — df window below the cap, " +
      "bounded-hot-set anti-join above, byte-identical") {
    import spark.implicits._
    val sh = zipfCorpus(nDocs = 4000, perDoc = 30)
    val capDf = Seq(1000L).toDF("cap")
    // below the fence: the pinned single-exchange df window (the plan
    // the bench family measures) — no anti-join anywhere
    val below = Dedup.cappedShingles(sh, capDf, 4000L)
    val belowPlan = planString(below)
    assert(belowPlan.contains("Window") && !belowPlan.contains("LeftAnti"),
      s"below the fence the df cap must be the window form:\n$belowPlan")
    // above the fence (seeded nDocs): partial-agg df → bounded hot set
    // → broadcast anti-join; no shingle-partitioned window may remain,
    // and the hot side must broadcast (never shuffle the corpus)
    val above = Dedup.cappedShingles(sh, capDf, graft.T.WindowRankCap + 1)
    val abovePlan = planString(above)
    assert(abovePlan.contains("LeftAnti"),
      s"above the fence hot shingles must drop via anti-join:\n$abovePlan")
    assert(!abovePlan.contains("Window"),
      s"above the fence no df window may buffer hot occurrence lists:\n$abovePlan")
    assert(abovePlan.contains("BroadcastHashJoin") ||
      abovePlan.contains("BroadcastExchange"),
      s"the bounded hot set must broadcast:\n$abovePlan")
    // the Zipfian fixture ENGAGES the branch: hot shingles exist and
    // are genuinely dropped (the boilerplate shingle has df 3200 > cap)
    assert(above.count() < sh.count(),
      "the engaged anti-join must drop the boilerplate occurrences")
    assert(above.exceptAll(below).isEmpty && below.exceptAll(above).isEmpty,
      "cappedShingles branches must be byte-identical across the fence")
  }

  test("Zipfian corpus: skew-lever hierarchy on the real pair core (inline vs materialized)") {
    import spark.implicits._
    // At a production fraction cap (0.1% of a 4M-doc corpus = 4000) a
    // boilerplate shingle with df ≈ 3200 is LEGITIMATELY kept — the df
    // cap doesn't fire. Which lever bounds THAT key?
    //
    // (1) INLINE core: the intersection join inherits the cap window's
    //     (shingle) partitioning AND sort — zero fresh exchange at the
    //     join (the reuse that makes the core cheap), and the df² pair
    //     fan-out is consumed by a same-stage partial agg. Consequence,
    //     asserted here because it is easy to get wrong: AQE's skew
    //     rule CANNOT fire on this join (it only splits a join whose
    //     children are fresh ENSURE_REQUIREMENTS shuffles), so the
    //     per-task bound inline is cap² combos — the cap is the
    //     load-bearing lever, not AQE.
    // NB: skew detection reads COMPRESSED map-output sizes (the hot
    // shingle's repeated 23-byte string compresses ~10×: its ~130KB
    // raw partition registers ~20KB), so the thresholds sit well below
    // the raw partition bytes. maxPartitionBytes is lowered so the
    // shard-written core below reads as one map task PER FILE — see
    // the splittability discussion at (2b).
    val conf = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.files.maxPartitionBytes" -> "4MB",
      "spark.sql.shuffle.partitions" -> "64")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sh = zipfCorpus(nDocs = 4000, perDoc = 10)
      val capDf = Seq(4000L).toDF("cap")
      val inline = planString(Dedup.nearDupPairsFrom(sh, capDf, 4000L))
      // count REAL exchanges only: a ReusedExchange line echoes the
      // original's description, so filter to lines that aren't reuses
      val freshShingleExchanges = inline.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning(shingle") &&
          !l.contains("ReusedExchange")).size
      assert(freshShingleExchanges == 1,
        s"inline core: ONE shared shingle exchange feeds window + both join sides:\n$inline")
      assert(!inline.contains("skew="),
        "inline core: no fresh shuffle at the join, so AQE skew-split " +
          s"cannot (and need not, below cap²) fire:\n$inline")

      // (2) MATERIALIZED core (the s19/static-index production shape):
      //     the capped frame read back from parquet self-joins through
      //     fresh scan→shuffle exchanges, so AQE's skew rule is BACK in
      //     play — but only if the file layout permits it. AQE splits a
      //     skewed reduce partition BY MAP-OUTPUT RANGES, so a hot key
      //     whose rows all come from ONE map task is structurally
      //     unsplittable (observed: "number of skewed partitions: left
      //     0" with the hot partition 5.5× the median).
      //
      // (2a) A core written CLUSTERED BY the join key — the tempting
      //     layout, since the write is free right after the cap window
      //     — puts each hot key in one file → one map task → AQE
      //     detects the skew but cannot split it. Asserted as !skew=
      //     because it is the layout trap for every materialized-core
      //     consumer.
      val tmp = java.nio.file.Files.createTempDirectory("graft-zipf").toString
      val core = Dedup.cappedShingles(sh, capDf, 4000L)
      core.write.mode("overwrite").parquet(s"$tmp/clustered.parquet")
      def selfJoin(path: String) = {
        val capped = spark.read.parquet(path)
        val a = capped.select(col("doc_id").as("da"), col("shingle"))
        val b = capped.select(col("doc_id").as("db"), col("shingle").as("shingle_b"))
        a.join(b, col("shingle") === col("shingle_b") && col("da") < col("db"))
          .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
      }
      val clustered = planString(selfJoin(s"$tmp/clustered.parquet"))
      assert(!clustered.contains("skew="),
        "a key-clustered core write makes every hot key single-map — " +
          s"AQE must NOT have been able to split:\n$clustered")

      // (2b) The same core written in ROUND-ROBIN SHARDS (doc-id order,
      //     the layout the s19 static index and any sharded export
      //     naturally produce): each hot key's rows spread over all
      //     shards → many map tasks → AQE splits the boilerplate
      //     shingle's partition at runtime. THIS is the production
      //     prescription for kept-but-hot keys above cap-sized tasks:
      //     materialize unclustered, let AQE split.
      core.repartition(8).write.mode("overwrite").parquet(s"$tmp/sharded.parquet")
      val sharded = planString(selfJoin(s"$tmp/sharded.parquet"))
      assert(sharded.contains("skew="),
        s"sharded core: AQE should split the boilerplate shingle's partition:\n$sharded")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("q92 drop set equals the symmetric pair view across the shard boundary") {
    import spark.implicits._
    // q92 shares q25's shingle frame, cap, and capped sizes, so an
    // incoming doc must drop iff SOME symmetric near-dup pair (q25)
    // crosses the src1/existing boundary at the same threshold.
    val dropped = SparkEntry.queries("q92_incremental_dedup")(spark, sfDir)
      .filter(col("action") === "drop")
      .select("doc_id").as[Long].collect().toSet
    val src = graft.T.tbl(spark, sfDir, "documents").select("doc_id", "source")
    val pairs = Dedup.nearDupPairs(spark, sfDir)
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
    val expect = pairs.filter(col("sa") === "src1" && col("sb") =!= "src1")
      .select(col("da"))
      .union(pairs.filter(col("sb") === "src1" && col("sa") =!= "src1")
        .select(col("db")))
      .as[Long].collect().toSet
    assert(dropped == expect, s"got $dropped expected $expect")
  }

  test("q112 SemDeDup: cluster-blocked verdicts match the assignTo reference, no cartesian") {
    import spark.implicits._
    val q112 = SparkEntry.queries("q112_semdedup")(spark, sfDir)
    val plan = planString(q112)
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cluster".r
        .findFirstIn(plan).isDefined,
      s"pair join must be an equality join on cluster:\n$plan")
    val got = q112.as[(Long, Boolean, Option[Long])].collect().toSet
    assert(got.exists(!_._2), "q112 should drop at least one vector at test sf")
    assert(got.exists(_._2), "q112 should keep at least one vector at test sf")
    // Independent recomputation: the join+window assignment reference
    // (assignTo — a different implementation of the same argmax than
    // the topk kernels the query rides) + an explicit pair pass.
    val (qv, rows) = Similarity.lloydRowsOf(spark, sfDir)
    val cents = rows.toSeq.toDF("cid", "cs", "cn")
    val assign = Similarity.assignTo(qv, cents, 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("v"), col("nrm"))
    val a = assign.select(col("vec_id").as("va"), col("cluster"),
      col("v").as("av"), col("nrm").as("na"))
    val b = assign.select(col("vec_id").as("vb"), col("cluster").as("cluster_b"),
      col("v").as("bv"), col("nrm").as("nb"))
    val refDrops = a.join(b,
        col("cluster") === col("cluster_b") && col("va") < col("vb"))
      .filter(round(expr("dot_product(av, bv)") / (col("na") * col("nb")), 6)
        >= 0.42)
      .groupBy(col("vb")).agg(min(col("va")).as("keeper"))
      .as[(Long, Long)].collect().toMap
    val ref = assign.select("vec_id").as[Long].collect().toSet
      .map((id: Long) => (id, !refDrops.contains(id), refDrops.get(id)))
    assert(got == ref,
      s"verdicts diverge; got-ref ${got.diff(ref)}, ref-got ${ref.diff(got)}")
  }

  test("q112 on an all-orthogonal corpus keeps everything (keeper NULL throughout)") {
    import spark.implicits._
    // 16 one-hot vectors in 16 dims: every pairwise cosine is exactly
    // 0 < 0.42, whatever the clustering — the no-drop edge must come
    // back all-kept with NULL keepers, not collapse to empty.
    val dim = 16
    val tmp = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    spark.range(dim).select(col("id").as("vec_id"),
        array((0 until dim).map(j =>
          when(col("id") === j, 1.0f).otherwise(0.0f)): _*).as("embedding"),
        (col("id") % 3).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SparkEntry.queries("q112_semdedup")(spark, tmp)
      .as[(Long, Boolean, Option[Long])].collect()
    assert(rows.length == dim)
    assert(rows.forall(r => r._2 && r._3.isEmpty),
      s"orthogonal vectors must all be kept: ${rows.filterNot(_._2).toSeq}")
  }

  test("q113 resolves keeper chains to RETAINED representatives (multi-hop engaged)") {
    import spark.implicits._
    // Engineered transitive chain: 8 orthogonal anchors at ids 0–7
    // (the rank-based Lloyd seeds, so the initial centroid geometry is
    // pinned) plus a 4-vector arc at ids 1000–1003 stepping 50° in the
    // anchor-free (dim 60, dim 61) plane. Adjacent arc cosines
    // ≈ 0.643 ≥ 0.42; skip-one ≈ −0.174 < 0.42 — so each arc vector's
    // only witness is its predecessor, ITSELF dropped: the keeper
    // chain 1000 ← 1001 ← 1002 ← 1003 that q112's witness semantics
    // cannot resolve and q113 must. The arcs score cosine exactly 0
    // against every seed (zero in dims 0–7), so the shared tie-break
    // sends all four to ONE cluster, and recompute keeps them there
    // (positive cosine to the blended centroid, 0 to all others).
    val dim = 64
    val tmp = java.nio.file.Files.createTempDirectory("graft-q113").toString
    val anchors = (0 until 8).map(g =>
      (g.toLong, Array.tabulate(dim)(j => if (j == g) 1.0f else 0.0f), g % 3))
    val arc = Seq(-75.0, -25.0, 25.0, 75.0).zipWithIndex.map { case (deg, i) =>
      val r = math.toRadians(deg)
      val e = Array.fill(dim)(0.0f)
      e(60) = (math.rint(math.cos(r) * 1000) / 1000).toFloat
      e(61) = (math.rint(math.sin(r) * 1000) / 1000).toFloat
      (1000L + i, e, i % 3)
    }
    (anchors ++ arc).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val out = SparkEntry.queries("q113_semdedup_reps")(spark, tmp)
      .as[(Long, Boolean, Option[Long], Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1000L)._2, s"arc base must be kept: ${byId(1000L)}")
    Seq(1001L, 1002L, 1003L).foreach { i =>
      assert(!byId(i)._2 && byId(i)._3.contains(i - 1),
        s"arc $i must be dropped with witness ${i - 1}: ${byId(i)}")
      assert(byId(i)._4 == 1000L,
        s"rep of arc $i must resolve the chain to 1000: ${byId(i)}")
    }
    // the defect q112 documents, actually engaged: a witness that is
    // itself dropped, with rep pointing PAST it
    assert(out.exists(r => !r._2 && !r._3.contains(r._4)),
      "multi-hop resolution must engage on this corpus")
    // frame-wide contract: rep is ALWAYS a retained row; kept rows
    // are their own representative
    val keptIds = out.filter(_._2).map(_._1).toSet
    val badRep = out.filterNot(r => keptIds.contains(r._4))
    assert(badRep.isEmpty, s"rep must be a kept row: ${badRep.take(3).toSeq}")
    assert(out.filter(_._2).forall(r => r._4 == r._1),
      "kept rows must carry rep = vec_id")
    // q113 is q112 plus the rep column — verdict/witness bit-identical
    val q112 = SparkEntry.queries("q112_semdedup")(spark, tmp)
      .as[(Long, Boolean, Option[Long])].collect().toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet == q112,
      "q113's first three columns must equal q112 on the same corpus")
  }

  test("LSH band-width ladder: closed form, every rung pinned, both engines in lockstep") {
    // Round-14: the hand-extended rung list (which silently re-entered
    // the linear-bucket regime past its last rung in rounds 9 AND 13 —
    // the round-13 instance materialized ~400M candidate rows at 1.8M
    // vectors and filled the box's disk) is replaced by the closed
    // form bits = 8 + 2·|{i < 11 : n > 2000·4^i}|. Rung identity to
    // the retired hand ladder on its whole range, plus the new rungs
    // the closed form adds up to the 30-bit BIGINT packing cap:
    val rungs = Seq(
      // the old hand ladder's range — must band IDENTICALLY
      500L -> 8, 2000L -> 8, 2001L -> 10, 8000L -> 10, 8001L -> 12,
      32000L -> 12, 32001L -> 14, 128000L -> 14, 128001L -> 16,
      512000L -> 16, 512001L -> 18, 2048000L -> 18, 2048001L -> 20,
      // the closed form's new range: +2 per 4× n ...
      8192000L -> 20, 8192001L -> 22, 32768001L -> 24, 131072001L -> 26,
      524288001L -> 28, 2097152001L -> 30,
      // ... hard-capped at 30 bits/band (signed-BIGINT packing)
      8388608001L -> 30, Long.MaxValue -> 30)
    rungs.foreach { case (n, want) =>
      assert(Similarity.lshBits(n) == want,
        s"lshBits($n) = ${Similarity.lshBits(n)}, want $want")
    }
    // exhaustive lockstep with the retired hand ladder across every
    // boundary neighborhood it defined — the closed form is a
    // refactor below 8.192M vectors, an extension above
    def handLadder(n: Long): Int =
      8 + (if (n > 2000) 2 else 0) + (if (n > 8000) 2 else 0) +
        (if (n > 32000) 2 else 0) + (if (n > 128000) 2 else 0) +
        (if (n > 512000) 2 else 0) + (if (n > 2048000) 2 else 0)
    Seq(2000L, 8000L, 32000L, 128000L, 512000L, 2048000L, 8192000L)
      .flatMap(t => Seq(t - 1, t, t + 1)).filter(_ <= 8192000L)
      .foreach(n => assert(Similarity.lshBits(n) == handLadder(n),
        s"closed form diverges from the retired ladder at n=$n"))
    // the oracle's bw CTE must carry the SAME closed form (integer
    // shift thresholds over generate_series, not CASE WHEN rungs)
    val sql = SparkEntry.oracleSql("q53_ann_lsh")
    assert(sql.contains("8 + 2 * count(*) AS bits"),
      "oracle bw CTE no longer computes the closed-form bit count")
    assert(sql.contains("generate_series(0, 10) g(i)"),
      "oracle bw CTE's rung range must stop at i=10 (the 30-bit cap)")
    assert(sql.contains("2000 * (1::BIGINT << (2 * i))"),
      "oracle bw CTE must use the exact 2000·4^i integer-shift threshold")
    // and only the 2·bits planes in use are evaluated oracle-side too
    assert(sql.contains("WHERE j < 2 * bits"),
      "oracle planes CTE must restrict to the planes in use")
  }

  test("LSH banding engages the 16-bit rung past 128k vectors (plan-level)") {
    // 130,001 vectors (> the new 128k rung): the band extraction
    // expressions carry the ladder value as a baked literal
    // (shiftright(sg, b * bits)), so the optimized plan proves which
    // rung engaged without executing the 130k-signature build. The
    // DENSITY consequence is the measured sf90 record in BASELINE.md:
    // under the 14-bit cap the 1.8M-vector q57 candidate shuffle
    // materialized ~400M vector-carrying rows and exhausted the box's
    // disk; under the extended ladder (18 bits there) it completes.
    val n = 130001L
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshladder").toString
    spark.range(n).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          ((pmod(xxhash64(col("id"), lit(j)), lit(997L)) + 1)
            .cast("double") / lit(998.0)) - lit(0.5)): _*)
          .cast("array<float>").as("embedding"),
        (col("id") % 5).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val q57 = SparkEntry.queries("q57_ann_lsh_all")(spark, tmp)
    val plan = q57.queryExecution.optimizedPlan.toString
    // anchor to the band-value extraction itself (shiftright of the
    // packed signature by b·bits), not a bare "* 16" literal that any
    // unrelated multiply could satisfy (round-13 ADVICE)
    def bandExtract(bits: Int) =
      raw"shiftright\(sg#\d+L?, \(b#\d+L? \* $bits\)\)".r
    assert(bandExtract(16).findFirstIn(plan).isDefined,
      s"130k vectors must band at 16 bits; optimized plan:\n${plan.take(4000)}")
    // and the reference corpus (500 vectors, below every extension
    // rung) still bands at 8 bits — the ladder's base is untouched
    val q57base = SparkEntry.queries("q57_ann_lsh_all")(spark, sfDir)
    val basePlan = q57base.queryExecution.optimizedPlan.toString
    assert(bandExtract(8).findFirstIn(basePlan).isDefined,
      s"sf0.001 must still band at 8 bits:\n${basePlan.take(4000)}")
  }

  test("giant-cluster pair grid: sliced join ≡ plain self-join, normal clusters untouched") {
    // AQE's skew split keys on partition INPUT bytes and cannot see an
    // output-explosive self-join (a 30k-member duplicate cluster reads
    // ~17 MB and then evaluates 4.5×10⁸ pairs in one task — measured,
    // BASELINE round 14). clusterPairs grid-slices clusters past
    // GiantClusterCap; this proves the slicing VALUE-IDENTICAL to the
    // plain join on a synthetic assign frame that actually crosses the
    // cap, which no clean test corpus does.
    val n = 5500L // cluster 0: 5000 members (> GiantClusterCap = 4096)
    val assign = spark.range(n).select(
      col("id").as("vec_id"),
      when(col("id") < 5000L, 0L).otherwise(pmod(col("id"), lit(7L)) + 1L)
        .as("cluster"),
      array((0 until 8).map(j =>
        (pmod(xxhash64(col("id"), lit(j)), lit(41L)) - 20L)
          .cast("double")): _*).as("v"))
      .withColumn("nrm",
        sqrt(expr("aggregate(v, 0D, (a, x) -> a + x * x)")))
      .filter(col("nrm") > 0)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("va"), col("vb")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = assign.select(col("vec_id").as("va"), col("cluster"),
      col("v").as("av"), col("nrm").as("na"))
    val b = assign.select(col("vec_id").as("vb"),
      col("cluster").as("cluster_b"), col("v").as("bv"),
      col("nrm").as("nb"))
    // plain reference restricted to a SAMPLE of the giant cluster (the
    // full 12.5M-pair collect would dwarf the test) plus ALL normal
    // clusters: slice equivalence is per-pair, so a deterministic
    // va-stripe of the giant cluster exercises every grid coordinate
    // giant-cluster pairs are exactly those with vb < 5000 (both ends
    // in cluster 0 — clusterPairs' output carries no cluster column)
    val keep = col("vb") >= 5000L || col("va") % 97 === 0 ||
      col("va") > 4950L
    val plain = a.join(b,
      col("cluster") === col("cluster_b") && col("va") < col("vb"))
    // census passed explicitly (the engine memoizes it driver-side
    // per corpus): cluster 0 holds 5000 members > GiantClusterCap
    val sliced = Similarity.clusterPairs(assign, Array((0L, 5000L)))
    assert(pairSet(sliced.filter(keep)) == pairSet(plain.filter(keep)),
      "sliced pair set diverges from the plain self-join")
    // and with NO giants the emitted plan is the plain join itself —
    // zero overhead for the healthy case
    val noGiants = Similarity.clusterPairs(assign, Array.empty)
    assert(!noGiants.queryExecution.optimizedPlan.toString.contains("Union"),
      "empty census must emit the plain self-join, no union")
    // and the counts agree in FULL (cheap aggregate, no collect)
    assert(sliced.count() == plain.count(),
      "sliced pair COUNT diverges from the plain self-join")
    // the grid actually engaged: the plan carries the slice explode
    val plan = sliced.queryExecution.optimizedPlan.toString
    assert(plan.contains("Union") && plan.contains("sequence"),
      s"giant path must engage past the cap:\n${plan.take(3000)}")
  }

  test("giant MinHash bucket: sliced (band, sig) join ≡ plain, empty census ≡ plain plan") {
    // the text-family twin of the cluster grid: a mega-group of
    // identical documents shares every band signature, so one
    // (band, sig) bucket carries the whole c² fan-out. Synthetic
    // banded-signature frame: bucket ("x") holds 5000 members, seven
    // normal buckets hold the rest.
    // two bands per doc (the bandedPairs prev contract): band 0 is
    // the bucketed band above; band 1 gives every doc a UNIQUE value
    // so it adds no pairs but exercises the first-agreeing-band
    // predicate's prev arrays on the giant path
    val sigs = spark.range(5500L).select(
        col("id").as("doc_id"),
        when(col("id") < 5000L, lit("x"))
          .otherwise(concat(lit("t"), pmod(col("id"), lit(7L)))).as("s0"))
      .select(col("doc_id"), col("s0"),
        posexplode(array(col("s0"), concat(lit("u"), col("doc_id"))))
          .as(Seq("band", "sig")))
      .withColumn("prev",
        when(col("band") === 0, array().cast("array<string>"))
          .otherwise(array(col("s0"))))
      .drop("s0")
    val a = sigs.select(col("doc_id").as("da"), col("band"), col("sig"))
    val b = sigs.select(col("doc_id").as("db"), col("band").as("band_b"),
      col("sig").as("sig_b"))
    val plain = a.join(b,
      col("band") === col("band_b") && col("sig") === col("sig_b") &&
        col("da") < col("db")).select(col("da"), col("db"))
    val sliced = Dedup.bandedPairs(sigs, Array((0, "x", 5000L)))
    assert(sliced.count() == plain.count(),
      "sliced (band, sig) pair count diverges from the plain join")
    // per-pair identity on a deterministic stripe + all normal buckets
    val keep = col("db") >= 5000L || col("da") % 97 === 0 || col("da") > 4950L
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.filter(keep).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps(sliced) == ps(plain),
      "sliced (band, sig) pair set diverges from the plain join")
    // empty census ⇒ the plain join plan itself (no union)
    val noGiants = Dedup.bandedPairs(sigs, Array.empty)
    assert(!noGiants.queryExecution.optimizedPlan.toString.contains("Union"),
      "empty census must emit the plain join, no union")
  }

  test("first-agreeing-band emission ≡ any-band distinct; output distinct by construction") {
    import spark.implicits._
    import graft.functions.MinHashLsh
    // Duplicate-heavy corpus exercising every agreement shape:
    // two identical groups (agree in EVERY band — the shape whose
    // cross-band copies the old pair distinct() had to collapse),
    // a near-dup run (shared prefix + per-doc suffix token — agree in
    // SOME bands), and a unique tail (no agreements).
    val docs = ((0 until 40).map(i => (i.toLong,
        "alpha beta gamma delta epsilon zeta eta theta")) ++
      (40 until 70).map(i => (i.toLong,
        "one two three four five six seven eight nine")) ++
      (70 until 100).map(i => (i.toLong,
        s"red green blue cyan magenta yellow black white tail$i")) ++
      (100 until 300).map(i => (i.toLong,
        s"u${i}a u${i}b u${i}c u${i}d u${i}e"))).toDF("doc_id", "text")

    // classic formulation: any-band join + pair-sized distinct
    val s3 = MinHashLsh.bandSignatures(docs, lit(4))
    val anyBand = s3.select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(s3.select(col("doc_id").as("db"), col("band").as("band_b"),
        col("sig").as("sig_b")),
        col("band") === col("band_b") && col("sig") === col("sig_b") &&
          col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(anyBand.size >= 40 * 39 / 2 + 30 * 29 / 2,
      s"corpus must be duplicate-heavy, got ${anyBand.size} pairs")

    // first-band formulation, plain path: same SET, and NO duplicate
    // rows without any distinct (each pair survives exactly one band)
    val sigs = MinHashLsh.bandSignaturesPrev(docs, lit(4))
    val fb = Dedup.bandedPairs(sigs, Array.empty)
    val fbRows = fb.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fbRows.toSet == anyBand,
      "first-band pair set diverges from the any-band distinct")
    assert(fbRows.length == fbRows.toSet.size,
      "first-band output must be duplicate-free by construction")

    // giant path (census catches both identical groups): same set,
    // still duplicate-free across the plain∪sliced union
    val census = sigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 25)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(census.nonEmpty, "both identical groups must census as giants")
    val fg = Dedup.bandedPairs(sigs, census)
    val fgRows = fg.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fgRows.toSet == anyBand && fgRows.length == fgRows.toSet.size,
      "giant-path first-band emission must match and stay duplicate-free")

    // mh-carrying variant (the q88 row-local-estimate contract): same
    // pair set on BOTH paths, and the carried vectors are exactly
    // minhashArray's per doc — including through the giant grid join
    // (no sf corpus engages it, so this is its withMh coverage)
    val mhRef = MinHashLsh.minhashArray(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigsMh = MinHashLsh.bandSignaturesPrev(docs, lit(4), withMh = true)
    for ((g, label) <- Seq(
        (Array.empty[(Int, String, Long)], "plain"), (census, "giant"))) {
      val rows = Dedup.bandedPairs(sigsMh, g, withMh = true).collect()
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSet == anyBand && pairs.length == pairs.toSet.size,
        s"$label withMh pair emission diverges from the plain variant")
      assert(rows.forall(r => r.getSeq[Long](2) == mhRef(r.getLong(0)) &&
          r.getSeq[Long](3) == mhRef(r.getLong(1))),
        s"$label withMh rows must carry minhashArray's vectors")
    }
  }

  test("functionalRoots round count is exactly ceil(log2 depth)+1 — halving, not hopping") {
    // The q113 keeper-chain resolver must take logarithmic rounds on
    // deep chains (one-hop propagation would silently pass the value
    // checks at 30x the rounds). Depth D chain: after k halving
    // rounds every pointer spans 2^k hops, so ceil(log2 D) productive
    // rounds + the final zero-change observation round.
    import spark.implicits._
    for (depth <- Seq(2, 5, 7, 32, 300)) {
      val chain = (1 to depth).map(i => (i.toLong, i - 1L))
        .toDF("node", "parent")
      val (roots, rounds) =
        graft.scale.Scale.functionalRootsCounted(chain)
      val want = (math.log(depth) / math.log(2)).ceil.toInt + 1
      assert(rounds == want,
        s"depth $depth: observed $rounds rounds, want $want")
      assert(roots.filter(col("root") =!= 0L).count() == 0,
        s"depth $depth: some node failed to resolve to the root")
    }
  }

  test("lshCandidates plan: no pair-sized dedup aggregate; signature fold evaluated once") {
    // The q28 candidate core must carry NO aggregate at all — the old
    // shape's distinct() planned a pair-sized HashAggregate exchange
    // (the ~128 GB spill in MinHashSkewBench's AFTER record).
    val cand = Dedup.lshCandidates(spark, sfDir)
    assert(!planString(cand).contains("HashAggregate"),
      s"candidate core must have no dedup aggregate:\n${planString(cand).take(2000)}")
    // and bandSignaturesPrev's carry column must not re-evaluate the
    // minhash fold (the CollapseProject trap in the bandSignatures
    // scaladoc): the md5 shingle hash appears exactly as often in the
    // optimized plan as the non-carrying variant's. (A parquet-backed
    // input — a driver-local Seq constant-folds to a LocalRelation and
    // the fold vanishes from the plan entirely.)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def md5Count(df: org.apache.spark.sql.DataFrame): Int =
      "md5".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    val prev = md5Count(graft.functions.MinHashLsh.bandSignaturesPrev(docs))
    val base = md5Count(graft.functions.MinHashLsh.bandSignatures(docs))
    assert(base >= 1, "plan check lost the fold entirely")
    assert(prev == base,
      s"prev-carrying variant re-evaluates the fold: $prev vs $base md5 sites")
    // the q88 variant carries the raw accumulator too (withMh) — same
    // single-fold law, and the emitted mh column must BE minhashArray's
    // vector (the row-local estimate's correctness rests on it)
    val withMh = md5Count(graft.functions.MinHashLsh.bandSignaturesPrev(
      docs, lit(4), withMh = true))
    assert(withMh == base,
      s"mh-carrying variant re-evaluates the fold: $withMh vs $base md5 sites")
    val mhRows = graft.functions.MinHashLsh.bandSignaturesPrev(
        docs, lit(4), withMh = true)
      .filter(col("band") === 0).select(col("doc_id"), col("mh"))
    val mhRef = graft.functions.MinHashLsh.minhashArray(docs)
    assert(mhRows.exceptAll(mhRef).isEmpty && mhRef.exceptAll(mhRows).isEmpty,
      "withMh rows must carry exactly minhashArray's vector")
  }
}
