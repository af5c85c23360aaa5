package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-shape proofs for the round-3 queries — the invariants PLANS.md
  * claims, asserted against EXECUTED post-AQE plans (where runtime
  * join selection actually shows up), extending the
  * DedupScaleSpec/ScaleSpec discipline to the new inventory. */
class PlanShapeSpec extends SparkSpec {

  test("q64 star join: every dim joins broadcast-hash, fact never cartesians") {
    val plan = planString(SparkEntry.queries("q64_star_join_revenue")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"star join must be equi-joins:\n$plan")
    // orders/customer/supplier/nation/region all broadcast at test sf —
    // the fact side is never shuffled for a join.
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 5,
      s"expected all 5 dims broadcast-hash joined:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no dim should fall back to a shuffle join at test sf:\n$plan")
  }

  test("q81 TWAP: lead() window and the groupBy share ONE (event_type, day) exchange") {
    // The scaladoc claims the whole query costs one corpus exchange —
    // the window's sort-partition doubles as the aggregation's
    // distribution. BENCH r4 measured q81 at 9x its BenchOne minimum
    // under co-tenant load, so the claim is now ASSERTED, not trusted:
    // if an edit ever splits the keys, this fails before the bench does.
    val plan = planString(SparkEntry.queries("q81_twap")(spark, sfDir))
    assert("hashpartitioning\\(event_type".r.findAllIn(plan).size == 1,
      s"window and groupBy must ride the same (event_type, day) exchange:\n$plan")
  }

  test("q65 pricing summary: the shipdate filter reaches the parquet scan") {
    val plan = planString(SparkEntry.queries("q65_pricing_summary")(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate predicate must be pushed to the scan:\n$plan")
  }

  test("q101 ship priority: date filters pushed to both fact scans, top-10 never global-sorts") {
    val plan = planString(SparkEntry.queries("q101_ship_priority")(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date predicate must reach the scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders date predicate must reach the scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must ride TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"equi-joins only:\n$plan")
  }

  test("q102 supplier diversity: dims broadcast (incl. the denylist anti-join), fact moves once") {
    val plan = planString(SparkEntry.queries("q102_supplier_diversity")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"part and the supplier denylist must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("q58 decontamination: eval semijoin broadcasts, corpus never shuffles on shingle") {
    val plan = planString(SparkEntry.queries("q58_decontaminate")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the eval shingle set must broadcast:\n$plan")
    // The ONLY shingle-keyed exchange allowed is the EVAL side's
    // distinct (small by design); the corpus side must reach the join
    // as the broadcast probe side, never shuffled on shingle.
    assert(!plan.contains("SortMergeJoin") &&
      "hashpartitioning\\(shingle".r.findAllIn(plan).size <= 1,
      s"corpus side must not shuffle on shingle (eval distinct only):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no pair blowup:\n$plan")
  }

  test("q60/q63: corpus-scan queries add no corpus shuffle beyond the contract") {
    // q60: broadcast of per-stratum counts; the corpus side's only
    // exchange is the final oracle-parity sort.
    val p60 = planString(SparkEntry.queries("q60_stratified_sample")(spark, sfDir))
    assert(p60.contains("BroadcastHashJoin") && !p60.contains("SortMergeJoin"),
      s"per-stratum counts must broadcast:\n$p60")
    // q63: exactly the per-stratum window's hash partitioning on lang
    // (plus the final sort) — no global single-partition window.
    val p63 = planString(SparkEntry.queries("q63_shard_pack")(spark, sfDir))
    assert(p63.contains("hashpartitioning(lang"),
      s"shard packing must window per-stratum:\n$p63")
    assert(!"SinglePartition".r.findFirstIn(
        p63.replaceAll("rangepartitioning[^)]*\\)", "")).isDefined,
      s"no global single-partition pass:\n$p63")
  }

  test("q69 repetition ratio: row-local array HOFs, no join, sort pinned") {
    val plan = planString(SparkEntry.queries("q69_repetition_ratio")(spark, sfDir))
    assert(!plan.contains("Join"), s"repetition signals must not join:\n$plan")
    // pinnedSort shape: exactly the slim (doc_id) pin under the
    // output-parity range sort — the shuffle-free HOF lineage must
    // not re-run under the sort's sampling job, and nothing else may
    // hash-exchange the corpus.
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).size == 1 &&
        plan.contains("rangepartitioning"),
      s"expected the pinnedSort (doc_id) pin + range sort only:\n$plan")
    assert(!plan.contains("Generate"),
      s"array HOFs, not explode — no row blowup:\n$plan")
  }

  test("q21/q36 map-only passes: sort pinned, corpus parsed/hashed once") {
    // same pinnedSort discipline as q69/q85: the JSON-parse (q21) and
    // text-hash (q36) lineages are shuffle-free, so the slim pin is
    // the only hash exchange and the sampling job re-reads it instead
    // of re-running the corpus pass.
    val p21 = planString(SparkEntry.queries("q21_json_extract")(spark, sfDir))
    assert(!p21.contains("Join") &&
        "hashpartitioning\\(event_id".r.findAllIn(p21).size == 1 &&
        p21.contains("rangepartitioning"),
      s"expected the pinnedSort (event_id) pin + range sort only:\n$p21")
    val p36 = planString(SparkEntry.queries("q36_multimodal_features")(spark, sfDir))
    assert(!p36.contains("Join") &&
        "hashpartitioning\\(doc_id".r.findAllIn(p36).size == 1 &&
        p36.contains("rangepartitioning"),
      s"expected the pinnedSort (doc_id) pin + range sort only:\n$p36")
    val p34 = planString(SparkEntry.queries("q34_token_count")(spark, sfDir))
    assert(!p34.contains("Join") &&
        "hashpartitioning\\(doc_id".r.findAllIn(p34).size == 1 &&
        p34.contains("rangepartitioning"),
      s"expected the pinnedSort (doc_id) pin + range sort only:\n$p34")
  }

  test("q71 chunk windows: row-local explode, only the oracle-parity sort shuffles") {
    val plan = planString(SparkEntry.queries("q71_chunk_windows")(spark, sfDir))
    assert(!plan.contains("Join"), s"chunking must not join:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"chunking is row-local — the final rangepartitioning sort is the only exchange:\n$plan")
  }

  test("q72 span dedup: one partial-agg groupBy on span, no join, no per-span sort window") {
    val plan = planString(SparkEntry.queries("q72_span_dedup")(spark, sfDir))
    assert(!plan.contains("Join"), s"span dedup is a pure groupBy:\n$plan")
    assert(!plan.contains("Window"),
      s"keeper argmin is a packed-BIGINT min, not a sort window:\n$plan")
    assert("hashpartitioning\\(span".r.findAllIn(plan).size == 1,
      s"exactly the span groupBy exchange:\n$plan")
  }

  test("q73 source mixture: corpus side is one partial agg; the global window sees only the grouped table") {
    val plan = planString(SparkEntry.queries("q73_source_mixture")(spark, sfDir))
    assert(!plan.contains("Join"), s"mixture table needs no join:\n$plan")
    // The single-partition exchange must sit ABOVE the aggregate
    // (grouped rows = sources × langs), never below it on the corpus.
    val idxAgg = plan.indexOf("HashAggregate")
    val idxSingle = plan.indexOf("SinglePartition")
    assert(idxSingle >= 0 && idxAgg >= 0 && idxSingle < idxAgg,
      s"global-share window must run over the aggregated table only:\n$plan")
  }

  test("q74 shuffle shard: scalar broadcasts, one shard exchange, no global sort before positions") {
    val plan = planString(SparkEntry.queries("q74_shuffle_shard")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the shard-count scalar attaches by broadcast hash join:\n$plan")
    assert("hashpartitioning\\(shard_id".r.findAllIn(plan).size == 1,
      s"positions are per-shard local sorts off ONE shard exchange:\n$plan")
  }

  test("q76 embed quantize: fully row-local — no join, no exchange but the output sort") {
    val plan = planString(SparkEntry.queries("q76_embed_quantize")(spark, sfDir))
    assert(!plan.contains("Join"), s"quantization is per-vector:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"codes + MSE fold are array HOFs — only the parity sort exchanges:\n$plan")
  }

  test("q77 token entropy: two chained partial aggs, no join") {
    val plan = planString(SparkEntry.queries("q77_token_entropy")(spark, sfDir))
    assert(!plan.contains("Join"), s"entropy needs no join:\n$plan")
    assert(!plan.contains("Window"), s"entropy needs no window:\n$plan")
  }

  test("q78 event funnel: one user exchange feeds all three windows, no join") {
    val plan = planString(SparkEntry.queries("q78_event_funnel")(spark, sfDir))
    assert(!plan.contains("Join"), s"the funnel chains windows, not self-joins:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"all three MIN-CASE windows must reuse ONE user_id exchange:\n$plan")
  }

  test("q79 length outliers: per-lang bounds broadcast back, window sees only the counts frame") {
    val plan = planString(SparkEntry.queries("q79_length_outliers")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the one-row-per-lang bounds table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no pair blowup:\n$plan")
  }

  test("q80 dup-by-source: membership rollup adds no corpus shuffle beyond the pair build") {
    val plan = planString(SparkEntry.queries("q80_dup_by_source")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"membership must stay keyed, never all-pairs:\n$plan")
    // the per-source rollups are partial aggs on the (doc_id, source)
    // projection — at most the semi-join + two source exchanges beyond
    // the shared q25 pair computation.
    assert(plan.contains("LeftSemi"), s"dup membership is a semi-join:\n$plan")
  }

  test("q75 unigram surprisal: vocabulary broadcasts onto tf, no shuffle join on tok") {
    val plan = planString(SparkEntry.queries("q75_unigram_surprisal")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab must broadcast (q46's df pattern):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the corpus-sized tf frame must never shuffle for a join:\n$plan")
    // vocab and N re-aggregate the tf subtree: the corpus is scanned
    // and exploded once, the derived aggregates ride ReusedExchange.
    assert(plan.contains("ReusedExchange"),
      s"vocab/N must reuse tf's exchange, not re-scan the corpus:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 1,
      s"exactly one explode pipeline over the corpus:\n$plan")
  }

  /** Round-16: q46's docLen is DERIVED from the tf frame (len = Σ tf
    * per doc) instead of re-aggregating the exploded token frame — the
    * old doc_id-keyed exchange could never reuse tf's (doc_id, tok)
    * exchange, so it re-ran the corpus explode. Two residual explodes
    * are documented and deliberate: the df subtree's scan lacks the
    * probe side's inferred IsNotNull(doc_id) pushdown (so the
    * exchanges are not canonical — aligning them would mean filtering
    * null doc_ids out of df's counts, a value change if such rows ever
    * exist), and countDistinct(doc_id) is collapsed past tf by
    * RemoveRedundantAggregates into its own distinct-over-explode. */
  test("q46 tfidf: docLen re-aggregates tf via ReusedExchange; at most 3 corpus explodes") {
    val plan = planString(SparkEntry.queries("q46_tfidf")(spark, sfDir))
    assert(plan.contains("ReusedExchange"),
      s"docLen must reuse tf's exchange, not re-scan the corpus:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 3,
      s"explode pipelines bounded (tf + df + the collapsed n):\n$plan")
  }

  test("q96 perplexity buckets: q75's shared chain + one global ntile over scored longs") {
    val plan = planString(SparkEntry.queries("q96_perplexity_buckets")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q96 adds no corpus-shuffling join on top of q75:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"vocab/N must reuse tf's exchange, not re-scan the corpus:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 1,
      s"exactly one explode pipeline over the corpus:\n$plan")
  }

  test("q81 twap: window and aggregation share ONE (event_type, day) exchange") {
    val plan = planString(SparkEntry.queries("q81_twap")(spark, sfDir))
    assert(!plan.contains("Join"), s"twap is a window + groupBy, no join:\n$plan")
    assert("hashpartitioning\\(event_type".r.findAllIn(plan).size == 1,
      s"the lead() window's partitioning must satisfy the groupBy — one exchange:\n$plan")
  }

  test("q82 zscore: per-type stats broadcast back, events never shuffle for the join") {
    val plan = planString(SparkEntry.queries("q82_zscore_anomaly")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the O(types) stats frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no pair blowup:\n$plan")
  }

  test("q83 containment: keyed shingle join only — no cartesian, no BNLJ") {
    val plan = planString(SparkEntry.queries("q83_containment_dedup")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment pairs come from the shingle-equality join:\n$plan")
  }

  test("q84 bloom decontaminate: bloom builds as an object agg, confirm join broadcasts") {
    val plan = planString(SparkEntry.queries("q84_bloom_decontaminate")(spark, sfDir))
    assert(plan.contains("bloom_filter_agg"),
      s"the eval grams must fold into Spark's bloom aggregate:\n$plan")
    assert(plan.contains("might_contain"),
      s"the corpus gram stream must be pre-gated by the bloom probe:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the exact-confirm join against eval hashes must broadcast:\n$plan")
    // The corpus side must never shuffle on the gram hash. Eval-side
    // exchanges on h (its distinct + the bloom build) are fine — that
    // side is benchmark-sized by design. Identify corpus-rooted
    // exchanges by their subtree's pushed-down `source <> 'src0'`
    // scan filter; they may only be the post-confirm doc_id partial
    // agg and the parity sort — both over the matched sliver.
    val df = SparkEntry.queries("q84_bloom_decontaminate")(spark, sfDir)
    val exec = executedPlan(df)
    val corpusExchanges = allPlanNodes(exec).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if allPlanNodes(e).exists(_.toString.contains("NOT (source")) =>
        e.outputPartitioning.toString
    }
    assert(corpusExchanges.nonEmpty, s"corpus subtree not found in:\n$plan")
    assert(corpusExchanges.forall(p =>
        p.contains("doc_id") || p.contains("rangepartitioning")),
      s"corpus-rooted exchanges must be post-confirm only, got: $corpusExchanges\n$plan")
  }

  test("q85 normalize audit: row-local string work, no join, sort pinned") {
    val plan = planString(SparkEntry.queries("q85_normalize_audit")(spark, sfDir))
    assert(!plan.contains("Join"), s"normalization is per-document:\n$plan")
    // pinnedSort shape (see q69): one slim (doc_id) pin + the range
    // sort; the regex+md5 lineage must not sit shuffle-free under the
    // sort's sampling job (that ran the chain twice — 2× at sf1).
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).size == 1 &&
        plan.contains("rangepartitioning"),
      s"expected the pinnedSort (doc_id) pin + range sort only:\n$plan")
  }

  test("q86 label centroids: one partial-agg exchange of labels×dims rows, no join") {
    val plan = planString(SparkEntry.queries("q86_label_centroids")(spark, sfDir))
    assert(!plan.contains("Join"), s"centroids are a pure aggregation:\n$plan")
    assert("hashpartitioning\\(label".r.findAllIn(plan).size == 1,
      s"exactly the (label, dim) partial-agg exchange:\n$plan")
    assert(plan.contains("partial_"),
      s"per-dim sums must combine map-side:\n$plan")
  }

  test("q87 domain cap: ranking window sees scored rows off one source exchange") {
    val plan = planString(SparkEntry.queries("q87_domain_cap")(spark, sfDir))
    assert("hashpartitioning\\(source".r.findAllIn(plan).size == 1,
      s"one per-source ranking exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no pair blowup:\n$plan")
  }

  test("q88 minhash estimate: candidate-keyed joins only, no cartesian") {
    val plan = planString(SparkEntry.queries("q88_minhash_estimate")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"estimate attaches by doc_id-keyed joins:\n$plan")
  }

  test("q89 rolling corr: one corpus agg, windows over the daily frame only, no join") {
    val plan = planString(SparkEntry.queries("q89_rolling_corr")(spark, sfDir))
    assert(!plan.contains("Join"), s"moments come from one conditional agg:\n$plan")
    assert("hashpartitioning\\(day_num".r.findAllIn(plan).size == 1,
      s"exactly the daily partial-agg exchange touches event-scale data:\n$plan")
  }

  test("q90 vocab coverage: corpus work is the token agg; scalar broadcasts") {
    val plan = planString(SparkEntry.queries("q90_vocab_coverage")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the total-mass scalar attaches by broadcast:\n$plan")
    assert("hashpartitioning\\(tok".r.findAllIn(plan).size <= 2,
      s"only the vocab partial agg (+ scalar reuse) exchanges on tok:\n$plan")
    // The ranking window must run over the AGGREGATED vocabulary
    // (O(vocab) rows, the q73 small-table-window discipline), never
    // corpus token occurrences. At a 100M-type vocab this exact rank
    // swaps for q61-style count binning (PLANS.md) — the window input
    // must stay the grouped frame for that fence to mean anything.
    assertWindowsOverAggregates("q90_vocab_coverage")
  }

  /** Round 10: q90's frequency rank over the aggregated vocab rides
    * the WindowRankCap fence keyed on the memoized vocab count — the
    * last corpus-growing frame that still funneled through one window
    * task. Seeding the vocab scalar past the cap on byte-identical
    * corpus bytes must flip the rank to T.distRank's range-exchange
    * form while leaving the three coverage rows identical; the
    * remaining cumsum window runs over ≤1000 rank-filtered rows
    * (constant-bounded) on BOTH sides of the fence. */
  test("q90 fence: vocab rank flips to distRank past WindowRankCap, identical rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q90fence").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.T.snapScalar(tmp, "vocab:documents")(graft.T.WindowRankCap + 1)
    val below = planString(SparkEntry.queries("q90_vocab_coverage")(spark, sfDir))
    assert(!below.contains("Exchange rangepartitioning"),
      s"below the cap the vocab rank must be a plain window:\n$below")
    val aboveDf = SparkEntry.queries("q90_vocab_coverage")(spark, tmp)
    val above = planString(aboveDf)
    assert(above.contains("Exchange rangepartitioning"),
      s"above the cap the vocab rank must be the distributed form:\n$above")
    val a = SparkEntry.queries("q90_vocab_coverage")(spark, sfDir).collect().toSeq
    val b = aboveDf.collect().toSeq
    assert(a == b, "q90 results changed across the fence flip")
  }

  test("q91 source overlap: gram stream built once, keyed join, no cartesian") {
    val plan = planString(SparkEntry.queries("q91_source_overlap")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair counts come from the h-equality join:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 1,
      s"one gram pipeline over the corpus, reused for both join sides:\n$plan")
  }

  test("q98 pmi: row-local pair build, vocab broadcasts back, no position self-join") {
    val plan = planString(SparkEntry.queries("q98_pmi_cooccur")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unigram counts must broadcast; pairs must not come from a join:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 2,
      s"one pair explode + one unigram explode, nothing more:\n$plan")
  }

  test("q99 temporal holdout: day cutoff broadcasts, user rollup is the only corpus exchange") {
    val plan = planString(SparkEntry.queries("q99_temporal_holdout")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the cutoff scalar must broadcast:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"exactly the per-user partial agg touches event-scale data:\n$plan")
  }

  test("q100 dataset card: keyed joins of card-sized aggregates only, never all-pairs") {
    val plan = planString(SparkEntry.queries("q100_dataset_card")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the card composes per-source partial aggs by equality joins:\n$plan")
  }

  test("q110 event transitions: one user exchange feeds the lead window, rollup is types²") {
    val plan = planString(SparkEntry.queries("q110_event_transitions")(spark, sfDir))
    assert(!plan.contains("Join"), s"bigrams come from lead(), not a self-join:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"exactly one user exchange touches event-scale data:\n$plan")
  }

  test("q33 quality: row-local HOF scoring — no aggregation, sort pinned") {
    val plan = planString(SparkEntry.queries("q33_quality_score")(spark, sfDir))
    assert(!plan.contains("HashAggregate"),
      s"per-doc stats are array HOFs, not explode+groupBy:\n$plan")
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).size == 1 &&
        plan.contains("rangepartitioning"),
      s"expected the pinnedSort (doc_id) pin + range sort only:\n$plan")
  }

  test("q107 langid confusion: rides q32's broadcast-affinity chain, no corpus shuffle join") {
    val plan = planString(SparkEntry.queries("q107_langid_confusion")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"the affinity table must broadcast (q32's shape):\n$plan")
  }

  test("q106 hard negatives: candidates ride the banded equality join, no cartesian") {
    val plan = planString(SparkEntry.queries("q106_hard_negatives")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay the (b, bv) equality join:\n$plan")
  }

  test("q104 retention cohorts: cohort attaches via the user window, no join") {
    val plan = planString(SparkEntry.queries("q104_retention_cohorts")(spark, sfDir))
    assert(!plan.contains("Join"), s"the cohort day is a window MIN, not a join-back:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"exactly one user exchange feeds window + rollup:\n$plan")
  }

  test("q103 count-min audit: sketch cells broadcast onto the probe, no shuffle join") {
    val plan = planString(SparkEntry.queries("q103_countmin_audit")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the 4096-cell table must broadcast onto the 20-row probe:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected a broadcast probe join:\n$plan")
    // round 10: the heavy-hitter top-20 is orderBy+limit →
    // TakeOrderedAndProject (per-partition top-k + driver merge, the
    // q62 shape) — never a global single-partition row_number sort of
    // the corpus-growing vocab
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must ride TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Window"),
      s"no rank window may touch the vocab:\n$plan")
  }

  /** Asserts every window in the query's EXECUTED plan runs over an
    * aggregated frame — a HashAggregate sits beneath it (walking
    * through AQE stage boundaries), so the single-partition rank pass
    * touches grouped rows (O(vocab)/O(groups)), never the corpus.
    * The string-position idiom (SinglePartition before HashAggregate
    * in the plan text) breaks when AQE's ResultQueryStage hides the
    * exchange text inside a materialized stage leaf. */
  private def assertWindowsOverAggregates(name: String): Unit = {
    val exec = executedPlan(SparkEntry.queries(name)(spark, sfDir))
    val windows = allPlanNodes(exec)
      .filter(_.getClass.getSimpleName.startsWith("Window"))
    assert(windows.nonEmpty, s"$name: expected a window in:\n$exec")
    windows.foreach { w =>
      assert(allPlanNodes(w).drop(1)
          .exists(_.getClass.getSimpleName.startsWith("HashAggregate")),
        s"$name: window must run over an aggregated frame:\n$w")
    }
  }

  test("q92 incremental dedup: asymmetric shingle-equality join, never all-pairs") {
    val plan = planString(SparkEntry.queries("q92_incremental_dedup")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incoming×existing must join on shingle equality:\n$plan")
  }

  test("q95 ann recall: approx side stays an equality join; only the probe-sample scan nests") {
    val plan = planString(SparkEntry.queries("q95_ann_recall")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"the ONE sanctioned BNLJ is the fixed probe-sample exact pass:\n$plan")
  }

  test("q97 ivf stats: kernel assignment — no join of any kind in the assign subtree") {
    // Round 12: assignment is the row-local topk kernel; the plan
    // must carry NO nested-loop join at all (the former single
    // assignTo BNLJ exemption is retired).
    val plan = planString(SparkEntry.queries("q97_ivf_stats")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"kernel assignment must not nest:\n$plan")
    assert(plan.contains("topk_"),
      s"assignment must ride the topk kernel:\n$plan")
  }

  test("q93/q94 prototype classifier: kernel assignment, no BNLJ") {
    val plan93 = planString(SparkEntry.queries("q93_centroid_classify")(spark, sfDir))
    assert(!plan93.contains("CartesianProduct"), s"no cartesian:\n$plan93")
    assert(!plan93.contains("BroadcastNestedLoopJoin") &&
      plan93.contains("topk_assign"),
      s"prototype argmax must ride the topk kernel:\n$plan93")
    val plan94 = planString(SparkEntry.queries("q94_confusion_matrix")(spark, sfDir))
    assert(!plan94.contains("CartesianProduct") &&
      !plan94.contains("BroadcastNestedLoopJoin"),
      s"the confusion rollup must not add a pair join:\n$plan94")
  }

  /** The round-9 vocab fence: the four queries that join a
    * vocabulary-sized frame (distinct tokens — the one broadcast side
    * that GROWS with the corpus, Heap's law) must broadcast below
    * T.VocabBroadcastCap and flip to a shuffled hash build above it.
    * The fence reads the memoized distinct-token snapScalar, so the
    * flip is exercised by SEEDING that scalar for a copied corpus dir
    * (the fence-family test discipline) — no giant corpus needed —
    * and the fence being hint-only is PROVEN by comparing results
    * row-for-row across the flip on identical bytes. */
  test("vocab fence: q32/q46/q75/q98 broadcast below the cap, shuffle-hash above, identical rows") {
    val fenced = Seq("q32_langid", "q46_tfidf", "q75_unigram_surprisal",
      "q98_pmi_cooccur")
    // identical corpus bytes under a fresh dir whose vocab scalar we
    // control; only `documents` is read by this family
    val tmp = java.nio.file.Files.createTempDirectory("graft-vfence").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val seeded = graft.T.snapScalar(tmp, "vocab:documents")(
      graft.T.VocabBroadcastCap + 1)
    assert(seeded > graft.T.VocabBroadcastCap)
    fenced.foreach { name =>
      val below = planString(SparkEntry.queries(name)(spark, sfDir))
      assert(below.contains("BroadcastHashJoin") && !below.contains("ShuffledHashJoin"),
        s"$name below the cap must broadcast the vocab frame:\n$below")
      val above = planString(SparkEntry.queries(name)(spark, tmp))
      assert(above.contains("ShuffledHashJoin"),
        s"$name above the cap must build a shuffled hash join on tok:\n$above")
      assert(!above.contains("SortMergeJoin"),
        s"$name must hash-build the vocab side, never sort the corpus:\n$above")
      // hint-only: byte-identical inputs ⇒ row-identical outputs
      val a = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      val b = SparkEntry.queries(name)(spark, tmp).collect().toSeq
      assert(a == b, s"$name results changed across the fence flip")
    }
  }

  /** The token-hash family has one path at every scale: q35 md5s
    * each token occurrence before its groupBy(doc_id) sum and q29 each
    * (doc, token) row, so neither builds, counts or
    * broadcasts a distinct-token dim — vocabulary-sized, the one
    * broadcast side that grows with the corpus. q35's collision count
    * is a partial-agg groupBy(fp) hash-joined back (shuffle_hash: the
    * counts side is aggregated but distinct-fp-sized, so it neither
    * broadcasts nor SMJ-sorts), never an (fp)-window that would buffer
    * a mega-dup fingerprint's whole group in one task. */
  test("q35/q29 token hash is row-local; q35 counts collisions by partial agg, never a window") {
    val p35 = planString(SparkEntry.queries("q35_fingerprint")(spark, sfDir))
    assert(!p35.contains("Window"),
      s"q35 must not buffer fp groups in a window:\n$p35")
    assert(!p35.contains("BroadcastHashJoin"),
      s"q35 hashes row-local — no dim broadcast, no broadcast counts:\n$p35")
    assert("ShuffledHashJoin".r.findAllIn(p35).size == 1 &&
      !p35.contains("SortMergeJoin"),
      s"the aggregated counts must hash-join back once, never sort:\n$p35")
    val p29 = planString(SparkEntry.queries("q29_simhash_neardup")(spark, sfDir))
    assert("BroadcastHashJoin \\[tok#".r.findFirstIn(p29).isEmpty,
      s"q29 must not join a broadcast tok dim:\n$p29")
    assert(!p29.contains("SortMergeJoin") && !p29.contains("ShuffledHashJoin"),
      s"row-local hashing must not introduce a corpus shuffle join:\n$p29")
  }

  /** The id-set fence (T.hintIdSet): q55's near-dup victim set has no
    * a priori bound except the corpus doc count (victims ∝ duplicate
    * rate × corpus), so its anti-join broadcast hint flips to a
    * shuffled hash build past IdBroadcastCap. Seeding the shared
    * doc-count scalar ALSO flips the corpus-derived band ladder
    * (r 4→8 — q28's bw discipline reads the same count), so across
    * THIS flip row-identity is asserted at the helper level on a
    * frame the scalar cannot influence; the query-level assertions
    * are plan-shape. */
  test("id-set fence: q55's victim anti-join broadcasts below the cap, shuffle-hash above") {
    // STATIC plans here: the fence controls the planner's strategy
    // choice, and at test scale the victim set can be EMPTY, in which
    // case AQE elides the anti-join entirely from the executed plan —
    // correct behavior that would hide the strategy under test.
    val sp = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.sparkPlan.toString
    val anti = (kind: String, p: String) =>
      s"$kind .*LeftAnti".r.findFirstIn(p).isDefined
    val below = sp(SparkEntry.queries("q55_curation_pipeline")(spark, sfDir))
    assert(anti("BroadcastHashJoin", below),
      s"q55 below the cap must broadcast the victim id set:\n$below")
    val tmp = java.nio.file.Files.createTempDirectory("graft-idfence").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.T.snapScalar(tmp, "count:documents")(graft.T.IdBroadcastCap + 1)
    val above = sp(SparkEntry.queries("q55_curation_pipeline")(spark, tmp))
    assert(anti("ShuffledHashJoin", above),
      s"q55 above the cap must hash-build the victim set on the shuffle:\n$above")
    assert(!anti("SortMergeJoin", above),
      s"the survivor frame must never be SORTED for the anti-join:\n$above")
    // strategy-only: identical rows across the flip on a frame the
    // seeded scalar can't touch
    import spark.implicits._
    val left = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val ids = Seq(2L, 4L).toDF("doc_id")
    val keepB = left.join(graft.T.hintIdSet(spark, sfDir, "documents", ids),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).sorted.toSeq
    val keepS = left.join(graft.T.hintIdSet(spark, tmp, "documents", ids),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).sorted.toSeq
    assert(keepB == Seq(1L, 3L) && keepS == keepB,
      "hintIdSet changed anti-join results across the fence flip")
  }

  /** q58's eval-shingle broadcast and q59's customer-dim broadcast are
    * bounded by DATA assumptions (eval sets are benchmarks; user
    * tables are small), not by construction — so both ride fences:
    * q58 on a memoized eval-shingle count, q59 on the customer row
    * count (T.hintIdSet). Hint-only on frames nothing else derives
    * from, so row identity across the flip is asserted directly. */
  test("q58/q59 fences: eval-shingle and customer-dim broadcasts flip to shuffled hash past their caps") {
    // q58: seed the eval-shingle scalar above the vocab cap
    val tmp58 = java.nio.file.Files.createTempDirectory("graft-evfence").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp58/documents.parquet")
    graft.T.snapScalar(tmp58, "evalsh:documents")(graft.T.VocabBroadcastCap + 1)
    val below58 = planString(SparkEntry.queries("q58_decontaminate")(spark, sfDir))
    assert(below58.contains("BroadcastHashJoin") && !below58.contains("ShuffledHashJoin"),
      s"q58 below the cap must broadcast the eval shingles:\n$below58")
    val above58 = planString(SparkEntry.queries("q58_decontaminate")(spark, tmp58))
    assert(above58.contains("ShuffledHashJoin") && !above58.contains("SortMergeJoin"),
      s"q58 above the cap must hash-build, never sort the corpus:\n$above58")
    // q59: seed the customer count above the id cap
    val tmp59 = java.nio.file.Files.createTempDirectory("graft-custfence").toString
    for (t <- Seq("events", "customer"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$tmp59/$t.parquet")
    graft.T.snapScalar(tmp59, "count:customer")(graft.T.IdBroadcastCap + 1)
    val below59 = planString(SparkEntry.queries("q59_pii_pseudonymize")(spark, sfDir))
    assert(below59.contains("BroadcastHashJoin") && !below59.contains("ShuffledHashJoin"),
      s"q59 below the cap must broadcast the customer dim:\n$below59")
    val above59 = planString(SparkEntry.queries("q59_pii_pseudonymize")(spark, tmp59))
    assert(above59.contains("ShuffledHashJoin") && !above59.contains("SortMergeJoin"),
      s"q59 above the cap must hash-build the dim on the shuffle:\n$above59")
    // hint-only: byte-identical inputs ⇒ row-identical outputs
    for ((name, alt) <- Seq("q58_decontaminate" -> tmp58,
        "q59_pii_pseudonymize" -> tmp59)) {
      val a = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      val b = SparkEntry.queries(name)(spark, alt).collect().toSeq
      assert(a == b, s"$name results changed across the fence flip")
    }
  }

  /** The vocab fence ENGAGED on data that genuinely exceeds the cap —
    * not a seeded scalar on a small corpus, but 580k+1 real distinct
    * tokens (20k docs × 29 unique tokens + one shared token), so
    * `T.vocabCount` itself crosses `T.VocabBroadcastCap` and the
    * shuffled-hash path carries a 580k-row build side for real. The
    * broadcast twin re-reads the same bytes with the scalar seeded
    * BELOW the cap (the mirror of the usual flip direction), proving
    * value identity of the two join strategies on engaged-scale data
    * distributively (exceptAll, no driver collect of the frames). */
  test("vocab fence engaged: q46/q75 hash-build a real 580k-token vocab, rows identical to the broadcast path") {
    import org.apache.spark.sql.functions._
    val nDocs = 20000
    val uniqPerDoc = 29
    val uniq = (0 until uniqPerDoc).map(i =>
      concat(lit("t"), col("id"), lit(s"_$i")))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (lit("the") +: uniq): _*).as("text"),
      lit("en").as("lang"), lit("src1").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val eng = java.nio.file.Files.createTempDirectory("graft-vocabeng").toString
    docs.write.mode("overwrite").parquet(s"$eng/documents.parquet")
    val vc = graft.T.vocabCount(spark, eng)
    assert(vc > graft.T.VocabBroadcastCap,
      s"fixture must genuinely exceed the cap, got $vc")
    val bc = java.nio.file.Files.createTempDirectory("graft-vocabengbc").toString
    spark.read.parquet(s"$eng/documents.parquet")
      .write.mode("overwrite").parquet(s"$bc/documents.parquet")
    graft.T.snapScalar(bc, "vocab:documents")(1L)
    for (q <- Seq("q46_tfidf", "q75_unigram_surprisal")) {
      val engDf = SparkEntry.queries(q)(spark, eng)
      val engPlan = planString(engDf)
      assert(engPlan.contains("ShuffledHashJoin") && !engPlan.contains("SortMergeJoin"),
        s"$q must hash-build the engaged vocab, never sort the corpus:\n$engPlan")
      val bcDf = SparkEntry.queries(q)(spark, bc)
      assert(planString(bcDf).contains("BroadcastHashJoin"),
        s"$q seeded below the cap must broadcast")
      assert(engDf.exceptAll(bcDf).isEmpty && bcDf.exceptAll(engDf).isEmpty,
        s"$q results differ between the engaged and broadcast paths")
    }
    // q90's rank fence on MID-SCALE REAL DATA: a third dir over the
    // same bytes, seeded past WindowRankCap, pushes the coverage rank
    // through T.distRank over the genuine 580k-row vocab — the
    // distributed rank machinery carrying half a million real rows,
    // not the 3k-row unit fixture — and must match the window branch
    // row-for-row.
    val dr = java.nio.file.Files.createTempDirectory("graft-vocabengdr").toString
    spark.read.parquet(s"$eng/documents.parquet")
      .write.mode("overwrite").parquet(s"$dr/documents.parquet")
    graft.T.snapScalar(dr, "vocab:documents")(graft.T.WindowRankCap + 1)
    val drDf = SparkEntry.queries("q90_vocab_coverage")(spark, dr)
    assert(planString(drDf).contains("Exchange rangepartitioning"),
      "q90 must take the distRank branch on the seeded dir")
    val winRows = SparkEntry.queries("q90_vocab_coverage")(spark, eng)
      .collect().toSeq
    assert(drDf.collect().toSeq == winRows,
      "q90 distRank branch must match the window branch on the 580k vocab")
  }

  /** The TPC-H-family dims part/customer/supplier are CATALOGS — small
    * relative to the facts but linear in the platform, unlike the
    * bounded-enum region/nation — so their forced broadcasts in
    * q11/q101/q102 ride the same id fence as q59's customer dim.
    * Seeding the three row-count scalars above T.IdBroadcastCap on a
    * byte-identical table copy must flip every fenced join to a
    * shuffled hash build (never a sort of the fact side) while leaving
    * results row-identical. */
  test("q11/q101/q102/q64 fences: part/customer/supplier dim broadcasts flip to shuffled hash past the id cap") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dimfence").toString
    for (t <- Seq("lineitem", "part", "orders", "customer", "supplier",
        "nation", "region"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    for (t <- Seq("part", "customer", "supplier"))
      graft.T.snapScalar(tmp, s"count:$t")(graft.T.IdBroadcastCap + 1)
    val cases = Seq(
      ("q11_broadcast_dim", 1),       // part
      ("q101_ship_priority", 1),      // customer (li⋈o stays unhinted)
      ("q102_supplier_diversity", 2), // part + supplier denylist
      ("q64_star_join_revenue", 2))   // customer + supplier (nation/region
                                      // bounded enums stay broadcast)
    for ((name, nFenced) <- cases) {
      val below = planString(SparkEntry.queries(name)(spark, sfDir))
      assert(below.contains("BroadcastHashJoin") && !below.contains("ShuffledHashJoin"),
        s"$name below the cap must broadcast its dims:\n$below")
      val aboveDf = SparkEntry.queries(name)(spark, tmp)
      // Fenced-join cardinality on the STATIC plan: q102's supplier
      // denylist is EMPTY at test sf, so AQE elides that anti-join
      // from the executed plan entirely (the q55 precedent).
      val aboveStatic = aboveDf.queryExecution.sparkPlan.toString
      assert("ShuffledHashJoin".r.findAllIn(aboveStatic).size == nFenced,
        s"$name above the cap must hash-build exactly $nFenced fenced joins:\n$aboveStatic")
      val above = planString(aboveDf)
      assert(!above.contains("SortMergeJoin"),
        s"$name above the cap must never sort the fact side:\n$above")
      val a = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      val b = aboveDf.collect().toSeq
      assert(a == b, s"$name results changed across the fence flip")
    }
  }

  /** The suite-wide pair-blowup invariant, stated once over the WHOLE
    * inventory instead of per-query: no executed plan contains a
    * CartesianProduct, and every BroadcastNestedLoopJoin is one of the
    * three documented bounded shapes — (a) the ≤8/≤10-row centroid /
    * prototype assignment (Similarity.assignTo), (b) the fenced
    * pairCos anchor broadcast (≤ FenceCap rows at ANY corpus size:
    * fk = ceil(n/FenceCap) ⇒ anchors = n/fk ≤ FenceCap), (c) q95's
    * probe-sample exact pass (stride ladder caps probes ~2000).
    * Every exemption carries a broadcast-side row bound that holds at
    * 100× scale BY CONSTRUCTION, and the bound is asserted against the
    * executed exchange metric, not trusted. Any new query that
    * introduces an unlisted BNLJ — e.g. a scalar attached via
    * crossJoin instead of T.withScalar — fails here with its name. */
  test("ALL queries: no cartesian anywhere; every BNLJ is a documented bounded broadcast; " +
      "wide-table scans always prune columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    // Column-pruning invariant (round 9), piggybacked on the same
    // full-inventory execution pass: a scan of a WIDE table (≥5
    // columns — lineitem 11, events 6, part 6, orders 6, customer 5,
    // documents 5) that reads the FULL schema means pruning failed —
    // at 100 TB that is the difference between reading the 2 columns
    // a projection needs and reading everything. Narrow dims
    // (region/nation/supplier/embeddings) are excluded: reading all
    // 2-4 of their columns is routine and cheap. Exemptions name the
    // queries whose SEMANTICS genuinely touch every column of a
    // table (schema profiling, whole-row output) — each must stay
    // justified here, not silently widened.
    val wideTables = Map("lineitem" -> 11, "events" -> 6, "part" -> 6,
      "orders" -> 6, "customer" -> 5, "documents" -> 5)
    val pruneExempt: Map[String, Set[String]] = Map(
      // schema profiling touches every column of both profiled tables
      // by definition — that IS the query
      "q109_schema_profile" -> Set("events", "documents"))
    // query → (max BNLJ nodes in the executed plan, max broadcast-side rows)
    val exempt: Map[String, (Int, Long)] = Map(
      "q26_cosine_topk" -> (1, 4000L), // pairCos fenced anchor (FenceCap)
      "q30_embed_neardup" -> (1, 4000L), // pairCos fenced anchor
      // Round 12: the IVF and label-prototype assignments moved to the
      // row-local topk kernels — NO BNLJ left in q31/q52/q97/q93/q94;
      // their former exemptions are deliberately deleted so any
      // reappearing assignment join fails loudly here.
      "q95_ann_recall" -> (1, 2000L)) // probe-sample exact pass
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val exec = executedPlan(q(spark, sfDir))
      val nodes = allPlanNodes(exec)
      val cart = nodes.filter(_.getClass.getSimpleName.startsWith("CartesianProduct"))
      val bnlj = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
      val (maxN, maxRows) = exempt.getOrElse(name, (0, 0L))
      val cartErr =
        if (cart.nonEmpty) Seq(s"$name: CartesianProduct in plan") else Seq.empty
      val countErr = if (bnlj.size > maxN)
        Seq(s"$name: ${bnlj.size} BNLJ nodes (allowed $maxN)") else Seq.empty
      // broadcast-side row bound, read from the executed exchange metric
      val rowErrs = bnlj.flatMap { j =>
        val rows = allPlanNodes(j).collectFirst {
          case e: BroadcastExchangeExec => e.metrics("numOutputRows").value
          case r: ReusedExchangeExec => r.child.metrics("numOutputRows").value
        }
        rows match {
          case Some(r) if r > maxRows =>
            Some(s"$name: BNLJ broadcast side $r rows (bound $maxRows)")
          case None => Some(s"$name: BNLJ with no readable broadcast metric")
          case _ => None
        }
      }
      val pruneErrs = nodes.collect { case s: FileSourceScanExec =>
        wideTables.collectFirst {
          case (t, width)
              if s.relation.location.rootPaths
                .exists(_.toString.contains(s"/$t.parquet")) &&
                s.requiredSchema.size >= width &&
                !pruneExempt.getOrElse(name, Set.empty).contains(t) =>
            s"$name: scan of $t reads all $width columns (pruning failed)"
        }
      }.flatten
      cartErr ++ countErr ++ rowErrs ++ pruneErrs
    }
    assert(violations.isEmpty,
      s"suite-wide BNLJ invariant violated:\n${violations.mkString("\n")}")
  }
}
