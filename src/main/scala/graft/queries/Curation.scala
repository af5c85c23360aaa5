package graft.queries

import graft.T._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators q58-q60 — the remaining steps a
  * training-data pipeline runs between raw corpus and training shards:
  * benchmark decontamination, PII-safe pseudonymization, and
  * class-balance (stratified) sampling.
  *
  * All three are hash-partitionable, shuffle-minimal shapes: q58 is a
  * broadcast semijoin-aggregate against the (small) eval shingle set,
  * q59 is a broadcast-dim enrichment + row-local masking, q60 is a
  * broadcast of per-stratum counts + a row-local integer predicate.
  */
object Curation {

  /** q58: test-set decontamination (the RefinedWeb/Dolma-style gate) —
    * documents from the held-out eval split (`source = 'src0'`) define
    * a contaminated-shingle set; every training doc whose distinct
    * 3-gram shingles overlap the eval set by ≥ 15% is flagged (the
    * threshold sits inside the corpus's observed 0-100% overlap range,
    * flagging 10/475 docs at sf0.01 — selective, not vacuous).
    *
    * Scale shape: eval sets are benchmarks — tiny next to the corpus —
    * so the distinct eval-shingle frame BROADCASTS and the overlap
    * count is a map-side hash semijoin + partial-aggregatable groupBy
    * on doc_id; the corpus is never shuffled on shingle. That
    * tininess is an assumption about the DATA, though, not a bound by
    * construction, so the hint rides a fence on a memoized
    * eval-shingle count: if the held-out split ever outgrows the
    * broadcast ceiling, the join flips to a shuffled hash build
    * (hint-only — values unchanged; q84's bloom gate remains the
    * shuffle-free path at that scale). */
  private def q58(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shinglesBy(s, d, "doc_id", "source")
    val evalSh = sh.filter(col("source") === "src0")
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    val evalHinted = hintBySize(
      snapScalar(d, "evalsh:documents")(evalSh.count()), VocabBroadcastCap, evalSh)
    sh.filter(col("source") =!= "src0")
      .join(evalHinted, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      // Raw IEEE ratio (see the q86 half-tie note in Similarity): the
      // gate compares the identical raw double in both engines.
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_shingles").cast("double"))
      .filter(col("overlap_ratio") >= 0.15)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"), col("overlap_ratio"))
      .orderBy("doc_id")
  }

  private val q58Sql =
    """WITH t AS (
      |  SELECT doc_id, source, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok,2) OVER w AS shingle
      |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      |  QUALIFY lead(tok,2) OVER w IS NOT NULL),
      |eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
      |o AS (
      |  SELECT doc_id, count(*) AS n_shingles, count(es.shingle) AS n_overlap
      |  FROM (SELECT doc_id, shingle FROM sh WHERE source <> 'src0') train
      |  LEFT JOIN eval_sh es USING (shingle)
      |  GROUP BY 1)
      |SELECT doc_id, n_shingles, n_overlap,
      |       CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_ratio
      |FROM o
      |WHERE CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.15
      |ORDER BY doc_id""".stripMargin

  /** q59: PII-safe event log — the privacy pass a behavioral corpus
    * goes through before training: user identity replaced by a keyed
    * pseudonym (portable hash of a salted id — join-preserving but
    * unlinkable without the salt; production uses a secret salt),
    * quasi-identifiers masked (digits in the customer name) and
    * generalized (timestamp coarsened to the hour, value bucketed to
    * 50s) for k-anonymity-style protection. Row-local masking over a
    * broadcast customer dim — no corpus shuffle. The dim is a USER
    * table, which grows with the platform rather than being bounded
    * by construction like region/nation, so the hint rides the id
    * fence (T.hintIdSet): shuffled hash build past 2M customers. */
  private def q59(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(s, d, "events")
    val cust = tbl(s, d, "customer")
      .select(col("c_custkey"), col("c_name"))
    ev.join(hintIdSet(s, d, "customer", cust), ev("user_id") === cust("c_custkey"))
      .select(
        col("event_id"),
        phash(concat(lit("u:"), col("user_id"))).as("user_token"),
        regexp_replace(col("c_name"), "[0-9]", "X").as("name_masked"),
        (expr("unix_millis(ts) div 3600000") * 3600000L).as("ts_hour_ms"),
        (floor(col("value") / 50.0) * 50L).cast("long").as("value_bucket"))
      // the broadcast join + mask chain under the sort is exchange-free
      // on the probe side, so a bare orderBy would run it twice for the
      // range-sampling job — pin the slim masked rows instead (see
      // graft.T.pinnedSort); above the id fence the join's own shuffle
      // already materializes, but the pin stays correct and slim
      .transform(graft.T.pinnedSort(_, "event_id"))
  }

  private val q59Sql =
    s"""SELECT event_id,
      |       ${phashSql("'u:' || user_id")} AS user_token,
      |       regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
      |       (epoch_ms(ts) // 3600000) * 3600000 AS ts_hour_ms,
      |       CAST(floor(value / 50.0) * 50 AS BIGINT) AS value_bucket
      |FROM events JOIN customer ON user_id = c_custkey
      |ORDER BY event_id""".stripMargin

  /** q60: stratified (class-balance) sampling — caps every language at
    * ~40 expected documents via a per-stratum deterministic hash rate:
    * doc selected iff h·n_lang < 40·10⁶ where h = phash mod 10⁶ (i.e.
    * rate = min(1, 40/n_lang)). Pure BIGINT predicate — no division,
    * no threshold rounding to disagree on — so selection is
    * bit-identical cross-engine and stable under repartitioning.
    * Per-stratum counts broadcast back; the corpus scan stays
    * embarrassingly parallel. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents")
    val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    docs
      .select(col("doc_id"), col("lang"),
        (phash(concat(lit("strat:"), col("doc_id"))) % 1000000L).as("h"))
      .join(broadcast(n), Seq("lang"))
      .filter(col("h") * col("n") < 40L * 1000000L)
      .select(col("doc_id"), col("lang"), col("h"))
      .orderBy("doc_id")
  }

  private val q60Sql =
    s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |h AS (SELECT doc_id, lang,
      |             ${phashSql("'strat:' || doc_id")} % 1000000 AS h
      |      FROM documents)
      |SELECT doc_id, h.lang, h FROM h JOIN n USING (lang)
      |WHERE h * n < 40 * 1000000
      |ORDER BY doc_id""".stripMargin

  /** q63: token-budget shard packing — the last step before training:
    * documents are packed into shards of ~2000 whitespace tokens.
    * Packing is PER STRATUM (language): a running token sum over
    * (lang, doc_id) order assigns shard_id = prefix_tokens div budget,
    * so shards are deterministic and contiguous in doc order. The
    * running sum rides the T.WindowRankCap fence: per-lang cumsum
    * windows below 4M docs (every test scale), the distributed
    * T.distCumSum above it — a one-language corpus would otherwise
    * put every doc through ONE window task, the same hazard the
    * q79/q87/q96 ranks fence. Integer division on exact BIGINT sums;
    * no float anywhere. */
  private def q63(s: SparkSession, d: String): DataFrame =
    fencedCumSum(s, d, "documents",
      tbl(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      Seq("lang"), Seq("doc_id"), "n_tokens")
      .withColumn("shard_id", expr("_dr_psum div 2000"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("shard_id"))
      .orderBy("doc_id")

  private val q63Sql =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, lang, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM tok)
      |SELECT doc_id, lang, n_tokens,
      |       CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
      |FROM packed ORDER BY doc_id""".stripMargin

  /** Row-local fixed-window chunking of a token-array column into
    * non-overlapping `len`-token windows, as (chunk_idx, chunk) pairs
    * — ONE home for the boundary arithmetic, shared by q71 (32-token
    * training windows) and q72 (8-token dedup spans). */
  private def chunked(t: org.apache.spark.sql.Column, len: Int) =
    posexplode(transform(
      sequence(lit(0), floor((size(t) - 1) / len).cast("int")),
      i => slice(t, i * len + 1, lit(len))))

  /** The DuckDB twin of [[chunked]]: CTEs `t` → `c` (doc_id, ci,
    * chunk list) over `documents`, windowed at `len` tokens. */
  private def chunkCtes(len: Int) =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ix AS (
      |  SELECT doc_id, t, unnest(range(0, (len(t) - 1) // $len + 1)) AS ci
      |  FROM t),
      |c AS (
      |  SELECT doc_id, ci, t[(ci*$len+1):(ci*$len+$len)] AS chunk
      |  FROM ix)""".stripMargin

  /** q71: fixed-window chunking — training-example construction: each
    * document's token stream is cut into non-overlapping 32-token
    * windows (the fixed-context packing step before tokenization);
    * a trailing partial window survives only with ≥ 8 tokens. Fully
    * row-local (one transform + posexplode, no shuffle, no state):
    * the 100 TB shape — chunking parallelizes per document and the
    * output is immediately shard-packable (q63). */
  private def q71(s: SparkSession, d: String): DataFrame = {
    val minTail = 8
    tbl(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), chunked(col("t"), 32).as(Seq("chunk_idx", "chunk")))
      .withColumn("n_chunk_tokens", size(col("chunk")).cast("long"))
      .filter(col("n_chunk_tokens") >= minTail)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_chunk_tokens"), array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val q71Sql =
    s"""WITH ${chunkCtes(32)}
      |SELECT doc_id, ci AS chunk_idx, CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
      |       array_to_string(chunk, ' ') AS chunk_text
      |FROM c WHERE len(chunk) >= 8
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** q72: span-level exact dedup — the C4/Dolma paragraph-dedup shape
    * over fixed 8-token windows (whole-document exact dedup is vacuous
    * on this corpus — no two texts are identical — but near-dup docs
    * share many spans: 135 duplicated span groups at sf0.01). For each
    * span text occurring more than once, emit the keeper (first
    * occurrence in (doc_id, chunk_idx) order) and the copy count.
    *
    * Scale shape: row-local chunking ([[chunked]], shared with q71) →
    * ONE partial-aggregatable groupBy on the span text. The keeper
    * argmin is `min(struct(doc_id, ci))` — struct min compares
    * lexicographically by field order in BOTH engines, is map-side
    * combinable, and carries no packing bound (an earlier packed
    * doc_id·10⁵+ci BIGINT silently corrupted past 10⁵ chunks/doc). */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val spanLen = 8
    tbl(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), chunked(col("t"), spanLen).as(Seq("ci", "span")))
      .filter(size(col("span")) === spanLen)
      .select(col("doc_id"), col("ci"), array_join(col("span"), " ").as("span"))
      .groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("ci"))).as("kept"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(md5(col("span")).as("span_hash"),
        col("kept.doc_id").as("kept_doc_id"),
        col("kept.ci").cast("long").as("kept_chunk_idx"),
        col("n_copies"))
      .orderBy("span_hash")
  }

  // sf10-scalable oracle formulation (round 11). Two lessons learned
  // bisecting a 90+ GB DuckDB OOM on the old shape at 500k docs:
  // (a) the chunkCtes unnest carries each doc's FULL token array per
  //     chunk row — spans are now built INSIDE the row by a
  //     list_transform lambda (full 8-token chunks are exactly
  //     ci = 0 .. len(t)//8 - 1), so only slim (doc_id, ci, span)
  //     rows explode;
  // (b) DuckDB 1.0's hash aggregate OOMs EMITTING a raw string key or
  //     struct-min payload at ~3M string groups, while emitting
  //     md5(key) and BIGINT aggregates streams fine — so the group
  //     output is md5(span) (all the final select needs) and kept is
  //     the packed-BIGINT argmin the SPARK side uses anyway
  //     (doc_id·2^20 + ci ≡ lexicographic (doc_id, ci) min while
  //     ci < 2^20, i.e. docs under 8M tokens — the corpus contract).
  // Values identical: same position-ordered spans, same kept pair.
  private val q72Sql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(t) // 8),
      |           ci -> {'ci': ci,
      |                  'span': array_to_string(t[(ci*8+1):(ci*8+8)], ' ')})) AS u
      |  FROM t),
      |g AS (
      |  SELECT md5(u.span) AS span_hash,
      |         min(doc_id * 1048576 + u.ci) AS kept,
      |         count(*) AS n_copies
      |  FROM c GROUP BY u.span)
      |SELECT span_hash, kept // 1048576 AS kept_doc_id,
      |       CAST(kept % 1048576 AS BIGINT) AS kept_chunk_idx, n_copies
      |FROM g WHERE n_copies > 1 ORDER BY span_hash""".stripMargin

  /** q74: deterministic training-order shuffle — the reproducible
    * substitute for a global random shuffle before sharding: each doc
    * is assigned a shard by a salted portable hash and a position
    * within its shard by a SECOND independent salted hash, so the
    * training order is pseudo-random yet bit-stable across engines,
    * runs, and partitionings.
    *
    * Scale shape: the corpus exchanges ONCE on shard_id and each shard
    * sorts locally — there is no global sort. The shard count derives
    * from a corpus-count broadcast scalar (⌈n/64⌉, floor 8; the q60
    * pattern) so shards stay ~64 docs at any scale instead of a fixed
    * count becoming a 100 TB straggler. */
  private def q74(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents").select(col("doc_id"))
    val n = docs.agg(greatest(lit(8L),
      ceil(count(lit(1)).cast("double") / 64.0).cast("long")).as("n_shards"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard_id").orderBy(col("ord_key"), col("doc_id"))
    withScalar(docs, n)
      .withColumn("shard_id",
        pmod(phash(concat(lit("shard:"), col("doc_id").cast("string"))),
          col("n_shards")))
      .withColumn("ord_key",
        phash(concat(lit("ord:"), col("doc_id").cast("string"))))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("pos"))
      .orderBy("shard_id", "pos")
  }

  private val q74Sql =
    s"""WITH n AS (
      |  SELECT greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT)) AS n_shards
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         ${phashSql("'shard:' || doc_id")} % n_shards AS shard_id,
      |         ${phashSql("'ord:' || doc_id")} AS ord_key
      |  FROM documents CROSS JOIN n)
      |SELECT doc_id, shard_id,
      |       CAST(row_number() OVER (PARTITION BY shard_id
      |              ORDER BY ord_key, doc_id) AS BIGINT) AS pos
      |FROM s ORDER BY shard_id, pos""".stripMargin

  /** q79: exact length-outlier gate — per language, the exact p05/p95
    * token-count bounds (q39's middle-row selection generalized to
    * arbitrary ranks: the value at row ⌈q·n⌉ of the (n_tokens, doc_id)
    * order, pure BIGINT arithmetic), and the documents falling outside
    * them — the length filter a curation pipeline applies before
    * quality scoring.
    *
    * Scale shape: ranking runs over the (doc_id, lang, count) frame —
    * O(docs) rows, never the corpus text — behind the T.WindowRankCap
    * fence: per-lang windows below 4M docs (every test scale), the
    * DISTRIBUTED exact rank (T.distRank: one range shuffle + bounded
    * offset broadcast) above it, so even a one-language corpus — the
    * common case — never funnels through a single window task; the
    * bounds table (one row per language) broadcasts back onto the
    * counts for the outlier test. q61 is the
    * shuffle-volume-independent sketch path at 100 TB; this is its
    * exact baseline, the q39↔q61 pairing generalized per group. */
  private def q79(s: SparkSession, d: String): DataFrame = {
    val toks = tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // Per-lang rank + count via the fenced rank: lang-partitioned
    // windows below T.WindowRankCap, the distributed T.distRank above
    // it — a one-language corpus would otherwise put ~every doc
    // through ONE window task.
    val ranked = fencedRank(s, d, "documents", toks,
      Seq("lang"), Seq("n_tokens", "doc_id"))
      .withColumnRenamed("_dr_rank", "rn")
      .withColumnRenamed("_dr_cnt", "cnt")
    val bounds = ranked.groupBy(col("lang")).agg(
      min(when(col("rn") === expr("(cnt * 5 + 99) div 100"), col("n_tokens")))
        .as("lo"),
      min(when(col("rn") === expr("(cnt * 95 + 99) div 100"), col("n_tokens")))
        .as("hi"))
    // Probe from `ranked`, not a fresh `toks`: the probe then reuses
    // the one lang exchange (and its scan+tokenize) instead of
    // re-tokenizing the corpus a second time.
    ranked.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_tokens") < col("lo") || col("n_tokens") > col("hi"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("lo"), col("hi"))
      .orderBy("doc_id")
  }

  private val q79Sql =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
      |              ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
      |         count(*) OVER (PARTITION BY lang) AS cnt
      |  FROM toks),
      |b AS (
      |  SELECT lang,
      |         min(CASE WHEN rn = (cnt * 5 + 99) // 100 THEN n_tokens END) AS lo,
      |         min(CASE WHEN rn = (cnt * 95 + 99) // 100 THEN n_tokens END) AS hi
      |  FROM r GROUP BY lang)
      |SELECT doc_id, lang, n_tokens, lo, hi
      |FROM toks JOIN b USING (lang)
      |WHERE n_tokens < lo OR n_tokens > hi
      |ORDER BY doc_id""".stripMargin

  /** q84: bloom-gated exact decontamination — the long-n-gram
    * (8-token) exact-match gate, the Dolma/SlimPajama contamination
    * test that complements q58's 15%-overlap ratio: here ONE shared
    * 8-gram with the eval split (`source = 'src0'`) flags the doc, and
    * the output counts the matched grams.
    *
    * Mechanism (the 100 TB shape): eval 8-gram hashes fold into a
    * fixed-size bloom filter (Spark's own `BloomFilterAggregate`,
    * registered as `bloom_agg` — shuffle volume O(bits), not O(rows)),
    * delivered to every corpus task through a scalar subquery; the
    * codegen'd `bloom_might_contain` probe then discards ~all of the
    * corpus's gram stream row-locally BEFORE the exact-confirm join
    * against the (broadcast-size) eval hash set removes the bloom's
    * false positives. The corpus side is scanned once and never
    * shuffled; only bloom survivors reach the join. Correctness does
    * not depend on the bloom (no-FN sketch + exact confirm), which is
    * why a DuckDB oracle with no bloom at all verifies it hash-exact.
    * SQL-phrased because Catalyst requires the bloom argument to be a
    * scalar subquery or constant ([[graft.functions.BloomFunctions]]).
    */
  /** Distinct 8-gram Horner hashes per document: (doc_id, source, h).
    * The scheme (and the reason for the two-select shape) lives in
    * [[graft.functions.GramHash]] — also the s17 streaming gate's
    * scheme, so batch and stream provably agree. */
  private def gram8(s: SparkSession, d: String): DataFrame =
    // NOT spread (round-16 A/B): a doc_id spread here measured ~0.5s
    // SLOWER on q84 — the text shuffle + wider tiny stages cost more
    // than the parallelized md5/Horner chain saves at bench scale,
    // and the q84 invariant (corpus never shuffled pre-confirm) stays
    // strongest with no corpus-rooted exchange at all.
    tbl(s, d, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.GramHash.tokenHashes(split(col("text"), " ")).as("hh"))
      .select(col("doc_id"), col("source"),
        explode(graft.functions.GramHash.gram8FromTokenHashes(col("hh"))).as("h"))

  private def q84(s: SparkSession, d: String): DataFrame = {
    graft.functions.BloomFunctions.register(s)
    gram8(s, d).createOrReplaceTempView("q84_grams")
    s.sql("""
      WITH ev AS (SELECT DISTINCT h FROM q84_grams WHERE source = 'src0'),
      bloom AS (SELECT bloom_agg(h, 1000000L, 8388608L) AS bf FROM ev),
      cand AS (
        SELECT doc_id, h FROM q84_grams
        WHERE source <> 'src0'
          AND bloom_might_contain((SELECT bf FROM bloom), h))
      SELECT doc_id, count(*) AS n_hits
      FROM cand JOIN ev USING (h)
      GROUP BY doc_id ORDER BY doc_id""")
  }

  /** DuckDB twin of [[gram8]]'s Horner gram hash: lead(h, j) OVER w
    * for j = 0..7 folded left with the same base/modulus. */
  private val gram8HornerSql: String =
    (0 to 7).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"((($acc) * 1000003 + lead(h, $j) OVER w) % 2147483647)"
    }

  /** CTE fragment t → g: the [[gram8]] frame (doc_id, source, h) —
    * shared by the q84 and q91 oracles. */
  private val gram8Ctes =
    s"""t AS (
      |  SELECT doc_id, source, ${phashSql("unnest(string_split(text,' '))")} AS h,
      |         generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, source,
      |         $gram8HornerSql AS h
      |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      |  QUALIFY lead(h,7) OVER w IS NOT NULL)""".stripMargin

  private val q84Sql =
    s"""WITH $gram8Ctes,
      |ev AS (SELECT DISTINCT h FROM g WHERE source = 'src0')
      |SELECT doc_id, count(*) AS n_hits
      |FROM g JOIN ev USING (h)
      |WHERE source <> 'src0'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q87: domain cap — per source, keep the top-8 documents by q33
    * quality (ties → lower doc_id): the MassiveText/Gopher "cap every
    * domain's contribution" curation rule, here as quality-ranked
    * keeps rather than random ones so the cap and the quality gate
    * compose in one pass.
    *
    * Scale shape: the quality score aggregates per-doc (map-side
    * combinable), the doc_id-keyed join back to (doc_id, source) rides
    * the same hash keys, and the per-source ranking touches the
    * O(docs) scored rows, never text. Skewed sources (one giant
    * domain — the web crawl that IS most of the corpus) were the known
    * hazard, so the rank rides the T.WindowRankCap fence: per-source
    * windows below 4M docs, T.distRank above (desc on quality), where
    * a hot source spreads over every range partition. */
  private def q87(s: SparkSession, d: String): DataFrame =
    fencedRank(s, d, "documents",
      tbl(s, d, "documents").select(col("doc_id"), col("source"))
        .join(TextAnalysis.q33Frame(tbl(s, d, "documents"))
          .select(col("doc_id"), col("quality")), Seq("doc_id")),
      Seq("source"), Seq("quality", "doc_id"), desc = Set("quality"))
      .filter(col("_dr_rank") <= 8)
      .select(col("source"), col("_dr_rank").as("rk"),
        col("doc_id"), col("quality"))
      .orderBy("source", "rk")

  private val q87Sql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |${TextAnalysis.qualitySqlCtes},
      |r AS (
      |  SELECT d.source, d.doc_id, q.quality,
      |         row_number() OVER (PARTITION BY d.source
      |                            ORDER BY q.quality DESC, d.doc_id ASC) AS rk
      |  FROM documents d JOIN qual q USING (doc_id))
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, quality
      |FROM r WHERE rk <= 8 ORDER BY source, rk""".stripMargin

  /** q91: cross-source contamination matrix — for every source pair
    * (sa < sb), the count of exact 8-grams they share and that count
    * as a fraction of the smaller side's distinct grams: the overlap
    * heatmap a curation team reads to decide which domains leak into
    * which (q84 gates one eval split; this surveys all 20×19/2 pairs
    * in one pass).
    *
    * Scale shape: per-source distinct gram hashes are a partial agg;
    * the pair counts come from an equality self-join on the gram hash
    * whose per-key fan-out is bounded by the number of SOURCES (≤20
    * rows per bucket — Σ bucket² ≤ 400·|grams|), not by corpus size.
    * Raw ratio per the T.scala rule. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    // THREE consumers read the distinct gram frame (both self-join
    // sides and the per-source sizes), and consumer-specific column
    // pruning specializes the subtrees so exchange reuse cannot cover
    // all of them — so materialize it ONCE (Scale.ckpt: local
    // checkpoint by default, reliable-mode seam; the q48/q70
    // discipline) instead of re-running the corpus-sized
    // md5+Horner build per consumer. The pre-join repartition on the
    // join key co-partitions the self-join off the materialized
    // partitions.
    val sg = gram8(s, d).select(col("source"), col("h")).distinct()
      .repartition(col("h"))
      .transform(graft.scale.Scale.ckpt)
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = sg.select(col("source").as("sa"), col("h"))
    val b = sg.select(col("source").as("sb"), col("h").as("h_b"))
    a.join(b, col("h") === col("h_b") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("sa"), col("n").as("na")), Seq("sa"))
      .join(sizes.select(col("source").as("sb"), col("n").as("nb")), Seq("sb"))
      .select(col("sa"), col("sb"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
      .orderBy("sa", "sb")
  }

  private val q91Sql =
    s"""WITH $gram8Ctes,
      |sg AS (SELECT DISTINCT source, h FROM g),
      |sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
      |  FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, n_shared,
      |       CAST(n_shared AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE)
      |         AS containment
      |FROM pairs JOIN sizes za ON sa = za.source JOIN sizes zb ON sb = zb.source
      |ORDER BY sa, sb""".stripMargin

  /** q99: temporal holdout + leakage audit — split the event stream
    * train/test on a DAY boundary (the last ntile(5) of distinct
    * active days is the holdout, the way production time-splits cut on
    * calendar boundaries rather than row quantiles) and report every
    * user with activity on BOTH sides: cross-boundary users are the
    * leakage surface a per-user model must dedup/decontaminate before
    * the holdout is trustworthy.
    *
    * Scale shape: the day frame is O(days) — distinct day_num is a
    * tiny partial agg, the ntile runs over ≤days rows, and the cutoff
    * attaches to the corpus via the withScalar broadcast; the per-user
    * rollup is one conditional partial agg. Nothing corpus-scale
    * shuffles except the (user) groupBy. */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val e = tbl(s, d, "events")
      .select(col("user_id"), dayNum(col("ts")).as("day"))
    val cut = e.select(col("day")).distinct()
      .withColumn("t", ntile(5).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      .filter(col("t") === 5)
      .agg(min(col("day")).as("cut"))
    withScalar(e, cut)
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("cut"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("day") >= col("cut"), 1L).otherwise(0L)).as("n_test"))
      .filter(col("n_train") > 0 && col("n_test") > 0)
      .orderBy("user_id")
  }

  private val q99Sql =
    s"""WITH e AS (
      |  SELECT user_id, ${dayNumSql("ts")} AS day FROM events),
      |days AS (
      |  SELECT day, ntile(5) OVER (ORDER BY day) AS t
      |  FROM (SELECT DISTINCT day FROM e)),
      |cut AS (SELECT min(day) AS cut FROM days WHERE t = 5)
      |SELECT user_id,
      |       CAST(sum(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |       CAST(sum(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |FROM e CROSS JOIN cut
      |GROUP BY user_id
      |HAVING sum(CASE WHEN day < cut THEN 1 ELSE 0 END) > 0
      |   AND sum(CASE WHEN day >= cut THEN 1 ELSE 0 END) > 0
      |ORDER BY user_id""".stripMargin

  /** q105: soft quality sampling — the FineWeb/DataComp-style
    * STOCHASTIC quality filter: instead of a hard threshold (q55's
    * stage 1), each document survives with probability quality², via
    * a deterministic per-doc uniform draw u = phash("soft:"+doc_id) /
    * 2³² (a dyadic rational — exact in both engines, reproducible
    * across runs and machines, the q47 hash-sampling mechanism). Soft
    * gates keep the quality distribution's tail instead of cliffing
    * at a threshold — the curation choice when downstream mixing
    * wants diversity.
    *
    * Scale shape: quality is the shared q33 per-doc agg; the draw and
    * the gate are row-local; output sort is the only extra exchange. */
  private def q105(s: SparkSession, d: String): DataFrame =
    graft.queries.TextAnalysis
      .q33Frame(tbl(s, d, "documents"))
      .select(col("doc_id"), col("quality"))
      .withColumn("draw",
        phash(concat(lit("soft:"), col("doc_id").cast("string"))).cast("double")
          / 4294967296.0)
      // quality and draw are exactly-agreed doubles; the product and
      // comparison are single IEEE ops (T.scala rules — no rounding).
      .filter(col("draw") < col("quality") * col("quality"))
      .select(col("doc_id"), col("quality"), col("draw"))
      .orderBy("doc_id")

  private val q105Sql =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |${graft.queries.TextAnalysis.qualitySqlCtes},
      |drawn AS (
      |  SELECT doc_id, quality,
      |         ${phashSql("'soft:' || doc_id")} / 4294967296.0 AS draw
      |  FROM qual)
      |SELECT doc_id, quality, draw
      |FROM drawn WHERE draw < quality * quality
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_soft_quality_sample" -> q105 _,
    "q84_bloom_decontaminate" -> q84 _,
    "q87_domain_cap" -> q87 _,
    "q91_source_overlap" -> q91 _,
    "q63_shard_pack" -> q63 _,
    "q79_length_outliers" -> q79 _,
    "q58_decontaminate" -> q58 _,
    "q59_pii_pseudonymize" -> q59 _,
    "q60_stratified_sample" -> q60 _,
    "q71_chunk_windows" -> q71 _,
    "q72_span_dedup" -> q72 _,
    "q74_shuffle_shard" -> q74 _,
    "q99_temporal_holdout" -> q99 _)

  val oracles: Map[String, String] = Map(
    "q84_bloom_decontaminate" -> q84Sql,
    "q87_domain_cap" -> q87Sql,
    "q91_source_overlap" -> q91Sql,
    "q63_shard_pack" -> q63Sql,
    "q79_length_outliers" -> q79Sql,
    "q58_decontaminate" -> q58Sql,
    "q59_pii_pseudonymize" -> q59Sql,
    "q60_stratified_sample" -> q60Sql,
    "q71_chunk_windows" -> q71Sql,
    "q72_span_dedup" -> q72Sql,
    "q74_shuffle_shard" -> q74Sql,
    "q99_temporal_holdout" -> q99Sql,
    "q105_soft_quality_sample" -> q105Sql)
}
