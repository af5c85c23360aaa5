package graft.queries

import graft.T._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis inventory (north-star extension; SURVEY.md §2.3
  * q27 + q32-q35): the per-document scoring operators a training-data
  * pipeline runs — language ID, quality scoring, token counting,
  * fingerprinting — plus per-language corpus stats. Everything is
  * narrow per-document work (codegen'd string functions + one explode)
  * followed by small aggregations: embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "and", "of", "to", "in")

  /** q27: per-language corpus stats — doc counts, exact decimal-summed
    * char/token averages. */
  private def q27(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("lang"), col("n_docs"), col("total_chars"), col("total_tokens"),
        (col("total_chars").cast("double") / col("n_docs").cast("double"))
          .as("avg_chars"),
        (col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .as("avg_tokens"))
      .orderBy("lang")

  private val q27Sql =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q32: language identification — a deterministic n-gram-affinity
    * heuristic: score(lang) = Σ_tokens phash(lang:token) mod 1000,
    * prediction = argmax (the real-model shape: per-token class
    * affinities summed per document, argmax over classes). */
  private def q32(s: SparkSession, d: String): DataFrame =
    langidFrame(s, d).orderBy("doc_id")

  /** The q32 computation unsorted — per doc: predicted lang, true
    * lang, correctness, winning score — shared with q107's confusion
    * rollup. */
  private def langidFrame(s: SparkSession, d: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val perTok = tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    // affinity table = distinct tokens × langs, hashed ONCE — per-
    // occurrence hashing would md5 the corpus. Broadcast below the
    // vocab fence only: this frame is 5× the vocabulary, which grows
    // with the corpus (Heap's law) — past T.VocabBroadcastCap it joins
    // as a shuffled hash build instead (hint-only; values identical).
    val aff = perTok.select(col("tok")).distinct()
      .withColumn("cand", explode(array(langs.map(lit): _*)))
      .withColumn("aff", phash(concat_ws(":", col("cand"), col("tok"))) % 1000)
    val scored = perTok
      .join(hintVocab(s, d, aff), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(col("aff")).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("pred_lang"), col("lang"),
        (col("cand") === col("lang")).as("correct"), col("score"))
  }

  /** CTE chain for [[langidFrame]] (t32 → sc → p32) — ONE SQL home
    * shared by the q32 and q107 oracles. */
  private val langidCtes =
    s"""t32 AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
      |sc AS (
      |  SELECT doc_id, lang, cand, CAST(sum(${phashSql("cand || ':' || tok")} % 1000) AS BIGINT) AS score
      |  FROM t32 CROSS JOIN (SELECT unnest(['de','en','es','fr','zh']) AS cand)
      |  GROUP BY doc_id, lang, cand),
      |p32 AS (
      |  SELECT doc_id, cand AS pred_lang, lang, cand = lang AS correct, score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                     ORDER BY score DESC, cand ASC) AS rn FROM sc)
      |  WHERE rn = 1)""".stripMargin

  private val q32Sql =
    s"""WITH $langidCtes
      |SELECT doc_id, pred_lang, lang, correct, score
      |FROM p32 ORDER BY doc_id""".stripMargin

  /** q107: lang-ID confusion matrix — count and within-truth fraction
    * per (true lang, predicted lang) over q32's classifier: the
    * accuracy table that decides whether the n-gram heuristic is
    * trustworthy per language before it gates a corpus (the q94
    * confusion discipline applied to the text side).
    *
    * Scale shape: rides q32's chain; the rollup is one partial agg
    * and the fraction window runs over the ≤langs² grouped frame. */
  private def q107(s: SparkSession, d: String): DataFrame =
    langidFrame(s, d)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum(col("n")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n"),
        (col("n").cast("double") / col("n_lang").cast("double")).as("frac"))
      .orderBy("lang", "pred_lang")

  private val q107Sql =
    s"""WITH $langidCtes,
      |g AS (SELECT lang, pred_lang, count(*) AS n FROM p32 GROUP BY 1, 2)
      |SELECT lang, pred_lang, n,
      |       CAST(n AS DOUBLE) /
      |       CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS frac
      |FROM g ORDER BY lang, pred_lang""".stripMargin

  /** q33: document quality scoring — type/token ratio, length prior,
    * stopword ratio, composed into one score. The double
    * expression tree is written identically in the oracle so every op
    * is the same IEEE op. */
  private[queries] def q33(s: SparkSession, d: String): DataFrame =
    // the pin lives HERE, not in q33Frame: joins over q33Frame's other
    // callers (q70/q87/q105) eliminate its parity sort outright, and a
    // repartition there would survive as a useless exchange
    graft.T.pinnedSort(qualityScored(tbl(s, d, "documents")), "doc_id")

  /** The q33 score over an arbitrary (doc_id, text) frame — the score
    * is purely per-document, so callers that only need a SUBSET
    * (q70's cluster members) pre-filter and pay the tokenize+aggregate
    * cost for that subset alone. */
  /** Per-document integer token stats (n_tokens, n_distinct,
    * tok_chars, n_stop) keyed by doc_id + `extraKeys` — the exact
    * building blocks of the q33 score, shared with q100's per-source
    * micro-averaged card so the stopword list and counting rules have
    * ONE home.
    *
    * ROW-LOCAL by construction (array HOFs over one split, no
    * explode+groupBy): every stat is a function of a single document,
    * so computing it costs ZERO exchanges — the earlier
    * explode→groupBy(doc_id) formulation shuffled the whole exploded
    * corpus to reassemble what was never apart (BenchOne minima at
    * sf0.1: q55 2.7→2.2s, q100 2.4→1.8s). Row-local also means
    * stream-safe:
    * s21's streaming quality gate runs this SAME body statelessly. */
  private[graft] def docTokenStats(
      docs: DataFrame, extraKeys: String*): DataFrame = {
    val keys = col("doc_id") +: extraKeys.map(col)
    docs
      // null text drops the row — the semantics the old explode(split)
      // formulation had and the oracle's unnest(string_split) has;
      // without this a null-text doc (e.g. a malformed s21 ingest
      // record) would survive with null/-1 stats and break parity.
      .filter(col("text").isNotNull)
      .select(keys :+ split(col("text"), " ").as("t"): _*)
      .select(keys ++ Seq(
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        aggregate(col("t"), lit(0L), (acc, x) => acc + length(x)).as("tok_chars"),
        size(filter(col("t"), x => x.isin(stopwords: _*))).cast("long")
          .as("n_stop")): _*)
  }

  private[queries] def q33Frame(docs: DataFrame): DataFrame =
    qualityScored(docs).orderBy("doc_id")

  /** The q33 score over an arbitrary docs frame, UNSORTED — fully
    * row-local (docTokenStats + projections), so it is stream-safe:
    * s21's streaming quality gate runs this exact body. `extraKeys`
    * ride through untouched (the docTokenStats passthrough) — q55
    * carries `lang` here so its final stage never has to re-scan and
    * re-join the corpus just to fetch it back. */
  private[graft] def qualityScored(docs: DataFrame,
      extraKeys: String*): DataFrame =
    docTokenStats(docs, extraKeys: _*)
      .select(Seq(col("doc_id")) ++ extraKeys.map(col) ++ Seq(
        col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        (col("tok_chars").cast("double") / col("n_tokens").cast("double")).as("avg_tok_len"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio")): _*)
      // Raw IEEE arithmetic throughout — every input is an
      // exactly-agreed integer ratio, so both engines produce the
      // identical double; round(·, 6) would only add the cross-engine
      // decimal half-tie hazard q86 hit at sf0.1.
      .withColumn("quality",
        lit(0.4) * col("ttr") +
          lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")))

  /** DuckDB CTE fragment computing the q33 quality score over an
    * existing `t` (doc_id, tok) CTE — defines `st33` and `qual`
    * (doc_id, n_tokens, n_distinct, ttr, avg_tok_len, stop_ratio,
    * quality). ONE SQL home for the score formula, shared by the q33
    * and q70 oracles — the Spark twin is [[q33Frame]], shared the same
    * way. If the weights or the stopword list change, both oracles
    * follow together. */
  private[queries] val qualitySqlCtes =
    """st33 AS (
      |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
      |         sum(length(tok)) AS tok_chars,
      |         sum(CASE WHEN tok IN ('the','a','and','of','to','in') THEN 1 ELSE 0 END) AS n_stop
      |  FROM t GROUP BY doc_id),
      |qual AS (
      |  SELECT doc_id, n_tokens, n_distinct,
      |         CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
      |         CAST(tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_tok_len,
      |         CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
      |         0.4 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |             + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
      |             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality
      |  FROM st33)""".stripMargin

  private val q33Sql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |$qualitySqlCtes
      |SELECT doc_id, n_tokens, n_distinct, ttr, avg_tok_len, stop_ratio, quality
      |FROM qual ORDER BY doc_id""".stripMargin

  /** q69: repetition-ratio quality signals (the Gopher/Dolma-style
    * repetition filters a curation pipeline gates on): per document,
    * the most-frequent-token fraction (ties → lexicographically
    * smallest token) and the duplicate-bigram fraction, plus the
    * composed `repetitive` gate (both engines compare the identical
    * raw doubles, so the boolean is bit-deterministic cross-engine). Every signal is a function of
    * ONE document's token array, so the whole query is row-local array
    * HOFs over a single scan — no explode, no join, no per-doc window;
    * the only exchanges are the output-parity sort and its
    * [[graft.T.pinnedSort]] pin (the shuffle-free HOF lineage would
    * otherwise run twice under the sort's range-sampling job). Docs
    * with < 2 tokens have no bigram signal and are excluded (mirrors
    * the oracle's inner join against the bigram CTE). */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val toks = tbl(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    // Token mode in one pass over the SORTED array: equal tokens are
    // contiguous runs, and strict > on the run length keeps the
    // lexicographically smallest token on count ties (runs arrive in
    // lex order). Initial run=0 makes the seed prev="" harmless even
    // when a real "" token sorts first.
    val mode = aggregate(
      array_sort(col("t")),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit("").as("best"), lit(0L).as("best_run")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          when(run > acc("best_run"), x).otherwise(acc("best")).as("best"),
          when(run > acc("best_run"), run).otherwise(acc("best_run")).as("best_run"))
      })
    val bigrams = transform(sequence(lit(1), size(col("t")) - 1),
      i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)))
    toks
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("m", mode)
      .withColumn("bg", bigrams)
      .select(col("doc_id"), col("n_tokens"),
        col("m")("best").as("top_tok"),
        // Raw integer-ratio divisions (identical IEEE trees in both
        // engines — see the q86 half-tie note in Similarity); the
        // `repetitive` gate compares the same raw doubles both sides,
        // so the boolean still agrees by construction.
        (col("m")("best_run").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        (lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
          size(col("bg")).cast("double")).as("dup_bigram_frac"))
      .withColumn("repetitive",
        col("top_token_frac") > 0.2 || col("dup_bigram_frac") > 0.5)
      .transform(graft.T.pinnedSort(_, "doc_id"))
  }

  private val q69Sql =
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |                  generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |nt AS (SELECT doc_id, count(*) AS n_tokens FROM t GROUP BY 1),
      |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, tok AS top_tok, cnt AS top_cnt FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY cnt DESC, tok ASC) AS rn FROM tc)
      |  WHERE rn = 1),
      |bg AS (SELECT doc_id, tok || ' ' || lead(tok) OVER w AS bg
      |       FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      |       QUALIFY lead(tok) OVER w IS NOT NULL),
      |bs AS (SELECT doc_id, count(*) AS n_bigrams,
      |              count(DISTINCT bg) AS n_distinct_bigrams FROM bg GROUP BY 1),
      |f AS (
      |  SELECT nt.doc_id, nt.n_tokens, top_tok,
      |         CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |           AS top_token_frac,
      |         1.0 - CAST(n_distinct_bigrams AS DOUBLE)
      |                   / CAST(n_bigrams AS DOUBLE) AS dup_bigram_frac
      |  FROM nt JOIN top USING (doc_id) JOIN bs USING (doc_id))
      |SELECT doc_id, n_tokens, top_tok, top_token_frac, dup_bigram_frac,
      |       (top_token_frac > 0.2 OR dup_bigram_frac > 0.5) AS repetitive
      |FROM f ORDER BY doc_id""".stripMargin

  /** q73: domain-mixture table — per (source, lang) doc counts, token
    * totals, and each cell's share of the global corpus: the table a
    * training run samples against when re-weighting domains. The
    * grouped frame is tiny (sources × langs), so the global-share
    * window runs over at most that many rows — a single-partition
    * window over the AGGREGATED table, not the corpus (the corpus-side
    * work is one partial-aggregatable groupBy). Shares are one IEEE
    * division of exactly-agreed BIGINTs (raw — see the q86 half-tie note). */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val g = tbl(s, d, "documents")
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    val w = Window.partitionBy()
    g.select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
        (col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double")).as("doc_share"),
        (col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(w).cast("double")).as("token_share"))
      .orderBy("source", "lang")
  }

  private val q73Sql =
    """WITH g AS (
      |  SELECT source, lang, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, lang, n_docs, total_tokens,
      |       CAST(n_docs AS DOUBLE)
      |           / CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share,
      |       CAST(total_tokens AS DOUBLE)
      |           / CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
      |FROM g ORDER BY source, lang""".stripMargin

  /** q34: token counting — whitespace tokens, regex word/digit tokens,
    * and a BPE-ish chars/4 proxy. */
  private def q34(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("word_tokens"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("digit_tokens"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("bpe_proxy"))
      // two regexp_count passes over the corpus text sit shuffle-free
      // under the sort — pin the slim count rows so the sampling job
      // never re-runs them (see graft.T.pinnedSort)
      .transform(graft.T.pinnedSort(_, "doc_id"))

  private val q34Sql =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_tokens,
      |       CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_proxy
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q35: document fingerprinting — order-sensitive position-weighted
    * rolling hash fp = Σ (phash(tok)·(ord+1) mod 1e9+7) mod 1e9+7,
    * with a count of fingerprint collisions (exact-duplicate detection
    * surface). The mod is applied per term BEFORE the sum — identical
    * result (mod distributes over addition) but the long sum can
    * never overflow, where an unreduced Σ h·ord would overflow Int64
    * at ~90k-token documents while DuckDB's HUGEINT kept going.
    *
    * The fingerprint is the oracle's shape: posexplode, a row-local
    * md5 per token occurrence (no distinct-token dim to count, build or
    * broadcast at any scale) and a groupBy(doc_id) sum; a null text
    * explodes to nothing, so that document is absent, as in the
    * oracle's unnest. [[fpCol]]'s fold costs 2× here (sf0.1; BASELINE.md
    * round 17): the join's inferred IsNotNull(fp) re-runs it in the
    * scan filter and the pruned counts side gets its own exchange.
    *
    * The collision count is a partial-agg groupBy(fp) — map-side
    * combine collapses a mega-dup fingerprint (one boilerplate doc
    * duplicated 10⁸×) before the shuffle, where an (fp)-window would
    * buffer the whole group in ONE task — hash-joined back on the same
    * (fp) key (shuffle_hash: the counts side is aggregated but
    * distinct-fp-sized, i.e. corpus-growing, so it may neither
    * broadcast nor SMJ-sort the per-doc side). The per-doc frame is
    * PINNED to an explicit (fp) exchange so the counts aggregate and
    * the join probe canonicalize to ONE exchange (the pairOverlaps
    * discipline) — without the pin each subtree would re-run the
    * tokenize+md5 pipeline; the pinned exchange moves only slim
    * (doc_id, fp) rows. */
  private[queries] def q35(s: SparkSession, d: String): DataFrame = {
    val pinned = tbl(s, d, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("ord", "tok")))
      .groupBy("doc_id")
      .agg((sum((phash(col("tok")) * (col("ord") + 1L)) % 1000000007L)
        % 1000000007L).as("fp"))
      .repartition(col("fp"))
    pinned.join(
        pinned.groupBy("fp").agg(count(lit(1)).cast("long").as("n_same_fp"))
          .hint("shuffle_hash"),
        Seq("fp"))
      .select(col("doc_id"), col("fp"), col("n_same_fp"))
      .orderBy("doc_id")
  }

  /** (doc_id, fp) rolling-hash fingerprint as ONE row-local expression
    * over the raw text column — q55's stage 2 (q35 keeps the explode
    * form, see there). fp is a per-document fold, Σ_k (phash(tok_k)·k
    * mod p) mod p over
    * 1-based positions, so a consumer that already scans the corpus
    * for other per-doc stats (q55's quality gate) computes it in the
    * SAME projection — no posexplode, no groupBy(doc_id) exchange and
    * no doc_id attach join. Value identity with the oracle's
    * unnest+groupBy form: same Long terms and addition is associative
    * — asserted against an explode+groupBy reference per document on
    * the pathological-text corpus in TextEdgeSpec. Null text yields a
    * null fp (split(null) → aggregate over null → null), where the
    * exploded form has no row for the doc, so consumers filter null
    * text first. */
  private[graft] def fpCol(text: Column): Column = {
    val t = split(text, " ")
    aggregate(t,
      struct(lit(0L).as("ord"), lit(0L).as("acc")),
      (s, x) => struct((s("ord") + 1L).as("ord"),
        (s("acc") + (phash(x) * (s("ord") + 1L)) % 1000000007L).as("acc")),
      s => s("acc") % 1000000007L)
  }

  private val q35Sql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |                  generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |fp AS (SELECT doc_id, CAST(sum((${phashSql("tok")} * ord) % 1000000007) % 1000000007 AS BIGINT) AS fp
      |       FROM t GROUP BY doc_id)
      |SELECT doc_id, fp,
      |       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same_fp
      |FROM fp ORDER BY doc_id""".stripMargin

  /** q85: normalization audit — the text-cleaning pass every corpus
    * goes through before hashing/dedup (lowercase → strip
    * non-alphanumerics → collapse runs of spaces → trim), emitted as
    * an audit row per document: canonical hash (the key an exact-dedup
    * pass would group on — phash, so DuckDB replays it bit-exact),
    * sizes before/after, and the removed-character ratio. Entirely
    * row-local string work — no join, no shuffle beyond the output
    * sort; at 100 TB this is the map-only pass that feeds q24-style
    * canonical-key dedup. Both regexes are POSIX-class-free literal
    * character classes, so Java and DuckDB RE2 semantics agree.
    *
    * The output sort rides [[graft.T.pinnedSort]]: the map lineage is
    * shuffle-free, so a bare orderBy's range-sampling job would run
    * the whole regex+md5 chain TWICE (measured 2× at sf1). */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    graft.T.pinnedSort(
      tbl(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_raw"),
          length(canon).cast("long").as("n_chars_canon"),
          size(split(canon, " ")).cast("long").as("n_toks_canon"),
          phash(canon).as("canon_hash"),
          // try_divide, not `/`: an EMPTY document (len 0) must audit
          // as removed_ratio NULL — DuckDB's x/0.0 — where ANSI double
          // division throws DIVIDE_BY_ZERO and kills the whole pass
          // (found by the round-10 pathological-text sweep; identical
          // IEEE result on every non-empty doc)
          (lit(1.0) - try_divide(length(canon).cast("double"),
            length(col("text")).cast("double"))).as("removed_ratio")),
      "doc_id")
  }

  private val q85Sql =
    s"""WITH n AS (
      |  SELECT doc_id, text,
      |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                             ' +', ' ', 'g')) AS canon
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(text) AS BIGINT) AS n_chars_raw,
      |       CAST(len(canon) AS BIGINT) AS n_chars_canon,
      |       CAST(len(string_split(canon, ' ')) AS BIGINT) AS n_toks_canon,
      |       ${phashSql("canon")} AS canon_hash,
      |       1.0 - CAST(len(canon) AS DOUBLE) / CAST(len(text) AS DOUBLE)
      |         AS removed_ratio
      |FROM n ORDER BY doc_id""".stripMargin

  /** q111: document-length histogram — per (lang, decimal-digit
    * magnitude of n_chars): doc count, exact char-length bounds, and
    * corpus share. The length-distribution panel of a dataset card
    * (truncation and chunking policy are read off it). Binning is the
    * DIGIT COUNT of the integer length — an exact, monotone log10
    * bucket computed by string length, immune to the 1-ulp log()
    * divergence float binning would have (T.scala's log rule).
    *
    * Scale shape: row-local bin, one (lang, bin) partial agg; the
    * share window runs over the ≤langs·digits grouped frame. */
  private def q111(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(col("lang"),
        length(col("n_chars").cast("string")).cast("long").as("magnitude"),
        col("n_chars"))
      .groupBy(col("lang"), col("magnitude"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(lit(1))).cast("double"))
      .orderBy("lang", "magnitude")

  private val q111Sql =
    """WITH g AS (
      |  SELECT lang, CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT) AS magnitude,
      |         count(*) AS n_docs, min(n_chars) AS min_chars,
      |         max(n_chars) AS max_chars
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, magnitude, n_docs, min_chars, max_chars,
      |       CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS share
      |FROM g ORDER BY lang, magnitude""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_normalize_audit" -> q85 _,
    "q27_text_stats" -> q27 _,
    "q32_langid" -> q32 _,
    "q107_langid_confusion" -> q107 _,
    "q111_length_histogram" -> q111 _,
    "q33_quality_score" -> q33 _,
    "q34_token_count" -> q34 _,
    "q35_fingerprint" -> q35 _,
    "q69_repetition_ratio" -> q69 _,
    "q73_source_mixture" -> q73 _)

  val oracles: Map[String, String] = Map(
    "q85_normalize_audit" -> q85Sql,
    "q27_text_stats" -> q27Sql,
    "q32_langid" -> q32Sql,
    "q107_langid_confusion" -> q107Sql,
    "q111_length_histogram" -> q111Sql,
    "q33_quality_score" -> q33Sql,
    "q34_token_count" -> q34Sql,
    "q35_fingerprint" -> q35Sql,
    "q69_repetition_ratio" -> q69Sql,
    "q73_source_mixture" -> q73Sql)
}
