package graft.queries

import graft.T._
import graft.functions.MinHashLsh
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline (north-star extension):
  * the composition a real corpus-prep job runs, built entirely from
  * operators already verified individually — the point of this query
  * is that the COMPOSITION is oracle-checked, not just the stages.
  *
  * Stages (in the order a production pipeline applies them):
  *  1. quality gate  — q33's composite score ≥ 0.6 (chosen INSIDE the
  *     test corpus's observed quality range 0.47-0.74, so the gate
  *     provably drops documents at every sf — a threshold below the
  *     minimum would verify vacuously)
  *  2. exact dedup   — q35's position-weighted fingerprint, keep the
  *     min doc_id per fingerprint among quality survivors
  *  3. near-dup drop — q28's MinHash/LSH candidates restricted to
  *     survivors; GREEDY rule: any doc that is the larger id (db) of
  *     a candidate pair is dropped (deterministic and one-pass; full
  *     cluster resolution is q48's job and overkill mid-pipeline)
  *  4. deterministic sample — keep phash("sample:" ++ doc_id) % 2 = 0
  *     (reproducible 50%, the q47 mechanism)
  *
  * Scale posture: every stage is a filter/agg/equality-join over
  * hash-partitionable keys (fp, (band, sig), doc_id); no stage
  * introduces a shuffle shape the component queries don't already
  * have, so the pipeline inherits their 100 TB posture.
  */
object Pipeline {

  private def q55(s: SparkSession, d: String): DataFrame = q55Impl(s, d, None)

  /** q55 over an injectable full-corpus LSH candidate frame (da, db) —
    * the materialized-core consumer (Cores.lshCandidates). Value-equal
    * to the self-contained form BY CONSTRUCTION: a band signature is a
    * row-local function of one document's text, so a pair is a
    * candidate iff its OWN two signatures collide — independent of
    * which other documents exist. The full-corpus candidate set
    * restricted to survivor×survivor pairs is therefore exactly the
    * candidate set built over survivors (band count r also matches:
    * both derive it from the FULL corpus count — see the stage-3
    * comment). CoresParitySpec pins the equality. */
  private[graft] def q55From(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = q55Impl(s, d, Some(cand))

  private def q55Impl(s: SparkSession, d: String,
      cand: Option[DataFrame]): DataFrame = {
    // 1. quality gate — the UNSORTED q33 body: composing q33 itself
    // would inline its corpus-wide output sort only to destroy the
    // order in the next join. `lang` rides through from this scan
    // (round-16): the output needs it, and carrying the tiny column
    // through stages 2-4 deletes the final re-scan + doc_id join the
    // pipeline used to pay to fetch it back — at corpus scale that
    // join is a full documents shuffle (guide §2.4), at bench scale a
    // third documents pass.
    // `fp` rides the SAME scan (round-16): the fingerprint is a
    // per-document fold, so TextAnalysis.fpCol computes it row-locally
    // on the quality survivors — `text` rides through stage 1 as an
    // extraKey and is dropped right here, before any exchange — and
    // stage 2's separate corpus scan (posexplode + vocab-dim join +
    // groupBy(doc_id) + the doc_id attach join) disappears: the
    // pipeline tokenizes the corpus twice, not three times, and the
    // md5 fold runs over SURVIVORS only where the old shape hashed
    // every document. Value identity: fpCol ≡ the explode+groupBy
    // fingerprint per doc (TextEdgeSpec), and the old inner attach
    // join was 1:1 on doc_id over the same null-text-filtered doc set.
    val quality = TextAnalysis.qualityScored(
        tbl(s, d, "documents"), "lang", "text")
      .filter(col("quality") >= 0.6)
      .withColumn("fp", TextAnalysis.fpCol(col("text")))
      .select(col("doc_id"), col("lang"), col("fp"), col("n_tokens"),
        col("quality"))
    // 2. exact dedup among survivors: min doc_id per fingerprint —
    // the bare fingerprint core, not q35 (same sort/window argument).
    // keep-first per fingerprint as a PARTIAL-AGGREGATABLE struct-min
    // (doc_id leads the struct, so min = lowest doc_id's whole row)
    // instead of a rank window: map-side combine collapses a
    // mega-duplicated fingerprint before the shuffle, where a window
    // would buffer the whole dup group in one task.
    val exactKept = quality
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("n_tokens"), col("quality"),
          col("lang")))
        .as("_k"))
      .select(col("_k.doc_id").as("doc_id"),
        col("_k.n_tokens").as("n_tokens"), col("_k.quality").as("quality"),
        col("_k.lang").as("lang"))
    // 3. near-dup drop: LSH candidate pairs among survivors, drop db.
    // Survivor filter BEFORE the signature build — the md5+minhash
    // work is the pipeline's dominant CPU cost and must not be spent
    // on documents stages 1-2 already dropped (the oracle filters
    // before hashing too).
    // gauge = the raw scan: the survivor join upstream would make
    // `.rdd` on the input itself execute AQE stages (see T.spread).
    // Band structure derives from the FULL corpus count exactly like
    // q28 (one scheme; survivors are a subset, so 0.1% of the band
    // choice's input is noise either way), mirrored in the oracle —
    // read from the cached T.snapCount snapshot scalar like q28.
    val dropped = cand match {
      case Some(c) =>
        // materialized-core path: restrict the full-corpus candidates
        // to survivor×survivor pairs (see q55From's equality argument)
        val ids = exactKept.select(col("doc_id"))
        c.select(col("da"), col("db"))
          .join(ids.withColumnRenamed("doc_id", "da"), Seq("da"))
          .join(ids.withColumnRenamed("doc_id", "db"), Seq("db"))
          .select(col("db").as("doc_id")).distinct()
      case None =>
        val r = if (snapCount(s, d, "documents") > 8000) 8 else 4
        // first-agreeing-band pair emission (the q28 lshCandidates
        // discipline): a duplicate pair agrees in every band, so
        // filtering to its first band row-locally cuts the pair
        // fan-out feeding the victim-set distinct by the band
        // multiplicity — the distinct itself stays (db, 8 bytes/row).
        val sigs = MinHashLsh.bandSignaturesPrev(
            spread(tbl(s, d, "documents")
              .join(exactKept.select(col("doc_id")), Seq("doc_id")),
              col("doc_id"), gauge = tbl(s, d, "documents")),
            lit(r))
          .repartition(col("band"), col("sig"))
        sigs.select(col("doc_id").as("da"), col("band"), col("sig"),
            col("prev").as("pa"))
          .join(sigs.select(col("doc_id").as("db"), col("band").as("band_b"),
            col("sig").as("sig_b"), col("prev").as("pb")),
            col("band") === col("band_b") && col("sig") === col("sig_b") &&
              col("da") < col("db") &&
              Dedup.firstAgreeingBand(col("pa"), col("pb")))
          .select(col("db").as("doc_id")).distinct()
    }
    // dropped is an id set of near-dup victims — broadcast the
    // anti-join so the survivor frame is never exchanged+sorted for
    // it, but FENCED (T.hintIdSet): the set grows ~linearly with the
    // corpus (its only a priori bound is the doc count), so past the
    // id fence it hash-builds on the shuffled side instead.
    val nearKept = exactKept.join(hintIdSet(s, d, "documents", dropped),
      Seq("doc_id"), "left_anti")
    // 4. deterministic 50% sample + stable output (`lang` was carried
    // from stage 1, so no documents re-join is needed here — every
    // nearKept row descends from a documents row, making the old
    // inner join a value-identical no-op)
    nearKept
      .filter(phash(concat(lit("sample:"), col("doc_id").cast("string"))) % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
      .orderBy("doc_id")
  }

  /** The oracle rebuilds each stage with the SAME fragments the
    * component oracles use (q33's score, q35's fingerprint, q28's
    * minhash bands, q47's hash-mod sample) and chains them. */
  private val q55Sql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |                  generate_subscripts(string_split(text,' '),1) AS ord FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
      |         sum(length(tok)) AS tok_chars,
      |         sum(CASE WHEN tok IN ('the','a','and','of','to','in') THEN 1 ELSE 0 END) AS n_stop
      |  FROM t GROUP BY doc_id),
      |quality AS (
      |  SELECT doc_id, n_tokens,
      |         0.4 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |             + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
      |             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality
      |  FROM st),
      |q AS (SELECT * FROM quality WHERE quality >= 0.6),
      |fp AS (SELECT doc_id, sum((${phashSql("tok")} * ord) % 1000000007) % 1000000007 AS fp
      |       FROM t GROUP BY doc_id),
      |exact_kept AS (
      |  SELECT doc_id, n_tokens, quality FROM (
      |    SELECT q.doc_id, q.n_tokens, q.quality,
      |           row_number() OVER (PARTITION BY fp.fp ORDER BY q.doc_id ASC) AS rn
      |    FROM q JOIN fp ON q.doc_id = fp.doc_id)
      |  WHERE rn = 1),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok,2) OVER w AS shingle
      |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      |  QUALIFY lead(tok,2) OVER w IS NOT NULL),
      |h AS (SELECT doc_id, ${phashSql("shingle")} AS h FROM sh
      |      WHERE doc_id IN (SELECT doc_id FROM exact_kept)),
      |mh AS (
      |  SELECT doc_id, i, min((h*(2*i+1) + 7919*i + 13) % 4294967311) AS mh
      |  FROM h CROSS JOIN generate_series(0,15) AS g(i) GROUP BY doc_id, i),
      |bw AS (
      |  SELECT CASE WHEN count(*) > 8000 THEN 8 ELSE 4 END AS r FROM documents),
      |sigs AS (
      |  SELECT doc_id, i//r AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS sig
      |  FROM mh, bw GROUP BY doc_id, i//r),
      |dropped AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM sigs a JOIN sigs b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |near_kept AS (
      |  SELECT * FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
      |SELECT k.doc_id, dd.lang, CAST(k.n_tokens AS BIGINT) AS n_tokens, k.quality
      |FROM near_kept k JOIN documents dd ON k.doc_id = dd.doc_id
      |WHERE ${phashSql("'sample:' || k.doc_id")} % 2 = 0
      |ORDER BY k.doc_id""".stripMargin

  /** q100: per-source dataset card — the one-table summary a corpus
    * release ships: volume (docs, tokens, languages), micro-averaged
    * quality (the q33 formula applied to SOURCE-level exact integer
    * sums, so no derived doubles are ever re-aggregated — each card
    * number is a single IEEE tree over exactly-agreed BIGINTs), and
    * near-duplication rate (q80's membership computation, shared).
    * Like q55, the point is that the COMPOSITION is oracle-checked,
    * not just the member operators.
    *
    * Scale shape: three independent per-source partial aggs (metadata,
    * token stats, dup membership) joined on the O(sources) key — the
    * joins touch card-sized frames only; corpus-scale work is the
    * shared token explode and the shared q25 pair build. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents")
    val meta = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
    val tok = TextAnalysis.docTokenStats(docs, "source")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_distinct")).as("sum_distinct"),
        sum(col("n_stop")).as("sum_stop"))
    val dup = Corpus.dupBySource(s, d)
      .select(col("source"), col("n_dup"), col("dup_ratio"))
    def ttr = col("sum_distinct").cast("double") /
      col("total_tokens").cast("double")
    def stopR = col("sum_stop").cast("double") /
      col("total_tokens").cast("double")
    meta.join(tok, Seq("source")).join(dup, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_tokens"),
        // Raw IEEE trees over exact integer sums (T.scala rules).
        ttr.as("ttr"), stopR.as("stop_ratio"),
        (lit(0.4) * ttr +
          lit(0.3) * least(lit(1.0), col("total_tokens").cast("double") /
            col("n_docs").cast("double") / 100.0) +
          lit(0.3) * (lit(1.0) - stopR)).as("quality"),
        col("n_dup"), col("dup_ratio"))
      .orderBy("source")
  }

  /** Oracle: reuses the q25 pair chain (Corpus.pairCtes → dup/per, the
    * q80 twins) and the q33 token-stat CTE (st33 from qualitySqlCtes,
    * joined back to documents for source — the Spark side carries
    * source through the groupBy key instead; same values). */
  private val q100Sql =
    s"""WITH ${Corpus.pairCtes},
      |dup AS (SELECT DISTINCT src AS doc_id FROM edges),
      |per AS (
      |  SELECT source, count(*) AS n_dup
      |  FROM documents JOIN dup USING (doc_id) GROUP BY source),
      |${TextAnalysis.qualitySqlCtes},
      |agg AS (
      |  SELECT d.source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |         sum(n_distinct) AS sum_distinct, sum(n_stop) AS sum_stop
      |  FROM st33 JOIN documents d USING (doc_id) GROUP BY 1),
      |meta AS (
      |  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
      |  FROM documents GROUP BY 1)
      |SELECT m.source, n_docs, n_langs, total_tokens,
      |       CAST(sum_distinct AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS ttr,
      |       CAST(sum_stop AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS stop_ratio,
      |       0.4 * (CAST(sum_distinct AS DOUBLE) / CAST(total_tokens AS DOUBLE))
      |     + 0.3 * least(1.0, CAST(total_tokens AS DOUBLE)
      |                        / CAST(n_docs AS DOUBLE) / 100.0)
      |     + 0.3 * (1.0 - CAST(sum_stop AS DOUBLE) / CAST(total_tokens AS DOUBLE))
      |         AS quality,
      |       coalesce(p.n_dup, 0) AS n_dup,
      |       CAST(coalesce(p.n_dup, 0) AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |         AS dup_ratio
      |FROM meta m JOIN agg USING (source) LEFT JOIN per p USING (source)
      |ORDER BY m.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_curation_pipeline" -> q55 _,
    "q100_dataset_card" -> q100 _)

  val oracles: Map[String, String] = Map(
    "q55_curation_pipeline" -> q55Sql,
    "q100_dataset_card" -> q100Sql)
}
