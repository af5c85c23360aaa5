package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pathological-text sweep (round 10): the text/dedup/corpus family
  * must survive — and stay per-row correct on — the dirty rows a real
  * web corpus is full of: empty text, NULL text/lang/source,
  * whitespace-only, a single 20k-char unbroken token, mixed-script
  * unicode (CJK + RTL + astral-plane emoji + combining marks), and
  * maximal repetition. The sf testdata is clean by construction, so
  * none of these rows ever hit the operators before this spec; the
  * NULL lang/source rows also exercise the null-safe group semantics
  * the rank-fence family commits to (a NULL key is a normal group).
  *
  * The same fixture was swept against the DuckDB oracles out-of-band
  * (Verify + tools/check.py on a dir with these rows appended — the
  * BASELINE.md round-10 session record); this spec keeps the
  * in-suite half: crash-free execution plus the per-doc invariants
  * that pin the rows actually flowed through, not silently dropped.
  */
class TextEdgeSpec extends SparkSpec {

  private val huge = "z" * 20000
  private val uni = "héllo wörld 你好 مرحبا " +
    "🚀🚀 é combining"

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-edge").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "embeddings")
    tables.foreach { t =>
      graft.T.tbl(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val edge = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(9000001L, "", "en", "edge", 0L),
        Row(9000002L, null, null, "edge", null),
        Row(9000003L, "   \t  ", "en", "edge", 6L),
        Row(9000004L, huge, "de", "edge", huge.length.toLong),
        Row(9000005L, uni, null, null, uni.codePointCount(0, uni.length).toLong),
        Row(9000006L, "12345 67890 12345", "fr", "edge", 17L),
        Row(9000007L, "a", "es", "edge", 1L),
        Row(9000008L, "the the the the the the the the", "en", "edge", 31L)),
      schema)
    graft.T.tbl(spark, sfDir, "documents").unionByName(edge)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** The documents-reading slice of the inventory (text analysis,
    * dedup, corpus stats, curation) — the queries a dirty web corpus
    * actually flows through. */
  private val family = Seq(
    "q24_dedup_exact", "q25_minhash_textdedup", "q27_text_stats",
    "q28_minhash_lsh", "q29_simhash_neardup", "q32_langid",
    "q33_quality_score", "q34_token_count", "q35_fingerprint",
    "q46_tfidf", "q47_hash_sample", "q48_dedup_clusters",
    "q55_curation_pipeline", "q58_decontaminate", "q60_stratified_sample",
    "q62_ngram_counts", "q63_shard_pack", "q69_repetition_ratio",
    "q71_chunk_windows", "q72_span_dedup", "q73_source_mixture",
    "q75_unigram_surprisal", "q77_token_entropy", "q79_length_outliers",
    "q80_dup_by_source", "q83_containment_dedup", "q84_bloom_decontaminate",
    "q85_normalize_audit", "q87_domain_cap", "q90_vocab_coverage",
    "q91_source_overlap", "q92_incremental_dedup", "q96_perplexity_buckets",
    "q98_pmi_cooccur", "q99_temporal_holdout", "q103_countmin_audit",
    "q105_soft_quality_sample", "q111_length_histogram")

  family.foreach { name =>
    test(s"$name survives pathological text rows") {
      SparkEntry.queries(name)(spark, dir).collect() // must not throw
    }
  }

  test("per-doc outputs carry the pathological rows (not silently dropped)") {
    import org.apache.spark.sql.functions.col
    // q34 token counts: per-doc output, every edge row present with
    // sane values — the 20k-char unbroken token is ONE ws token, the
    // empty text is one empty ws token, repetition is 8
    val rows = SparkEntry.queries("q34_token_count")(spark, dir)
      .filter(col("doc_id") >= 9000000L).collect()
    assert(rows.map(_.getLong(0)).toSet == (9000001L to 9000008L).toSet,
      s"q34 must emit all 8 edge rows: ${rows.map(_.getLong(0)).toSet}")
    val q34 = rows.filterNot(_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q34(9000001L) == 1L && q34(9000004L) == 1L && q34(9000008L) == 8L,
      s"ws token counts off: $q34")
    // q33 quality: row-local scoring must emit one row per edge doc
    // that carries text (NULL text may legitimately drop or null out)
    val q33 = SparkEntry.queries("q33_quality_score")(spark, dir)
      .filter(col("doc_id") >= 9000000L).count()
    assert(q33 >= 7, s"q33 emitted only $q33 of the edge docs")
  }

  /** The row-local fold fingerprint (TextAnalysis.fpCol, q55's
    * stage 2) must agree bit-for-bit with the explode+groupBy
    * form — the oracle's unnest shape, kept here as the reference — on
    * every document of the edge corpus: the empty-text,
    * whitespace-only, 20k-char-single-token, unicode and
    * maximal-repetition rows, and the null-text doc's ABSENCE from
    * both sides. */
  test("fpCol ≡ fingerprintsOf per document on the edge corpus") {
    import org.apache.spark.sql.functions._
    val docs = graft.T.tbl(spark, dir, "documents")
    val viaExplode = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("ord", "tok")))
      .groupBy("doc_id")
      .agg((sum((graft.T.phash(col("tok")) * (col("ord") + 1L)) % 1000000007L)
        % 1000000007L).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFold = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.fpCol(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!viaExplode.contains(9000002L), "the null-text doc has no tokens")
    assert(viaFold == viaExplode,
      s"fold/explode fingerprint mismatch: ${
        (viaFold.toSet diff viaExplode.toSet).take(5)} vs ${
        (viaExplode.toSet diff viaFold.toSet).take(5)}")
  }
}
