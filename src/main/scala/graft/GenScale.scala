package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 rehearsal-corpus generator: `tools/run.sh graft.GenScale
  * <srcSfDir> <destDir> [replicas]` builds a `replicas`× corpus of the
  * two tables the heavy dedup/ANN/curation family reads (documents,
  * embeddings) and passes the remaining tables through unscaled, so
  * every query still runs against the dest dir.
  *
  * The scaling construction is ISOMORPHIC-replica, chosen so measured
  * cost curves are attributable to the ENGINE, not to drifted data
  * properties:
  *
  * - documents, replica r>0: every token gets the replica suffix
  *   `zq<r>` (a bijective token rename). Within a replica, all
  *   shingle-set relationships — near-dup clusters, Jaccard overlaps,
  *   fingerprints — are exactly those of the source corpus; across
  *   replicas, no shingle of length ≥1 can collide (every token
  *   differs), so candidate-pair structure is exactly `replicas`
  *   disjoint copies. A corpus whose per-unit work is constant by
  *   construction makes the scaling exponent of a bucketed-join shape
  *   directly readable from wall time.
  * - embeddings, replica r>0: a seeded dimension permutation (one per
  *   replica). Permutation is an isometry — every within-replica dot
  *   product, norm and cosine is preserved up to floating summation
  *   order (≤ ~1 ulp, far below the 6-decimal rounding every emitted
  *   cosine passes through, so query results per replica are
  *   identical) — while cross-replica
  *   cosines between a vector and its permuted twin are ~0 on the
  *   synthetic corpus, so threshold near-dup pair counts scale
  *   linearly, not quadratically.
  *
  * doc_id/vec_id are offset by r·10^7 to stay disjoint. n_chars is
  * recomputed from the rewritten text. This intentionally does NOT
  * claim distributional realism at sf1 (hot-key skew is the separate
  * Zipfian fixture in DedupScaleSpec); it measures how the ENGINE's
  * plan shapes scale when per-replica work is held constant.
  */
object GenScale {
  private[graft] val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    run(args, spark)
    spark.stop()
  }

  /** The generator body against a caller-owned session (main wraps it
    * with its own session + stop; GenScaleSpec drives it with the
    * shared test session). */
  private[graft] def run(args: Array[String], spark: SparkSession): Unit = {
    // flags are not positional: `GenScale src dest --zipf` must not
    // parse "--zipf" as the replica count (round-11 ADVICE)
    val pos = args.filterNot(_.startsWith("--"))
    val Array(srcDir, destDir) = pos.take(2)
    val replicas = pos.lift(2).map(_.toInt).getOrElse(10)
    zipf = args.contains("--zipf")
    // --docs-passthrough: replicate EMBEDDINGS only, byte-copy
    // documents with the other tables — the ANN-ladder rehearsal
    // (k > TwoLevelK needs ~1M vectors; replicating documents 60x
    // would just burn disk on queries the sweep doesn't run)
    val docsPassthrough = args.contains("--docs-passthrough")
    new java.io.File(destDir).mkdirs()

    if (!docsPassthrough)
      writeReplicated(documentsReplica(spark, srcDir, _), replicas,
        s"$destDir/documents.parquet")
    writeReplicated(embeddingsReplica(spark, srcDir, _), replicas,
      s"$destDir/embeddings.parquet")

    // pass-through for the rest of the star schema + events: BYTE
    // copies, not a Spark read/write roundtrip — the driver's files
    // carry TIMESTAMP(NANOS) columns that a rewrite silently converts
    // (micros / int64), which breaks the DuckDB oracle's timestamp
    // arithmetic against the copied tables (found by the full sf1
    // oracle sweep: date_trunc(BIGINT) / Timestamp(MS) binder errors)
    (Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events") ++
      (if (docsPassthrough) Seq("documents") else Seq.empty)).foreach { t =>
      val src = java.nio.file.Paths.get(s"$srcDir/$t.parquet")
      val dst = java.nio.file.Paths.get(s"$destDir/$t.parquet")
      // a stale dest (e.g. a directory from an earlier run) blocks a
      // flat file copy — clear it first
      if (java.nio.file.Files.isDirectory(dst))
        java.nio.file.Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      if (java.nio.file.Files.isRegularFile(src))
        java.nio.file.Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else { // directory source (chained rehearsal dirs): copy parts
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.list(src).forEach { p =>
          java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
    println(s"GENSCALE done: $destDir at ${replicas}x documents/embeddings")
  }

  private def writeReplicated(one: Int => DataFrame, replicas: Int,
      out: String): Unit =
    (0 until replicas).map(one).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out)

  /** `--zipf` mode (round-11 judge task 3): inject a deterministic
    * geometric boilerplate ladder so document-frequency skew is REAL,
    * not just seeded — boilerplate phrase j (`zzb<j> zzb<j> zzb<j>`,
    * its own 3-token shingle) is appended to every 2^j-th document,
    * j = 0..12, so the shingle df spectrum gains a head of
    * {n, n/2, n/4, ...} riding on the natural tail (plus hot
    * cross-phrase boundary shingles). With the fraction+floor df cap
    * this guarantees genuinely over-cap stop-phrase shingles at bench
    * scale — exactly the regime the cappedShingles skew fence (and
    * its bounded-hot-set anti-join branch) exists for. Injection
    * happens BEFORE the replica token rename, so replicas stay
    * disjoint and isomorphic. Deterministic by construction (doc_id
    * arithmetic, no RNG): the DuckDB oracle recomputes the identical
    * corpus. */
  private[graft] var zipf: Boolean = false

  private def withBoilerplate(text: org.apache.spark.sql.Column) = {
    val phrases = array((0 to 12).map { j =>
      when(pmod(col("doc_id"), lit(1L << j)) === 0,
        lit(Seq.fill(3)(s"zzb$j").mkString(" ")))
    }: _*)
    concat_ws(" ", text, array_join(filter(phrases, _.isNotNull), " "))
  }

  /** Replica r of documents: bijective token rename + id offset
    * (+ the `--zipf` boilerplate ladder when enabled). */
  private[graft] def documentsReplica(s: SparkSession, d: String, r: Int): DataFrame = {
    val base = T.tbl(s, d, "documents")
    val injected = if (zipf) withBoilerplate(col("text")) else col("text")
    val text =
      if (r == 0) injected
      else regexp_replace(injected, "(\\S+)", s"$$1zq$r")
    base.select(
      (col("doc_id") + lit(r * Stride)).as("doc_id"),
      text.as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Replica r of embeddings: seeded dim permutation + id offset. */
  private[graft] def embeddingsReplica(s: SparkSession, d: String, r: Int): DataFrame = {
    val base = T.tbl(s, d, "embeddings")
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    val perm = permutation(dim, seed = r)
    val emb =
      if (r == 0) col("embedding")
      else array(perm.map(j => col("embedding").getItem(j)): _*)
    base.select(
      (col("vec_id") + lit(r * Stride)).as("vec_id"),
      emb.as("embedding"), col("label"))
  }

  /** Deterministic Fisher–Yates permutation of 0 until n (seed 0 =
    * identity, matching replica 0's untouched frame). */
  private[graft] def permutation(n: Int, seed: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    if (seed == 0) return a
    val rnd = new java.util.Random(0x9E3779B9L * seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
