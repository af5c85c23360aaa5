package graft

import org.apache.spark.sql.functions._

/** The snapshot-scalar caches key on dir CONTENT, not dir path
  * (T.dirFingerprint): a dir rewritten in place within one JVM — the
  * round-7 testdata-regen failure mode, or a test overwriting a tmp
  * path — must yield fresh scalars, never silently replay the previous
  * corpus's counts/centroids. */
class SnapshotCacheSpec extends SparkSpec {

  test("snapScalar invalidates when the dir's parquet bytes change in place") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapfp").toString
    spark.range(100).select(col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(T.snapCount(spark, tmp, "embeddings") == 100L)
    // memoized: a second read is served from cache (compute not re-run)
    var computed = false
    T.snapScalar(tmp, "count:embeddings") { computed = true; -1L }
    assert(!computed, "unchanged dir must serve the memoized scalar")
    // in-place rewrite → new fingerprint → fresh count, not stale 100
    Thread.sleep(5) // ensure mtime can differ even on coarse clocks
    spark.range(250).select(col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(T.snapCount(spark, tmp, "embeddings") == 250L,
      "rewritten dir must re-derive the scalar")
  }

  test("fingerprint is stable across reads and distinct across contents") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapfp2").toString
    spark.range(10).write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val f1 = T.dirFingerprint(tmp)
    assert(T.dirFingerprint(tmp) == f1)
    Thread.sleep(5)
    spark.range(20).write.mode("overwrite").parquet(s"$tmp/t.parquet")
    assert(T.dirFingerprint(tmp) != f1, "content change must change the fingerprint")
    // non-local (absent) paths degrade to a constant — caller-owned
    // immutability, documented in T.dirFingerprint
    assert(T.dirFingerprint("/graft-no-such-dir") == "nonlocal")
  }

  test("tbl re-infers the schema of a table rewritten in place") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-schemafp").toString
    spark.range(3).write.mode("overwrite").parquet(s"$tmp/t.parquet")
    assert(T.tbl(spark, tmp, "t").columns.toSeq == Seq("id"))
    Thread.sleep(5) // ensure mtime can differ even on coarse clocks
    spark.range(3).select(col("id"), col("id").cast("string").as("extra"))
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val df = T.tbl(spark, tmp, "t")
    assert(df.columns.toSeq == Seq("id", "extra"),
      "rewritten table must be read with its new schema")
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
  }

  test("tbl returns the same schema from the memo as from its inferring call") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-schemamemo").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // a private copy of the (single-file) testdata tables, so the
    // first call here is the inferring one
    tables.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, s"$t.parquet"),
      java.nio.file.Paths.get(tmp, s"$t.parquet")))
    tables.foreach { t =>
      val first = T.tbl(spark, tmp, t).schema
      assert(T.tbl(spark, tmp, t).schema == first, s"$t: cached schema differs")
      // reading with the given schema keeps the inferred nullability
      assert(first.map(f => f.name -> f.nullable) ==
        spark.read.parquet(s"$tmp/$t.parquet").schema.map(f => f.name -> f.nullable),
        s"$t: nullability differs from a plain inferring read")
    }
  }
}
