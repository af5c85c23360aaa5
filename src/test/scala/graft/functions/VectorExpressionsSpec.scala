package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ExprColumn

/** DotProduct matches the HOF fold it replaces — including the null
  * and length-mismatch poisoning semantics. */
class VectorExpressionsSpec extends SparkSpec {

  private def viaHof = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
    (acc, x) => acc + x)

  test("dot_product agrees with aggregate(zip_with) on clean and dirty input") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](4.0, 5.0, 6.0))
    ).toDF("a", "b")
    val rows = df.select(
      expr("dot_product(a, b)").as("native"), viaHof.as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) == 32.0)
    assert(rows(1).isNullAt(0)) // null element poisons
    assert(rows(2).isNullAt(0)) // length mismatch poisons
  }

  test("float mode is bit-identical to double mode over pre-cast arrays") {
    import spark.implicits._
    VectorFunctions.register(spark)
    // values chosen so float storage precision differs from the
    // decimal literal (0.1f != 0.1): the float mode must widen each
    // ELEMENT before multiplying, not multiply in float
    val df = Seq(
      (Seq(0.1f, 0.3f, 0.7f, 1e-7f), Seq(0.9f, 1.1f, -0.3f, 3e7f)),
      (Seq(1.5f, -2.25f), Seq(4.0f, 8.0f))
    ).toDF("fa", "fb")
      .withColumn("da", transform(col("fa"), x => x.cast("double")))
      .withColumn("db", transform(col("fb"), x => x.cast("double")))
    val rows = df.select(
      expr("dot_product(fa, fb)").as("flt"),
      expr("dot_product(da, db)").as("dbl")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"float mode diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("round6 fast path is bit-identical to the BigDecimal reference") {
    // the reference = Spark's RoundBase semantics (scala BigDecimal on
    // a double, i.e. shortest-decimal canonicalization, HALF_UP) — the
    // kernel's fast path must never diverge, including on boundary
    // values, tiny negatives (no -0.0!), and exact .5s at scale 6
    def ref(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(42)
    val probes =
      Seq(0.0, -0.0, 1.0, -1.0, 0.1234565, -0.1234565, 0.1234575,
        0.0000005, -0.0000005, -1e-9, 1e-9, 0.9999995, -0.9999995) ++
        (1 to 2000000).map(_ => rnd.nextDouble() * 2.2 - 1.1) ++
        // boundary-dense: values manufactured right at .5 decimals
        (1 to 100000).map(i => (i * 2 - 1) / 2e6 + (rnd.nextInt(3) - 1) * 1e-9) ++
        // beyond the |x| ≤ 2 fast-path guard: must route through the
        // BigDecimal path and STILL match (a non-cosine caller at
        // magnitudes where shortest-decimal drift swamps the 1e-8
        // band must not silently diverge from Spark's round())
        Seq(2.0, -2.0, 2.0000005, -2.0000005, math.nextUp(2.0),
          math.nextDown(2.0), 3.5, 1e3 + 0.0000005, 4.4e9, -4.4e9,
          123456.1234565, 1e15, 9.0071992547409925e9) ++
        (1 to 100000).map(_ => (rnd.nextDouble() - 0.5) * 2e10)
    probes.foreach { x =>
      val f = VectorKernels.round6(x)
      val r = ref(x)
      assert(java.lang.Double.doubleToLongBits(f) ==
        java.lang.Double.doubleToLongBits(r),
        s"round6($x): fast=$f ref=$r")
    }
  }

  test("topk_assign equals the join+window assignment it replaced") {
    import spark.implicits._
    VectorFunctions.register(spark)
    // deterministic corpus + centroid table with engineered ties
    // (duplicate centroid vectors → equal cosines → cid tie-break)
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 500L).map { i =>
      (i, Seq.fill(8)(rnd.nextInt(2001).toLong - 1000))
    }
    val v = vecs.toDF("vec_id", "q")
      .withColumn("qn", sqrt(expr("dot_product(q, q)").cast("double")))
      .filter(col("qn") > 0)
    val cents = (0L until 12L).map { c =>
      // centroids 3 and 7 are identical: a guaranteed cosine tie
      val base = if (c == 7L) 3L else c
      val r2 = new scala.util.Random(base)
      (c, Seq.fill(8)(r2.nextInt(2001).toLong - 1000),
        math.sqrt(Seq.fill(8)(r2.nextInt(2001).toLong - 1000)
          .map(x => x.toDouble * x).sum))
    }
    // recompute cn from the SAME cs values (the r2 reuse above drew
    // fresh values; fix by deriving cn from cs)
    val table = cents.map { case (c, cs, _) =>
      (c, cs, math.sqrt(cs.map(x => x.toDouble * x).sum))
    }
    val bcT = spark.sparkContext.broadcast(
      VectorKernels.centTableLocal(table.toArray))
    for (keep <- Seq(1, 2, 5)) {
      val kernel = v.select(col("vec_id"),
          explode(ExprColumn.column(TopKAssignBc(
            Seq(ExprColumn.expression(col("q")), ExprColumn.expression(col("qn"))),
            bcT, keep))).as("_a"))
        .select(col("vec_id"), col("_a.cid"), col("_a.ccos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val c = table.toDF("cid", "cs", "cn")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
      val window = v.join(broadcast(c), lit(true))
        .withColumn("ccos", round(expr("dot_product(q, cs)").cast("double") /
          (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= keep)
        .select(col("vec_id"), col("cid"), col("ccos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(kernel.sortBy(x => (x._1, x._2)) == window.sortBy(x => (x._1, x._2)),
        s"kernel vs window divergence at keep=$keep")
    }
    bcT.destroy()
  }

  test("topk_route names the missing gid instead of NPEing") {
    // routeTableLocal takes any coarse/fine pair, so a coarse gid can
    // come with no fine members; the kernel must fail with a named
    // error, not a bare NPE inside codegen'd code
    val coarse = Array(
      (0L, Seq(1L, 0L), 1.0),
      (1L, Seq(0L, 1L), 1.0))
    val fine = Array( // gid 1 has NO fine entry
      (0L, 10L, Seq(1L, 0L), 1.0),
      (0L, 11L, Seq(1L, 1L), math.sqrt(2.0)))
    val tbl = VectorKernels.routeTableLocal(coarse, fine)
    val ex = intercept[IllegalStateException] {
      VectorKernels.topkRoute(ArrayData.toArrayData(Array(1L, 1L)),
        math.sqrt(2.0), tbl, 2, 1)
    }
    assert(ex.getMessage.contains("topk_route") && ex.getMessage.contains("gid 1"),
      s"expected a named missing-gid error, got: ${ex.getMessage}")
  }
}
