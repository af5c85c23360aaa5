package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Pre-resolved centroid table for the assignment kernels: plain JVM
  * arrays the scoring loop can run at JIT speed, built once on the
  * driver and shipped by broadcast. */
final class CentTable(
    val cids: Array[Long],
    val css: Array[Array[Long]],
    val cns: Array[Double])
    extends Serializable

/** [[CentTable]] pair for two-level routing: coarse groups plus each
  * group's fine members, keyed by gid. */
final class RouteTable(
    val coarse: CentTable,
    val fineOf: java.util.HashMap[java.lang.Long, CentTable])
    extends Serializable

object VectorKernels {

  /** Bit-exact twin of Spark's `round(col, 6)` on doubles (RoundBase
    * uses scala BigDecimal(double), i.e. java BigDecimal.valueOf /
    * Double.toString canonicalization — NOT the exact binary
    * expansion `new java.math.BigDecimal(double)` would give). The
    * driver routine (Similarity.coarseGroups) rounds the same way, so
    * every evaluation site agrees to the last bit. */
  def round6(x: Double): Double = {
    // Fast path: the HALF_UP decision at scale 6 is made on the
    // shortest-decimal value d(x), which sits within 0.5 ulp of x;
    // in y = x·1e6 units that shift plus the multiply's own rounding
    // is < ~3e-10 for |x| ≤ 2, far inside the 1e-8 boundary band —
    // so away from a .5 boundary by > 1e-8 the fast integer round is
    // bit-identical to the BigDecimal path. The guard admits ONLY
    // |x| ≤ 2 (cosines live in [-1, 1]): at larger magnitudes the
    // shortest-decimal shift grows with ulp(x)·1e6 and would swamp
    // the band, silently diverging from Spark's round() for a future
    // non-cosine caller. Boundary-adjacent values (probability ~1e-8,
    // and exact .5s) and anything outside ±2 fall back. Eliminates
    // the Double.toString that dominated the assignment kernel
    // (measured ~70 % of scoreInto samples at 2.2 B calls on the
    // 1.1M-vector rehearsal).
    val y = math.abs(x) * 1e6
    val frac = y - math.floor(y)
    if (y <= 2e6 && math.abs(frac - 0.5) > 1e-8) {
      val r = math.floor(y + 0.5)
      // never emit -0.0 (BigDecimal has no signed zero, so the slow
      // path yields +0.0 for any tiny negative input)
      if (x < 0 && r != 0.0) -(r / 1e6) else r / 1e6
    } else
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Driver-side [[CentTable]] builder from (cid, cs, cn) rows. */
  def centTableLocal(rows: Array[(Long, Seq[Long], Double)]): CentTable =
    new CentTable(rows.map(_._1), rows.map(_._2.toArray), rows.map(_._3))

  /** Driver-side [[RouteTable]] builder from (gid, gs, gn) coarse and
    * (gid, cid, cs, cn) fine rows. */
  def routeTableLocal(coarse: Array[(Long, Seq[Long], Double)],
      fine: Array[(Long, Long, Seq[Long], Double)]): RouteTable = {
    val m = new java.util.HashMap[java.lang.Long, CentTable]()
    fine.groupBy(_._1).foreach { case (gid, rows) =>
      m.put(gid,
        new CentTable(rows.map(_._2), rows.map(_._3.toArray), rows.map(_._4)))
    }
    new RouteTable(centTableLocal(coarse), m)
  }

  /** Score `qa` against every centroid of `tbl` — exact BIGINT dot,
    * one IEEE divide, round-6, degenerate denominator → -1.0 — and
    * fold each into the (cos desc, cid asc)-ordered keep buffer.
    * Explicit tie-break on cid, so insertion order never matters.
    * Returns the new fill count. */
  private def scoreInto(qa: Array[Long], qn: Double, tbl: CentTable,
      topCos: Array[Double], topCid: Array[Long], filled0: Int): Int = {
    val m = topCos.length
    var filled = filled0
    var c = 0
    while (c < tbl.cids.length) {
      val cs = tbl.css(c)
      if (cs.length != qa.length)
        throw new IllegalStateException(
          s"assignment kernel: centroid dim ${cs.length} != vector dim ${qa.length}")
      val cid = tbl.cids(c)
      val den = qn * tbl.cns(c)
      var cos = -1.0
      if (den > 0) {
        var dot = 0L
        var j = 0
        while (j < qa.length) { dot += qa(j) * cs(j); j += 1 }
        cos = round6(dot.toDouble / den)
      }
      var p = filled
      while (p > 0 && (cos > topCos(p - 1) ||
          (cos == topCos(p - 1) && cid < topCid(p - 1)))) p -= 1
      if (p < m) {
        var s = math.min(filled, m - 1)
        while (s > p) { topCos(s) = topCos(s - 1); topCid(s) = topCid(s - 1); s -= 1 }
        topCos(p) = cos
        topCid(p) = cid
        if (filled < m) filled += 1
      }
      c += 1
    }
    filled
  }

  private def toRows(topCos: Array[Double], topCid: Array[Long],
      filled: Int): ArrayData = {
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      out(i) = new GenericInternalRow(Array[Any](topCos(i), topCid(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Flat top-`keep` assignment: the row-local replacement for the
    * broadcast-join + row_number() window shape, whose n·k-row window
    * SORT (each row dragging the ~0.5 KB quantized vector through the
    * exchange) was measured spilling tens of GB per pass at 1.1M
    * vectors × k=2149. Same rounded cosine, same (ccos desc, cid asc)
    * order, zero shuffle. Returns array<struct<ccos double, cid>>. */
  def topkAssign(q: ArrayData, qn: Double, tbl: CentTable, keep: Int): ArrayData = {
    val qa = q.toLongArray()
    val m = math.min(keep, tbl.cids.length)
    val topCos = new Array[Double](m)
    val topCid = new Array[Long](m)
    toRows(topCos, topCid, scoreInto(qa, qn, tbl, topCos, topCid, 0))
  }

  /** Two-level assignment: route to the `probes` best coarse groups
    * (gcos desc, gid asc), then top-`keep` over exactly those groups'
    * fine members — the IVF coarse/fine semantics, in one projection.
    * Work per row: kc + probes·k/kc dots ≈ 3√k instead of k. */
  def topkRoute(q: ArrayData, qn: Double, tbl: RouteTable,
      probes: Int, keep: Int): ArrayData = {
    val qa = q.toLongArray()
    val kc = tbl.coarse.cids.length
    val mp = math.min(probes, kc)
    val gCos = new Array[Double](mp)
    val gIds = new Array[Long](mp)
    val nProbes = scoreInto(qa, qn, tbl.coarse, gCos, gIds, 0)
    val topCos = new Array[Double](keep)
    val topCid = new Array[Long](keep)
    var filled = 0
    var g = 0
    while (g < nProbes) {
      val fine = tbl.fineOf.get(gIds(g))
      // internal callers can't hit this (coarseGroups emits only live
      // gids), but routeTableLocal takes any coarse/fine pair: an
      // unmatched gid must fail with a named error, not an NPE inside
      // codegen'd code
      if (fine == null)
        throw new IllegalStateException(
          s"topk_route: coarse gid ${gIds(g)} has no fine-table entry")
      filled = scoreInto(qa, qn, fine, topCos, topCid, filled)
      g += 1
    }
    toRows(topCos, topCid, filled)
  }
}

/** Common scaffolding for the two assignment expressions: both take
  * (q: array<bigint>, qn: double) children plus a centroid table that
  * rides a Spark `Broadcast` variable, and return
  * array<struct<ccos double, cid bigint>> sorted by (ccos desc,
  * cid asc). Null in q/qn → null out.
  *
  * The broadcast ships the table torrent-wise once per EXECUTOR and
  * deserializes it once per executor (cached in generated-class
  * mutable state, one `.value()` per task); the expression tree
  * carries only the handle. A foldable literal would instead ride the
  * stage's task binary and be deserialized per TASK — measured slower
  * at every table size tried, from 2048 rows (~1 MB) to the two-level
  * fine table's 4√n ceiling (~126k rows ≈ 65 MB at 10⁹ vectors):
  * BASELINE.md round 13. Not SQL-registered: a broadcast handle has
  * no SQL literal form. */
abstract class AssignExpr extends Expression {

  protected def q: Expression = children(0)
  protected def qn: Expression = children(1)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ccos", DoubleType, nullable = false),
      StructField("cid", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = q.nullable || qn.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (!q.dataType.isInstanceOf[ArrayType] ||
        q.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: q must be array<bigint>, got ${q.dataType.sql}")
    else if (qn.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: qn must be double, got ${qn.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  /** The kernel invocation as generated Java, given q/qn value refs. */
  protected def kernelCall(ctx: CodegenContext, qV: String, qnV: String): String

  protected def kernelEval(qv: ArrayData, qnv: Double): ArrayData

  override def eval(input: InternalRow): Any = {
    val qv = q.eval(input)
    val qnv = qn.eval(input)
    if (qv == null || qnv == null) null
    else kernelEval(qv.asInstanceOf[ArrayData], qnv.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val qEv = q.genCode(ctx)
    val qnEv = qn.genCode(ctx)
    val call = kernelCall(ctx, qEv.value.toString, qnEv.value.toString)
    ev.copy(code =
      code"""
         |${qEv.code}
         |${qnEv.code}
         |boolean ${ev.isNull} = ${qEv.isNull} || ${qnEv.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $call;
         |}
       """.stripMargin)
  }
}

/** `topk_assign_bc(q, qn)` — flat per-row top-`keepV` centroid
  * assignment against a broadcast [[CentTable]].
  * See [[VectorKernels.topkAssign]]. */
case class TopKAssignBc(
    children: Seq[Expression],
    bc: org.apache.spark.broadcast.Broadcast[CentTable],
    keepV: Int) extends AssignExpr {

  override def prettyName: String = "topk_assign_bc"

  @transient private lazy val table: CentTable = bc.value

  override protected def kernelEval(qv: ArrayData, qnv: Double): ArrayData =
    VectorKernels.topkAssign(qv, qnv, table, keepV)

  override protected def kernelCall(ctx: CodegenContext,
      qV: String, qnV: String): String = {
    val bcRef = ctx.addReferenceObj("centBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val tblVar = ctx.addMutableState(classOf[CentTable].getName, "centTbl",
      v => s"$v = (${classOf[CentTable].getName}) $bcRef.value();")
    s"graft.functions.VectorKernels.topkAssign($qV, $qnV, $tblVar, $keepV)"
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** `topk_route_bc(q, qn)` — two-level IVF assignment in one
  * projection against a broadcast [[RouteTable]]: route to the
  * `probesV` best coarse groups, top-`keepV` over only those groups'
  * fine centroids. See [[VectorKernels.topkRoute]]. */
case class TopKRouteBc(
    children: Seq[Expression],
    bc: org.apache.spark.broadcast.Broadcast[RouteTable],
    keepV: Int, probesV: Int) extends AssignExpr {

  override def prettyName: String = "topk_route_bc"

  @transient private lazy val table: RouteTable = bc.value

  override protected def kernelEval(qv: ArrayData, qnv: Double): ArrayData =
    VectorKernels.topkRoute(qv, qnv, table, probesV, keepV)

  override protected def kernelCall(ctx: CodegenContext,
      qV: String, qnV: String): String = {
    val bcRef = ctx.addReferenceObj("routeBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val tblVar = ctx.addMutableState(classOf[RouteTable].getName, "routeTbl",
      v => s"$v = (${classOf[RouteTable].getName}) $bcRef.value();")
    s"graft.functions.VectorKernels.topkRoute($qV, $qnV, $tblVar, $probesV, $keepV)"
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
