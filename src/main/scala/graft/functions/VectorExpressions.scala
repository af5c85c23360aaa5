package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` evaluates interpreted
  * lambdas and materializes an intermediate array per row — measured
  * ~20s for the 2M-pair cosine queries at sf0.1. This expression is a
  * straight codegen'd loop over the two ArrayData buffers: same
  * left-to-right summation order (bit-identical results, so the
  * DuckDB oracles are unaffected), no allocation.
  *
  * Three typed modes, selected by the input element type:
  * array<double> → double (the cosine hot path), array<float> →
  * double (same cosine path WITHOUT the upfront double-cast copy:
  * each element widens to double BEFORE the multiply, so products and
  * the left-to-right sum are bit-identical to the double mode over
  * pre-cast arrays, while the arrays themselves stay half the bytes
  * through every broadcast/shuffle), and array<bigint> → bigint — the
  * EXACT fold the k-means chain scores with (overflow at 2^63 instead
  * of silent double rounding past 2^53; see
  * `queries.Similarity.qvecs`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // lazy: child dataTypes are unresolved at construction; cached so
  // interpreted eval doesn't re-pattern-match per row
  private lazy val elemType: Option[DataType] = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => Some(DoubleType)
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => Some(FloatType)
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => Some(LongType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<double>, two array<float>, or two " +
        s"array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType =
    if (elemType.contains(LongType)) LongType else DoubleType
  override def prettyName: String = "dot_product"

  override def nullable: Boolean = true

  private lazy val isLong: Boolean = elemType.contains(LongType)
  private lazy val isFloat: Boolean = elemType.contains(FloatType)

  /** Null semantics mirror the `aggregate(zip_with(a,b,_*_),0d,_+_)`
    * fold this expression replaces: a null element or a length
    * mismatch (zip_with null-pads) poisons the sum to NULL. */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    if (isLong) {
      var s = 0L
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        s += a.getLong(i) * b.getLong(i)
        i += 1
      }
      s
    } else if (isFloat) {
      // widen each element BEFORE the multiply: identical bits to the
      // double mode over pre-cast arrays (a float*float product would
      // round to 24-bit precision first)
      var s = 0.0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
      s
    } else {
      var s = 0.0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        s += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val (jt, zero, term) =
        if (isLong) ("long", "0L", (x: String, y: String) =>
          s"$x.getLong($i) * $y.getLong($i)")
        else if (isFloat) ("double", "0.0", (x: String, y: String) =>
          // widen BEFORE the multiply — see nullSafeEval
          s"((double) $x.getFloat($i)) * ((double) $y.getFloat($i))")
        else ("double", "0.0", (x: String, y: String) =>
          s"$x.getDouble($i) * $y.getDouble($i)")
      s"""
         |int $n = $a.numElements();
         |$jt $s = $zero;
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $s += ${term(a, b)};
         |    }
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** The one arity-checked builder both registration routes share
    * (the session-registry path below and GraftExtensions'
    * injectFunction) — a single definition so the two routes cannot
    * drift. */
  val dotProductBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"dot_product expects exactly 2 arguments, got ${exprs.length}")
    DotProduct(exprs.head, exprs(1))
  }

  /** Registers `dot_product` in the session's function registry
    * (idempotent); call once per query, then reference it with
    * `expr("dot_product(colA, colB)")` — the registry route keeps us
    * off Column's private expression constructor. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", dotProductBuilder, "built-in")
  }

  /** Convenience: dot_product over two columns known by name. */
  def dot(a: String, b: String): Column = expr(s"dot_product($a, $b)")
}
