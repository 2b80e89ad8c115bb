package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused numeric-vector fold kernels — value-identical
  * (HashingSpec-pinned) to the composable higher-order forms the
  * similarity family scored with:
  *
  *  - [[VecDot]]:    `aggregate(zip_with(x, y, (p, q) => p.cast(double) *
  *    q.cast(double)), 0.0, (acc, v) => acc + v)`
  *  - [[VecSqDist]]: the same fold over `(p - q) * (p - q)`
  *
  * `ZipWith`/`ArrayAggregate` are `CodegenFallback`: every element of
  * every vector pair went through interpreted lambda dispatch with boxed
  * doubles — per SCORED PAIR in the brute-force/ANN paths, per
  * (row × centroid) in the IVF assign/probe paths. The fused kernels run
  * the multiply-accumulate as one primitive loop (left-to-right
  * summation, so the result is bit-identical to the composable fold and
  * to DuckDB's `list_inner_product` order).
  *
  * Null semantics matched exactly: null array -> null; `zip_with` pads
  * unequal lengths with null, and a null product/square poisons the
  * left fold -> unequal lengths or any null element yield null; two
  * empty arrays fold to the 0.0 init.
  *
  * DELIBERATE NARROWING vs the composable form: the old fold's
  * `cast("double")` accepted ANY castable element type — decimals
  * (which round differently under decimal->double cast, so silently
  * diverge), strings, booleans, timestamps. These kernels accept only
  * float/double/int/long/short/byte elements and REJECT everything else
  * at analysis time with a TypeCheckFailure naming the fix
  * (`cast to array<double> first`). A caller with string- or
  * decimal-element arrays must make the cast — and therefore the
  * rounding/parse semantics — explicit in their own plan.
  */
abstract class VecFoldExpression extends BinaryExpression {

  protected def squaredDiff: Boolean

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(et, _) => VecKernels.typeTag(et) >= 0
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected two arrays of float/double/int/long/short/byte elements, " +
        s"got ${left.dataType} and ${right.dataType}; decimal, string and " +
        "other castable element types are deliberately not auto-cast " +
        "(decimal->double rounds differently) — cast to array<double> " +
        "explicitly first")
  }

  @transient private lazy val leftTag =
    VecKernels.typeTag(left.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val rightTag =
    VecKernels.typeTag(right.dataType.asInstanceOf[ArrayType].elementType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.compute(a.asInstanceOf[ArrayData], leftTag,
      b.asInstanceOf[ArrayData], rightTag, squaredDiff)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecFold")
      s"""
        java.lang.Double $r = graft.functions.VecKernels.compute(
          $a, $leftTag, $b, $rightTag, $squaredDiff);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.doubleValue(); }
      """
    })
}

/** Left-fold dot product of two numeric-array columns, in double. */
case class VecDot(left: Expression, right: Expression)
    extends VecFoldExpression {
  override protected def squaredDiff: Boolean = false
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Left-fold squared L2 distance of two numeric-array columns, in double. */
case class VecSqDist(left: Expression, right: Expression)
    extends VecFoldExpression {
  override protected def squaredDiff: Boolean = true
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  def apply(x: Column, y: Column): Column =
    GraftShim.column(VecDot(GraftShim.expression(x), GraftShim.expression(y)))
}

object VecSqDist {
  def apply(x: Column, y: Column): Column =
    GraftShim.column(VecSqDist(GraftShim.expression(x), GraftShim.expression(y)))
}

object VecKernels {

  /** Element accessor tag; -1 marks an unsupported element type (the
    * composable form's `cast("double")` over decimals rounds differently,
    * so decimals are rejected at analysis rather than silently diverging). */
  private[functions] def typeTag(et: DataType): Int = et match {
    case DoubleType => 0
    case FloatType => 1
    case IntegerType => 2
    case LongType => 3
    case ShortType => 4
    case ByteType => 5
    case _ => -1
  }

  /** Shared fold. Returns null (boxed) for unequal lengths or any null
    * element — the zip_with padding / null-poisoned-fold semantics. */
  def compute(a: ArrayData, ta: Int, b: ArrayData, tb: Int,
              squaredDiff: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ta)
      val y = get(b, i, tb)
      val v = if (squaredDiff) (x - y) * (x - y) else x * y
      s += v
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  private def get(arr: ArrayData, i: Int, tag: Int): Double = tag match {
    case 0 => arr.getDouble(i)
    case 1 => arr.getFloat(i).toDouble
    case 2 => arr.getInt(i).toDouble
    case 3 => arr.getLong(i).toDouble
    case 4 => arr.getShort(i).toDouble
    case _ => arr.getByte(i).toDouble
  }
}
