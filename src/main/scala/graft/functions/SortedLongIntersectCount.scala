package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` for two SORTED long arrays via a merge walk.
  *
  * Spark's `array_intersect` builds a hash set per call — per ROW in a
  * pairwise-similarity join, which dominates n-gram Jaccard dedup (SURVEY
  * §beyond-reference ops). Sorting each document's shingle-hash array once
  * in the upstream projection turns the per-pair cost into an
  * allocation-free two-pointer walk, and `doGenCode` keeps the whole stage
  * inside Tungsten codegen by calling the same walk.
  *
  * Inputs MUST be sorted ascending and duplicate-free (use
  * `array_sort(array_distinct(...))` upstream); the result is then exactly
  * `size(array_intersect(a, b))`.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedLongIntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {

  /** The two-pointer merge walk; both arrays sorted and distinct. */
  def compute(x: ArrayData, y: ArrayData): Int = {
    var i = 0
    var j = 0
    var c = 0
    val nx = x.numElements()
    val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    GraftShim.column(SortedLongIntersectCount(
      GraftShim.expression(a), GraftShim.expression(b)))
}
