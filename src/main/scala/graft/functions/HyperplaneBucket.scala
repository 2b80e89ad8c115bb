package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Sign-random-projection LSH bucket of an embedding: bit `p` is set iff
  * the dot product with deterministic pseudo-random hyperplane `p` is
  * non-negative.
  *
  * The composable form — one `aggregate(zip_with(vec, typedLit(plane)))`
  * per plane — builds `numPlanes` higher-order-function trees per bucket,
  * each carrying a `dims`-element literal array; higher-order functions
  * evaluate interpreted (boxed lambda per element), and a multi-table
  * layout multiplies the whole tree by the table count. This expression
  * evaluates all planes in one primitive loop over a precomputed
  * `numPlanes x dims` matrix. Same left-to-right summation order; null
  * ELEMENTS and length mismatches map to bucket 0, matching the
  * composable form's null-poisoned dot. One deliberate divergence: a NULL
  * vector yields a NULL bucket (null-intolerant UnaryExpression), so the
  * row drops out of the bucket equi-join entirely — the composable form
  * sent null vectors to bucket 0, where they polluted that bucket's
  * candidate set without ever producing a rankable similarity.
  *
  * Plane components are derived from SHA-256 of "(table_)plane_dim"
  * mapped to [-1, 1) — reproducible anywhere, no RNG state.
  *
  * Oracle note: the sim2/sim7 DuckDB twins recompute the buckets
  * (`TextQueries.hyperplaneBucketCtes`), so they encode BOTH edge rules
  * explicitly: NULL vector -> NULL bucket (row leaves the equi-join), and
  * length-mismatched / null-element vectors -> bucket 0 of EVERY table
  * (the null-poisoned dot). Callers that want cleaner candidate sets can
  * filter malformed vectors (null / wrong size) before bucketing.
  */
case class HyperplaneBucket(child: Expression, numPlanes: Int, dims: Int,
                            table: Int) extends UnaryExpression {

  require(numPlanes > 0 && numPlanes <= 62, s"numPlanes out of range: $numPlanes")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected array<float> or array<double> input, got $other")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val planes: Array[Array[Double]] =
    HyperplaneBucket.planeMatrix(numPlanes, dims, table)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBucket.bucket(input.asInstanceOf[ArrayData], planes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matrix = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HyperplaneBucket.bucket($c, $matrix, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBucket {

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * first 8 hex chars of SHA-256 mapped to [-1, 1). Tables > 0 seed an
    * independent plane family. */
  private def planeComponent(plane: Int, dim: Int, table: Int): Double = {
    val key = if (table == 0) s"${plane}_$dim" else s"${table}_${plane}_$dim"
    val dig = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8"))
    val v = java.lang.Long.parseLong(
      dig.take(4).map("%02x".format(_)).mkString, 16)
    v.toDouble / math.pow(2, 31) - 1.0
  }

  /** numPlanes x dims component matrix for one table's plane family. */
  private def planeMatrix(numPlanes: Int, dims: Int, table: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dims)((p, d) => planeComponent(p, d, table))

  /** All-planes bucket value; 0 when the vector's length differs from the
    * plane dimension or any element is null (the null-poisoned dot of the
    * composable form sets no bits). */
  def bucket(arr: ArrayData, planes: Array[Array[Double]],
             isFloat: Boolean): Long = {
    val dims = if (planes.length == 0) 0 else planes(0).length
    if (arr.numElements() != dims) return 0L
    var d = 0
    while (d < dims) {
      if (arr.isNullAt(d)) return 0L
      d += 1
    }
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var s = 0.0
      d = 0
      while (d < dims) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        s += x * w(d)
        d += 1
      }
      if (s >= 0) bits |= 1L << p
      p += 1
    }
    bits
  }

  def apply(vec: Column, numPlanes: Int, dims: Int, table: Int): Column =
    GraftShim.column(HyperplaneBucket(
      GraftShim.expression(vec), numPlanes, dims, table))
}
