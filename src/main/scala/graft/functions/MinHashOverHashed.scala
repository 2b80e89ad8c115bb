package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All `numHashes` MinHash minima over an already-hashed shingle array
  * in ONE primitive loop — value-identical to the composable form
  *
  * {{{ array_min(transform(hsh, h => (h * a_i + b_i) % P)) }}}
  *
  * per seed pair (HashingSpec-pinned), which the signature builders
  * previously evaluated as `numHashes` separate higher-order passes,
  * each materializing a transformed copy of the array. Semantics match
  * exactly: null elements are skipped (array_min semantics); an empty
  * or all-null input yields null minima (`element_at` then surfaces the
  * null per signature column, and band keys coalesce it to the -1
  * sentinel exactly as before).
  *
  * Seeds are [[Hashing.minhashSeeds]]; the modulus is [[Hashing.P]].
  * Every hashed value is a 28-bit [[ShaPrefixLong]], so `h * a + b`
  * stays far inside int64 for the generated seeds.
  */
case class MinHashOverHashed(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  // 256 is the overflow-derived bound, not a style choice: hashed
  // values are 28-bit, and at k = 255 the largest seed a = 2k + 1001 =
  // 1511, so h * a + b <= 2^28 * 1511 + ~2e6 < 2^39 — far inside int64.
  require(numHashes > 0 && numHashes <= 256,
    s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  @transient private lazy val as: Array[Long] =
    Hashing.minhashSeeds(numHashes).map(_._1).toArray
  @transient private lazy val bs: Array[Long] =
    Hashing.minhashSeeds(numHashes).map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashOverHashed.mins(input.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("as", as, "long[]")
    val bRef = ctx.addReferenceObj("bs", bs, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashOverHashed.mins($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashOverHashed {

  def apply(c: org.apache.spark.sql.Column, numHashes: Int)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShim.column(
      new MinHashOverHashed(org.apache.spark.sql.GraftShim.expression(c),
        numHashes))

  /** One pass over the hashed array updating every seed's running min.
    * Null elements are skipped; if no non-null element exists, every
    * minimum is null (matching `array_min` over the transformed array).
    *
    * The reduction uses [[Hashing.modP]] (exact Mersenne fold) instead
    * of the `%` divider: with `0 <= h < 2^39` and the generated seeds
    * (`a <= 2*255 + 1001 = 1511 < 2^11`, `b < 2^21`), the affine term
    * `h*a + b < 2^50 + 2^21 < 2^62` sits inside the fold's exact domain.
    * Contract inputs are 28-bit [[ShaPrefixLong]] values, far inside the
    * guard; anything outside it (only reachable by composing the
    * expression over a foreign array<bigint>) takes the original `%`
    * path, so the result is bit-identical for EVERY input either way. */
  def mins(hashed: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val k = as.length
    val n = hashed.numElements()
    val m = new Array[Long](k)
    java.util.Arrays.fill(m, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!hashed.isNullAt(i)) {
        any = true
        val h = hashed.getLong(i)
        if (h >= 0L && h < (1L << 39)) {
          var j = 0
          while (j < k) {
            val v = Hashing.modP(h * as(j) + bs(j))
            if (v < m(j)) m(j) = v
            j += 1
          }
        } else {
          var j = 0
          while (j < k) {
            val v = (h * as(j) + bs(j)) % Hashing.P
            if (v < m(j)) m(j) = v
            j += 1
          }
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(m)
  }
}
