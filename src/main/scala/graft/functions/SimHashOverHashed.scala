package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full `bits`-bit SimHash signature over a hashed-token array in
  * ONE primitive loop — value-identical (HashingSpec-pinned) to the
  * composable form the DuckDB twin still uses:
  *
  * {{{
  *   sum over j of: CASE WHEN aggregate(hsh, 0L,
  *     (acc, h) -> acc + IF(((h >> j) & 1) = 1, 1, -1)) >= 0
  *   THEN 1 << j ELSE 0 END
  * }}}
  *
  * which evaluates `bits` separate higher-order folds per row (64 for
  * the production signature). Edge semantics preserved exactly: an
  * EMPTY array leaves every bit-count at 0, and 0 >= 0 sets the bit —
  * the all-ones signature; a NULL element falls through the comparison
  * to the `otherwise(-1)` branch, contributing -1 to EVERY bit; a NULL
  * array yields a NULL signature (null-intolerant unary). */
case class SimHashOverHashed(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bits > 0 && bits <= 64, s"bits out of range: $bits")

  override def dataType: DataType = LongType

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    SimHashOverHashed.sig(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashOverHashed.sig($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashOverHashed {

  def apply(c: org.apache.spark.sql.Column, bits: Int)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShim.column(
      new SimHashOverHashed(org.apache.spark.sql.GraftShim.expression(c), bits))

  // byte-lane SWAR constants: b * ONES replicates byte b into every
  // lane (b < 256, no carries), & SPREAD keeps bit k in lane k (as
  // 2^k), + SEVENF then >>> 7 & ONES turns each non-zero lane into 1.
  private final val SPREAD = 0x8040201008040201L
  private final val ONES = 0x0101010101010101L
  private final val SEVENF = 0x7f7f7f7f7f7f7f7fL

  /** One pass: per element update all bit counts, then assemble the
    * signature from the sign of each count.
    *
    * The per-bit `+1 if set else -1` fold is computed via the identity
    * `count(j) = 2*ones(j) - n` (a null element contributes -1 to every
    * bit — exactly a zero-bits element, so `n` counts ALL elements and
    * `ones(j)` only non-null set bits; `count(j) >= 0  <=>
    * 2*ones(j) >= n`, integer-exact). ones(j) is accumulated 8 bit-lanes
    * per SWAR word — per element and 8-bit chunk: spread the chunk's
    * bits into byte lanes, normalize to 0/1, add — with a flush to int
    * counters every 255 elements so a byte lane cannot overflow. The
    * per-(element x bit) conditional of the naive loop branch-mispredicts
    * ~50% on random hash bits; measured 3-4x at both 16 and 64 bits. */
  def sig(hashed: ArrayData, bits: Int): Long = {
    val n = hashed.numElements()
    val chunks = (bits + 7) >> 3
    val acc = new Array[Long](chunks)
    val ones = new Array[Int](bits)
    var pending = 0
    var i = 0
    while (i < n) {
      if (!hashed.isNullAt(i)) {
        val h = hashed.getLong(i)
        var c = 0
        while (c < chunks) {
          val b = (h >>> (8 * c)) & 0xffL
          acc(c) += ((((b * ONES) & SPREAD) + SEVENF) >>> 7) & ONES
          c += 1
        }
        pending += 1
        if (pending == 255) {
          flush(acc, ones, bits)
          pending = 0
        }
      }
      i += 1
    }
    if (pending > 0) flush(acc, ones, bits)
    var out = 0L
    var j = 0
    while (j < bits) {
      if (2 * ones(j) >= n) out |= 1L << j
      j += 1
    }
    out
  }

  private def flush(acc: Array[Long], ones: Array[Int], bits: Int): Unit = {
    var c = 0
    while (8 * c < bits) {
      val a = acc(c)
      acc(c) = 0L
      var k = 0
      while (k < 8 && 8 * c + k < bits) {
        ones(8 * c + k) += ((a >>> (8 * k)) & 0xffL).toInt
        k += 1
      }
      c += 1
    }
  }
}
