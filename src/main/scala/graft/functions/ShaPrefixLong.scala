package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** First `hexChars` hex digits of SHA-256 as a bigint — the portable hash
  * of [[Hashing]], computed without the hex round-trip.
  *
  * The composable form `conv(substring(sha2(s, 256), 1, n), 16, 10)`
  * allocates a fresh MessageDigest per call (Spark's `Sha2` goes through
  * commons-codec `DigestUtils`), renders the full 64-char hex string, and
  * re-parses a prefix of it — per SHINGLE, in the hot loop of every
  * corpus-dedup operator. This expression digests the UTF-8 bytes with a
  * thread-local reused digest and assembles the value from the leading
  * nibbles directly. Same value, same nullability, ~3x less work per call;
  * the DuckDB oracle side ([[Hashing.sha28Sql]]) is unchanged.
  */
case class ShaPrefixLong(child: Expression, hexChars: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(hexChars > 0 && hexChars <= 15,
    s"hexChars must be in [1, 15] to fit a non-negative long, got $hexChars")

  override def dataType: DataType = LongType

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    ShaPrefixLong.hash(input.asInstanceOf[UTF8String].getBytes, hexChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShaPrefixLong.hash($c.getBytes(), $hexChars)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShaPrefixLong {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  /** The thread-local reused digest — shared with [[HashedShingles]],
    * which streams shingle bytes into it directly. */
  private[functions] def localDigest(): MessageDigest = digests.get()

  /** Long from the first `hexChars` nibbles of a SHA-256 digest. */
  private[functions] def prefixOf(dig: Array[Byte], hexChars: Int): Long = {
    var v = 0L
    var k = 0
    while (k < hexChars) {
      val b = dig(k >> 1)
      val nibble = if ((k & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nibble
      k += 1
    }
    v
  }

  /** Long from the first `hexChars` nibbles of SHA-256(bytes). */
  def hash(bytes: Array[Byte], hexChars: Int): Long = {
    val md = digests.get()
    md.reset()
    prefixOf(md.digest(bytes), hexChars)
  }

  def apply(c: Column, hexChars: Int): Column =
    GraftShim.column(ShaPrefixLong(GraftShim.expression(c), hexChars))
}
