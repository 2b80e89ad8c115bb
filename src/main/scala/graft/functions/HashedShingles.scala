package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one whitespace tokenizer of the text kernels: lowercase
  * (`UTF8String.toLowerCase`, the Lower expression's kernel) and split
  * on `\s+` with Java limit -1, exactly like `split(lower(text),
  * "\\s+")` — a leading separator yields a leading empty token, a
  * trailing run a trailing one, no separator at all the whole string
  * ("" for empty input).
  *
  * The split is one hand-rolled byte scan, not `Pattern.split`: Java
  * regex `\s` is exactly the ASCII class `[ \t\n\x0B\f\r]` (it does NOT
  * match U+00A0/U+2028/etc. — pinned by spec), and in UTF-8 those byte
  * values never occur inside a multi-byte sequence (continuation bytes
  * are >= 0x80), so splitting valid UTF-8 bytes finds exactly the
  * boundaries the char-level regex finds. `Pattern.split` walks the NFA
  * per position and allocates a matcher per call; the scan is a
  * per-byte comparison. A lowercased document that is NOT valid UTF-8
  * (foreign bytes only — parquet strings are valid) is scanned as the
  * re-encoding of its String form, whose replacement characters are
  * what the composable `split(lower(text), ...)` sees. Value identity
  * with `Pattern.compile("\\s+").split(s, -1)` is spec-pinned against
  * the regex form directly, malformed input included. */
private[functions] object ShingleTokenizer {
  /** the reference form the scan is pinned against (used by the spec) */
  private[functions] val ws = Pattern.compile("\\s+")

  /** Java-regex `\s`: space plus the contiguous control block \t..\r
    * (0x09-0x0D). Takes a char, a code point or a byte: a byte >= 0x80
    * widens to a negative Int, which is never whitespace. */
  @inline def isWs(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Token boundaries of one scan: token `i` is bytes
    * `[starts(i), ends(i))`. One reused instance per thread, grown on
    * demand, so a scan allocates nothing. */
  final class Bounds {
    var starts: Array[Int] = new Array[Int](64)
    var ends: Array[Int] = new Array[Int](64)
    var n: Int = 0
    private[ShingleTokenizer] def add(st: Int, en: Int): Unit = {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      starts(n) = st; ends(n) = en
      n += 1
    }
  }
  private val bounds = new ThreadLocal[Bounds] {
    override def initialValue(): Bounds = new Bounds
  }

  /** The UTF-8 bytes of `lower(text)` that [[scan]] splits: the
    * lowercased bytes themselves when valid, else the re-encoding of
    * their String form (malformed sequences become U+FFFD). */
  def lowerBytes(text: UTF8String): Array[Byte] = {
    val lower = text.toLowerCase
    if (lower.isValid) lower.getBytes else lower.toString.getBytes(UTF_8)
  }

  /** Splits valid UTF-8 `bytes` on runs of `\s` (limit -1 semantics:
    * token count = separator runs + 1). The result is this thread's
    * [[Bounds]], valid until its next scan. */
  def scan(bytes: Array[Byte]): Bounds = {
    val b = bounds.get()
    b.n = 0
    val nb = bytes.length
    var i = 0
    var start = 0
    while (i < nb) {
      if (isWs(bytes(i))) {
        b.add(start, i)
        i += 1
        while (i < nb && isWs(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    b.add(start, nb)
    b
  }

  private def strings(bytes: Array[Byte]): Array[String] = {
    val b = scan(bytes)
    val out = new Array[String](b.n)
    var i = 0
    while (i < b.n) {
      out(i) = new String(bytes, b.starts(i), b.ends(i) - b.starts(i), UTF_8)
      i += 1
    }
    out
  }

  /** `Pattern.compile("\\s+").split(s, -1)`, value-identical for every
    * well-formed string (each `UTF8String.toString` is one). */
  def splitWs(s: String): Array[String] = strings(s.getBytes(UTF_8))

  /** `split(lower(text), "\\s+")` as Strings; null for null text. */
  def tokens(text: UTF8String): Array[String] =
    if (text == null) null else strings(lowerBytes(text))
}

/** A one-string-input kernel whose result is never null: a null text is
  * passed on to the kernel's `compute` as null, which maps it to a value
  * (the composable form's otherwise-branch). Interpreted and generated
  * evaluation both run that one `compute`. */
private[functions] abstract class NonNullTextKernel extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullable: Boolean = false

  /** the kernel's `compute` over a possibly-null text */
  protected def evalText(text: UTF8String): Any

  /** the Java call of that `compute`, applied to the expression `text` */
  protected def computeCall(ctx: CodegenContext, text: String): String

  override def eval(input: InternalRow): Any =
    evalText(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          ${computeCall(ctx, s"${c.isNull} ? null : ${c.value}")};""",
      isNull = FalseLiteral)
  }
}

/** The hashed word-k-shingle array of a document in ONE primitive pass —
  * value-identical (HashingSpec-pinned) to the composable form
  *
  * {{{ transform(Dedup.shingles(text, k), s => Hashing.sha28(s)) }}}
  *
  * (and its sha60 sibling at `hexChars = 15`), which is the hot kernel
  * of every corpus-dedup operator (minhash signatures, band keys,
  * exact-Jaccard verification sets, shingle-diversity sketches). The
  * composable form pays Catalyst's higher-order-function machinery
  * twice per document: `ArrayTransform` is `CodegenFallback`, so both
  * the shingle build (k `element_at` calls + a `concat_ws` allocation
  * per shingle) and the SHA map run INTERPRETED, boxing every element
  * and materializing the intermediate shingle-string array. This
  * expression tokenizes once, and per shingle streams the token byte
  * slices `tok[i] ' ' tok[i+1] ...` straight into a thread-local SHA-256
  * digest — no shingle strings, no boxing, and the enclosing
  * WholeStageCodegen span stays intact (single static call).
  *
  * Edge semantics matched to the composable form: documents with fewer
  * than k tokens — and NULL documents, which the `when(size >= k, ...)`
  * guard turns into an empty list — yield an empty array. The hash is
  * [[ShaPrefixLong]] ([[Hashing.sha28]] at 7 hex chars, sha60 at 15),
  * so the DuckDB oracle replays every value.
  */
case class HashedShingles(child: Expression, k: Int, hexChars: Int = 7)
    extends NonNullTextKernel {

  require(k >= 1 && k <= 128, s"shingle size out of range: $k")
  require(hexChars > 0 && hexChars <= 15,
    s"hexChars must be in [1, 15] to fit a non-negative long, got $hexChars")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def evalText(text: UTF8String): Any =
    HashedShingles.compute(text, k, hexChars)

  override protected def computeCall(ctx: CodegenContext, text: String): String =
    s"graft.functions.HashedShingles.compute($text, $k, $hexChars)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedShingles {

  // the 32-byte digest output buffer, reused per thread, so the
  // per-shingle path allocates nothing but the result array
  private val digestBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](32)
  }

  /** One document -> its long[] of shaPrefix(shingle) values, in order:
    * the [[ShingleTokenizer]] token byte slices streamed into the digest,
    * with no per-token String or byte-array allocation. */
  def compute(text: UTF8String, k: Int, hexChars: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.emptyLongArray)
    val bytes = ShingleTokenizer.lowerBytes(text)
    val b = ShingleTokenizer.scan(bytes)
    val ntok = b.n
    if (ntok < k) return new GenericArrayData(Array.emptyLongArray)
    val md = ShaPrefixLong.localDigest()
    val buf = digestBuf.get()
    val out = new Array[Long](ntok - k + 1)
    var i = 0
    while (i <= ntok - k) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes, b.starts(i + j), b.ends(i + j) - b.starts(i + j))
        j += 1
      }
      md.digest(buf, 0, 32)
      out(i) = ShaPrefixLong.prefixOf(buf, hexChars)
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column =
    GraftShim.column(HashedShingles(GraftShim.expression(c), k))

  def apply(c: Column, k: Int, hexChars: Int): Column =
    GraftShim.column(HashedShingles(GraftShim.expression(c), k, hexChars))
}

/** The word-k-shingle STRING array of a document as one native pass —
  * value-identical (HashingSpec-pinned) to the composable
  * `Dedup.shingles` form
  *
  * {{{
  * when(size(tk) >= k, transform(sequence(1, size(tk) - k + 1),
  *   i => concat_ws(" ", element_at(tk, i), ..., element_at(tk, i+k-1))))
  *   .otherwise(array())   // tk = split(lower(text), "\\s+")
  * }}}
  *
  * for the operators that need the shingle STRINGS (string-keyed
  * contamination/containment joins, per-doc gram repetition, heavy-
  * hitter probes) rather than their hashes — those take
  * [[HashedShingles]] and never materialize a string. The composable
  * form's `transform` lambda is `CodegenFallback`: k boxed `element_at`
  * calls plus an interpreted `concat_ws` per shingle. Here the shingle
  * window is joined in a tight JIT'd loop over the token array.
  */
case class ShingleStrings(child: Expression, k: Int,
    dropEmpty: Boolean = false) extends NonNullTextKernel {

  require(k >= 1 && k <= 128, s"shingle size out of range: $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def evalText(text: UTF8String): Any =
    ShingleStrings.compute(text, k, dropEmpty)

  override protected def computeCall(ctx: CodegenContext, text: String): String =
    s"graft.functions.ShingleStrings.compute($text, $k, $dropEmpty)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStrings {

  /** One document -> its UTF8String[] of k-shingles, in order. With
    * `dropEmpty`, empty tokens are removed BEFORE windowing — the
    * composable `filter(split(lower(text), "\\s+"), t => t =!= "")`
    * preamble the repetition metrics use (a leading separator otherwise
    * contributes an empty first token). */
  def compute(text: UTF8String, k: Int, dropEmpty: Boolean = false): ArrayData = {
    val toks0 = ShingleTokenizer.tokens(text)
    val toksF =
      if (toks0 == null) null
      else if (dropEmpty) toks0.filter(_.nonEmpty)
      else toks0
    val toks = if (toksF == null || toksF.length < k) null else toksF
    if (toks == null) return new GenericArrayData(new Array[Any](0))
    val n = toks.length
    val out = new Array[Any](n - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column =
    GraftShim.column(ShingleStrings(GraftShim.expression(c), k))

  def apply(c: Column, k: Int, dropEmpty: Boolean): Column =
    GraftShim.column(ShingleStrings(GraftShim.expression(c), k, dropEmpty))
}

/** `split(lower(text), "\\s+")` as one native pass — the shared
  * tokenization of every explode-based term stream (TF-IDF, n-gram
  * coverage, bigram LM, the mixture/pack token counts) and of the cut
  * family's reassembly input ([[graft.functions.CutSpans]],
  * piiRedactCut's posexplode, the n_tokens audit columns).
  * Value-identical to the composable form INCLUDING null propagation
  * (null in -> null out, exactly like `split` over a null `lower()`);
  * the non-null tokenization is [[ShingleTokenizer]]'s spec-pinned
  * limit-(-1) semantics.
  *
  * Why not the built-in: Spark's `StringSplit` re-enters
  * `Pattern.compile(...).split` per ROW (`UTF8String.split` compiles
  * the pattern each call) and round-trips UTF-16: UTF8String ->
  * toString -> regex NFA walk -> String tokens -> UTF8String each. Here
  * the tokens are zero-copy `UTF8String.fromBytes` slices over the one
  * lowercased byte array the [[ShingleTokenizer]] scan splits.
  * Spec-pinned against the regex form on unicode edges and randomized
  * documents. */
case class WsTokens(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(v: Any): Any =
    WsTokens.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WsTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WsTokens {

  /** One non-null document -> its UTF8String[] token array, exactly
    * `split(lower(text), "\\s+")`. */
  def compute(text: UTF8String): ArrayData = {
    val bytes = ShingleTokenizer.lowerBytes(text)
    val b = ShingleTokenizer.scan(bytes)
    val out = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      out(i) = UTF8String.fromBytes(bytes, b.starts(i), b.ends(i) - b.starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column): Column =
    GraftShim.column(WsTokens(GraftShim.expression(c)))
}
