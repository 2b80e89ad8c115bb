package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused text-scoring kernels for the quality/language/fingerprint
  * columns of the corpus-analysis stage — the per-document expressions
  * every ingested row pays, whose composable forms all route through
  * `CodegenFallback` higher-order functions (interpreted lambdas, boxed
  * elements):
  *
  *  - [[TokenSetHits]] replaces `size(filter(split(lower(text), "\\s+"),
  *    t => array_contains(typedLit(words), t)))` — and `array_contains`
  *    over a literal list is itself a LINEAR scan per token, so the
  *    composable form was tokens x |words| interpreted steps per doc.
  *  - [[LangBest]] replaces the whole language-ID argmax (one
  *    `ArrayFilter` per language plus an `ArrayAggregate` fold over the
  *    scored structs): ONE tokenization, hash-set membership per
  *    language, argmax with the (score DESC, lang ASC) tie-break.
  *  - [[PolyHashFold]] replaces the rolling-fingerprint fold
  *    `aggregate(hashed, 0L, (acc, h) => (acc * m + h) % p)`.
  *
  * All three are HashingSpec-pinned value-identical to the composable
  * forms, null edges included (null text: TokenSetHits is null like
  * `size(filter(null))`; LangBest returns the FIRST marker language,
  * because the composable fold's null-score comparisons keep the seed
  * accumulator; PolyHashFold of a null array is null).
  */
case class TokenSetHits(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    TokenSetHits.compute(input.asInstanceOf[UTF8String], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type in the cast — janino's generics support is partial
    val setRef = ctx.addReferenceObj("words", set, "java.util.HashSet")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenSetHits.compute($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenSetHits {

  def compute(text: UTF8String, set: java.util.HashSet[String]): Int = {
    val toks = ShingleTokenizer.tokens(text)
    var hits = 0
    var i = 0
    while (i < toks.length) {
      if (set.contains(toks(i))) hits += 1
      i += 1
    }
    hits
  }

  def apply(c: Column, words: Seq[String]): Column =
    GraftShim.column(TokenSetHits(GraftShim.expression(c), words))
}

/** Language-ID argmax over marker-word hit counts — see file scaladoc. */
case class LangBest(child: Expression, markers: Seq[(String, Seq[String])])
    extends NonNullTextKernel {

  require(markers.nonEmpty, "LangBest needs at least one language")

  override def dataType: DataType = StringType

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    markers.map { case (_, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }.toArray

  // UTF8String, not java.lang.String: the tie-break must compare in
  // UTF-8 BINARY order (what the composable fold's Spark `<` ran), and
  // String.compareTo is UTF-16 code-unit order — the two diverge for
  // names mixing supplementary code points with U+E000..U+FFFF. Also
  // lets compute() return the shared instance instead of allocating
  // fromString per row.
  @transient private lazy val langs: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray

  override protected def evalText(text: UTF8String): Any =
    LangBest.compute(text, sets, langs)

  override protected def computeCall(ctx: CodegenContext, text: String): String = {
    val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
    val langsRef = ctx.addReferenceObj("langNames", langs,
      "org.apache.spark.unsafe.types.UTF8String[]")
    s"graft.functions.LangBest.compute($text, $setsRef, $langsRef)"
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangBest {

  def compute(text: UTF8String, sets: Array[java.util.HashSet[String]],
              langs: Array[UTF8String]): UTF8String = {
    // null text resolves to the first marker language (the composable
    // fold's seed accumulator survives every null-score comparison)
    if (text == null) return langs(0)
    val toks = ShingleTokenizer.tokens(text)
    val scores = new Array[Int](sets.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(t)) scores(j) += 1
        j += 1
      }
      i += 1
    }
    // argmax: score DESC, lang ASC (same comparison the composable fold
    // runs; markers are scanned in declaration order with strict >).
    // UTF8String.compareTo is unsigned-byte UTF-8 order — the order
    // Spark's own string `<` uses, unlike String.compareTo's UTF-16.
    var best = 0
    var j = 1
    while (j < sets.length) {
      if (scores(j) > scores(best) ||
          (scores(j) == scores(best) && langs(j).compareTo(langs(best)) < 0))
        best = j
      j += 1
    }
    langs(best)
  }

  def apply(c: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftShim.column(LangBest(GraftShim.expression(c), markers))
}

/** Count of code points matching `[^a-zA-Z0-9\s]` — value-identical to
  * the composable
  * `length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))`
  * (Java-default `\s` is the ASCII set, and `length` counts code
  * points, so the difference is exactly the matched-code-point count).
  * The regex engine walked and REBUILT every document just to count
  * removals — the dominant cost of the corpus quality pass measured at
  * depth (regexp_replace alone ~15 s over 500k docs where every other
  * analysis column is sub-second). One code-point scan, no allocation. */
case class PunctCharCount(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    PunctCharCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PunctCharCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PunctCharCount {

  private def isAsciiWordOrSpace(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || ShingleTokenizer.isWs(cp)

  def compute(text: UTF8String): Int = {
    val s = text.toString
    var count = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      if (!isAsciiWordOrSpace(cp)) count += 1
      i += Character.charCount(cp)
    }
    count
  }

  def apply(c: Column): Column =
    GraftShim.column(PunctCharCount(GraftShim.expression(c)))
}

/** Count of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]` matches — value-identical
  * to `size(regexp_extract_all(text, tokenRegex, 0))`: greedy
  * alternation over a raw string tiles it into maximal ASCII-letter
  * runs, maximal ASCII-digit runs, and single code points of anything
  * else that is not ASCII whitespace (whitespace itself matches no
  * branch and breaks runs). One code-point scan with a 2-bit run state
  * instead of a regex walk that materializes every match. */
case class RegexTokenCount(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    RegexTokenCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RegexTokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexTokenCount {

  def compute(text: UTF8String): Int = {
    val s = text.toString
    var count = 0
    var i = 0
    val n = s.length
    // 0 = boundary (space / other / start), 1 = inside letter run,
    // 2 = inside digit run
    var state = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) {
        if (state != 1) { count += 1; state = 1 }
      } else if (cp >= '0' && cp <= '9') {
        if (state != 2) { count += 1; state = 2 }
      } else if (ShingleTokenizer.isWs(cp)) {
        state = 0
      } else {
        // single-code-point match; also breaks any run
        count += 1
        state = 0
      }
      i += Character.charCount(cp)
    }
    count
  }

  def apply(c: Column): Column =
    GraftShim.column(RegexTokenCount(GraftShim.expression(c)))
}

/** Rolling polynomial fold `(acc * mult + h) % mod` over a long array —
  * see file scaladoc. */
case class PolyHashFold(child: Expression, mult: Long, mod: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    PolyHashFold.compute(input.asInstanceOf[ArrayData], mult, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("polyFold")
      s"""
        java.lang.Long $r = graft.functions.PolyHashFold.compute($c, ${mult}L, ${mod}L);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.longValue(); }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHashFold {

  /** Null elements poison the composable fold (`acc * m + null` is null
    * and stays null), so the first null element decides the result.
    *
    * When the modulus is [[Hashing.P]] (every caller) and the multiplier
    * is small, the per-element `%` — a LATENCY-serial 64-bit division,
    * since each step depends on the previous remainder — is replaced by
    * the exact Mersenne fold [[Hashing.modP]]. Domain argument: on the
    * fast path `acc` is always in `[0, P) ⊂ [0, 2^31)`, so with
    * `mult <= 2^20` and `0 <= h < 2^61` the term
    * `acc*mult + h < 2^51 + 2^61 < 2^62` stays inside the fold's exact
    * domain (the guard admits both 28- and 60-bit sha prefixes). An out-of-range element (foreign input only; contract
    * inputs are 28/60-bit sha prefixes) — or a negative remainder it
    * leaves behind — falls back to the original `%` for exactly that
    * step, so results are bit-identical for EVERY input. */
  def compute(arr: ArrayData, mult: Long, mod: Long): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    if (mod == Hashing.P && mult > 0L && mult <= (1L << 20)) {
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val h = arr.getLong(i)
        acc =
          if (acc >= 0L && (h >>> 61) == 0L) Hashing.modP(acc * mult + h)
          else (acc * mult + h) % mod
        i += 1
      }
    } else {
      while (i < n) {
        if (arr.isNullAt(i)) return null
        acc = (acc * mult + arr.getLong(i)) % mod
        i += 1
      }
    }
    java.lang.Long.valueOf(acc)
  }

  def apply(c: Column, mult: Long, mod: Long): Column =
    GraftShim.column(PolyHashFold(GraftShim.expression(c), mult, mod))
}
