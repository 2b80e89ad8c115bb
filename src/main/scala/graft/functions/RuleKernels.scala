package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused kernels for the published corpus-rule audits (Gopher / C4) and
  * the C4 line-clean rewrite — the per-document counting expressions
  * every gated corpus row pays. Their composable forms route every word
  * and every line through `CodegenFallback` higher-order functions
  * (`ArrayFilter`/`ArrayTransform`/`ArrayAggregate` lambdas: interpreted
  * dispatch, boxed elements, an allocated string per word/line) plus a
  * regex compile-site per `rlike`. Each kernel is ONE scan over the
  * document:
  *
  *  - [[GopherCounts]] returns the 9-long struct behind t31/the Gopher
  *    structural gate (word count / word chars / alphabetic words /
  *    lines / bullet lines / ellipsis-end lines / '#' count /
  *    non-overlapping "..." count / distinct stop-word hits).
  *  - [[C4Counts]] returns the 5-long struct behind t32/the C4 gate
  *    (non-blank lines / line-filter survivors / sentences / lorem-ipsum
  *    flag / curly-brace flag, flags as 0-or-1 longs).
  *  - [[C4KeptText]] is the line-clean rewrite: the line-filter
  *    survivors joined back with newlines.
  *  - [[WordWrap]] is the word-wrap segmentation (W words per line,
  *    terminal period) the C4 composition's preamble uses.
  *
  * All are RuleKernelsSpec-pinned value-identical to the composable
  * forms, null/unicode/whitespace edges included; every consumer query
  * is oracle-gated, so the DuckDB twins replay every value. The
  * `\s`/`trim`/`lower` subtleties the pins cover:
  *
  *  - Java-regex `\s` is the ASCII set [[ShingleTokenizer.isWs]] (what
  *    the composable `split`/`rlike` used — NOT Character.isWhitespace).
  *  - Spark `trim` strips 0x20 SPACE only; "non-blank after trim" means
  *    "contains a char other than ' '" (a tab-only line is non-blank).
  *  - `length` counts code points (surrogate pair = 1).
  *  - case-insensitive checks route through `UTF8String.toLowerCase` /
  *    `UTF8String.contains` — the exact code `lower()`/`contains()`
  *    execute — never `java.lang.String.toLowerCase()` (default-locale).
  *  - a NULL document yields a NULL struct/string. The composable
  *    counts are a mix of null and coalesce-0 on null input, but every
  *    consumer combines them through arithmetic/predicates on the
  *    null-valued counts, where the result is null either way —
  *    observationally identical (pinned).
  */
object RuleKernels {
  import ShingleTokenizer.isWs

  /** Word count of [st, en): runs of non-`\s` chars — equals
    * `size(filter(split(s, "\\s+"), w => w =!= ""))`. */
  private[functions] def wordCount(s: String, st: Int, en: Int): Int = {
    var i = st
    var n = 0
    while (i < en) {
      if (isWs(s.charAt(i))) i += 1
      else {
        n += 1
        while (i < en && !isWs(s.charAt(i))) i += 1
      }
    }
    n
  }

  /** `round(when(den === 0, 0.0).otherwise(num/den), 6)` with Spark's
    * exact Round semantics (BigDecimal.valueOf — the decimal string
    * representation — then HALF_UP), so boundary docs make the same
    * keep decision as the composable ratio columns. */
  private[functions] def ratio6(num: Long, den: Long): Double =
    if (den == 0L) 0.0
    else java.math.BigDecimal.valueOf(num.toDouble / den.toDouble)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** The 9 per-document Gopher counts as one struct in one scan — see
  * [[RuleKernels]]. Field order matches `TextAnalysis.gopherCounts`:
  * nw, wchars, alpha, nl, bul, elll, hash, ell, stops. */
case class GopherCounts(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = GopherCounts.schema

  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val stopIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    stopwords.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }

  override def nullSafeEval(input: Any): Any =
    GopherCounts.compute(input.asInstanceOf[UTF8String], stopIdx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type in the cast — janino's generics support is partial
    val idxRef = ctx.addReferenceObj("stopIdx", stopIdx, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherCounts.compute($c, $idxRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherCounts {
  import ShingleTokenizer.isWs

  // keep6 (0/1): the r1-r6 structural-gate decision over the ROUND-6
  // ratios — carried in the struct so the filter form touches ONE field
  // (FilterExec does no subexpression elimination across a predicate,
  // so a conjunction over 8 struct fields would re-run the whole scan
  // per field; one precomputed decision field keeps it a single scan)
  private val schema: StructType = StructType(
    (Seq("nw", "wchars", "alpha", "nl", "bul", "elll", "hash", "ell",
      "stops") :+ "keep6").map(StructField(_, LongType, nullable = false)))

  def compute(text: UTF8String,
              stopIdx: java.util.HashMap[String, Integer]): InternalRow = {
    val s = text.toString
    val n = s.length
    var nw = 0L; var wchars = 0L; var alpha = 0L
    var nl = 0L; var bul = 0L; var elll = 0L
    var hashCnt = 0L; var ell = 0L

    // words pass: runs of non-\s; per run, code points + any-ASCII-letter
    var i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) i += 1
      else {
        var cp = 0L
        var hasAlpha = false
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          // code points, not UTF-16 units (length() semantics)
          if (!Character.isLowSurrogate(c)) cp += 1
          i += 1
        }
        nw += 1
        wchars += cp
        if (hasAlpha) alpha += 1
      }
    }

    // lines pass: split on '\n', non-empty lines only (no trim — the
    // composable filter was `l =!= ""`)
    def line(st: Int, en: Int): Unit = if (en > st) {
      nl += 1
      // ^\s*[•\-\*]
      var j = st
      while (j < en && isWs(s.charAt(j))) j += 1
      if (j < en) {
        val c = s.charAt(j)
        if (c == '•' || c == '-' || c == '*') bul += 1
      }
      // \.\.\.\s*$
      var k = en
      while (k > st && isWs(s.charAt(k - 1))) k -= 1
      if (k - st >= 3 && s.charAt(k - 1) == '.' && s.charAt(k - 2) == '.' &&
          s.charAt(k - 3) == '.') elll += 1
    }
    i = 0
    var lineStart = 0
    while (i < n) {
      if (s.charAt(i) == '\n') { line(lineStart, i); lineStart = i + 1 }
      i += 1
    }
    line(lineStart, n)

    // whole-text pass: '#' count + LEFT-TO-RIGHT NON-OVERLAPPING "..."
    // count (regexp_replace's scan order, so "....." counts 1)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.' && i + 2 < n && s.charAt(i + 1) == '.' &&
          s.charAt(i + 2) == '.') { ell += 1; i += 3 }
      else { if (c == '#') hashCnt += 1; i += 1 }
    }

    // distinct stop-word hits over the LOWERCASED token stream (the
    // array_distinct∩literal form counts distinct stopwords present)
    var stops = 0L
    val toks = ShingleTokenizer.tokens(text)
    if (toks != null) {
      val seen = new Array[Boolean](stopIdx.size())
      var j = 0
      while (j < toks.length) {
        val id = stopIdx.get(toks(j))
        if (id != null && !seen(id)) { seen(id) = true; stops += 1 }
        j += 1
      }
    }

    // the r1-r6 gate over the rounded ratios (thresholds are the
    // published Gopher values; r7 stop-words stays audit-only — the
    // multilingual-gate contract in gopherStructuralFilter's scaladoc)
    import RuleKernels.ratio6
    val keep6 =
      if (nw >= 50L && nw <= 100000L && {
            val mwl = ratio6(wchars, nw)
            mwl >= 3.0 && mwl <= 10.0
          } && ratio6(hashCnt, nw) <= 0.1 && ratio6(ell, nw) <= 0.1 &&
          ratio6(bul, nl) <= 0.9 && ratio6(elll, nl) <= 0.3 &&
          ratio6(alpha, nw) >= 0.8) 1L
      else 0L

    new GenericInternalRow(Array[Any](nw, wchars, alpha, nl, bul, elll,
      hashCnt, ell, stops, keep6))
  }

  def apply(c: Column, stopwords: Seq[String]): Column =
    GraftShim.column(GopherCounts(GraftShim.expression(c), stopwords))
}

/** Shared C4 line machinery: the line-filter predicate and the
  * blank-line test, exactly as the composable forms phrased them. */
private[functions] object C4Lines {
  import RuleKernels.wordCount
  import ShingleTokenizer.isWs

  private val Javascript = UTF8String.fromString("javascript")

  /** `trim(l) <> ''` with Spark trim semantics: strips SPACE only. */
  def nonBlank(s: String, st: Int, en: Int): Boolean = {
    var i = st
    while (i < en) { if (s.charAt(i) != ' ') return true; i += 1 }
    false
  }

  /** C4's line filter: `rlike("[.!?\"]\\s*$") && words >= 5 &&
    * !lower(l).contains("javascript")`. The case fold routes through
    * UTF8String.toLowerCase — the exact code `lower()` runs. */
  def keptLine(s: String, st: Int, en: Int): Boolean = {
    var k = en
    while (k > st && isWs(s.charAt(k - 1))) k -= 1
    if (k == st) return false
    val last = s.charAt(k - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    if (wordCount(s, st, en) < 5) return false
    !UTF8String.fromString(s.substring(st, en)).toLowerCase
      .contains(Javascript)
  }
}

/** The 5 per-document C4 counts as one struct in one scan — see
  * [[RuleKernels]]. Field order matches `TextAnalysis.c4Counts`:
  * nl, kept, sent, lorem, brace (flags as 0/1 longs). */
case class C4Counts(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = C4Counts.schema

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    C4Counts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.C4Counts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object C4Counts {
  import C4Lines.{keptLine, nonBlank}

  // keep (0/1): the page-gate decision (>=3 sentences, no lorem ipsum,
  // no brace, >=1 kept line) — one field for the filter form, same
  // single-scan rationale as GopherCounts.keep6
  private val schema: StructType = StructType(
    Seq("nl", "kept", "sent", "lorem", "brace", "keep")
      .map(StructField(_, LongType, nullable = false)))

  private val Lorem = UTF8String.fromString("lorem ipsum")

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val n = s.length
    var nl = 0L; var kept = 0L; var sent = 0L

    def line(st: Int, en: Int): Unit = if (nonBlank(s, st, en)) {
      nl += 1
      if (keptLine(s, st, en)) kept += 1
    }
    var i = 0
    var lineStart = 0
    while (i < n) {
      if (s.charAt(i) == '\n') { line(lineStart, i); lineStart = i + 1 }
      i += 1
    }
    line(lineStart, n)

    // sentences: segments split by [.!?], counted when non-blank after
    // space-trim (a tab/newline-only segment still counts — trim strips
    // SPACE only, matching the composable `trim(s) =!= ""`)
    i = 0
    var segHasInk = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        if (segHasInk) sent += 1
        segHasInk = false
      } else if (c != ' ') segHasInk = true
      i += 1
    }
    if (segHasInk) sent += 1

    val lorem = if (text.toLowerCase.contains(Lorem)) 1L else 0L
    var brace = 0L
    i = 0
    while (i < n && brace == 0L) {
      if (s.charAt(i) == '{') brace = 1L
      i += 1
    }
    val keep =
      if (sent >= 3L && lorem == 0L && brace == 0L && kept >= 1L) 1L else 0L
    new GenericInternalRow(Array[Any](nl, kept, sent, lorem, brace, keep))
  }

  def apply(c: Column): Column =
    GraftShim.column(C4Counts(GraftShim.expression(c)))
}

/** The C4 line-clean rewrite: the line-filter survivors (drawn from the
  * non-blank lines) joined back with '\n' — value-identical to
  * `array_join(filter(filter(split(t, "\n"), trim(l) =!= ""),
  * keptPred), "\n")`. */
case class C4KeptText(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    C4KeptText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.C4KeptText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object C4KeptText {
  import C4Lines.{keptLine, nonBlank}

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var first = true
    def line(st: Int, en: Int): Unit =
      if (nonBlank(s, st, en) && keptLine(s, st, en)) {
        if (!first) sb.append('\n')
        sb.append(s, st, en)
        first = false
      }
    var i = 0
    var lineStart = 0
    while (i < n) {
      if (s.charAt(i) == '\n') { line(lineStart, i); lineStart = i + 1 }
      i += 1
    }
    line(lineStart, n)
    UTF8String.fromString(sb.toString)
  }

  def apply(c: Column): Column =
    GraftShim.column(C4KeptText(GraftShim.expression(c)))
}

/** Word-wrap segmentation: the document's `\s+`-separated words wrapped
  * into lines of `wordsPerLine` words, each line terminated with a
  * period, lines joined with '\n'; zero words yield "". Value-identical
  * to the composable
  * `when(size(words) === 0, "").otherwise(array_join(transform(
  * sequence(0, ns - 1), i => concat(array_join(slice(words, i*W+1, W),
  * " "), ".")), "\n"))`. */
case class WordWrap(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def nullSafeEval(text: Any, w: Any): Any =
    WordWrap.compute(text.asInstanceOf[UTF8String], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"${ev.value} = graft.functions.WordWrap.compute($t, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WordWrap {
  import ShingleTokenizer.isWs

  def compute(text: UTF8String, wordsPerLine: Int): UTF8String = {
    require(wordsPerLine >= 1, s"wordsPerLine must be >= 1: $wordsPerLine")
    val s = text.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n + n / math.max(wordsPerLine, 1) + 2)
    var i = 0
    var inLine = 0 // words already on the current line
    while (i < n) {
      if (isWs(s.charAt(i))) i += 1
      else {
        val st = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        if (inLine == wordsPerLine) { sb.append(".\n"); inLine = 0 }
        if (inLine > 0) sb.append(' ')
        sb.append(s, st, i)
        inLine += 1
      }
    }
    if (inLine > 0) sb.append('.')
    UTF8String.fromString(sb.toString)
  }

  def apply(text: Column, wordsPerLine: Column): Column =
    GraftShim.column(WordWrap(GraftShim.expression(text),
      GraftShim.expression(wordsPerLine)))
}
