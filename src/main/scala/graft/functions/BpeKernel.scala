package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document BPE-apply counts — one JIT'd scan per document.
  *
  * The composable form (`TextAnalysis.bpeTokenCounts`'s original body)
  * routed every WORD through three `CodegenFallback` higher-order
  * lambdas — `transform(words, w => size(split(trim(mergeChain(w)),
  * " ")))` plus two `aggregate` folds — each word paying interpreted
  * expression-tree dispatch, a `regexp_replace("(.)", "$1 ")` regex
  * engine pass, and 2×|merges| allocated intermediate strings. The t10
  * lesson (one interpreted per-element lambda was the whole bench's top
  * cost) applied to the BPE pricing stage every e2e composition runs.
  *
  * Returns `struct(n_words, n_subwords, n_chars)` (all LONG) with the
  * composable chain's EXACT semantics, BpeKernelSpec-pinned:
  *
  *  - words = `lower` + split on Java-regex `\s+`, empties dropped
  *    (the [[ShingleStrings]] dropEmpty tokenization);
  *  - the sentinel-space form appends `' '` after every code point the
  *    Java-regex `.` matches — line terminators (\n, \r,
  *    U+0085, U+2028, U+2029) pass through UNspaced, exactly as `regexp_replace(w,
  *    "(.)", "$1 ")` leaves them — then 0x20-trims and wraps in single
  *    sentinel spaces (Spark `trim` strips 0x20 only);
  *  - each merge `" a b " -> " ab "` runs as a literal leftmost
  *    non-overlapping replace-all, TWICE (adjacent-repeat pickup),
  *    in table order — `replace(replace(c, p, r), p, r)`;
  *  - n_subwords counts `split(trim(merged), " ")` segments (one space
  *    = one separator; interior empties would count, trailing ones
  *    cannot occur after the trim);
  *  - n_chars sums per-word CODE POINT counts (Spark `length`).
  *
  * Null text yields a null struct (nullSafeEval), matching the
  * composable columns' null propagation. */
case class BpeCounts(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BpeCounts.schema

  override def inputTypes: Seq[DataType] = Seq(StringType)

  // sentinel-padded literal pattern/replacement pairs, flattened so the
  // codegen reference object is a raw String[] (janino-friendly)
  @transient private lazy val mergeArr: Array[String] =
    merges.flatMap { case (p, r) => Seq(s" $p ", s" $r ") }.toArray

  override def nullSafeEval(input: Any): Any =
    BpeCounts.compute(input.asInstanceOf[UTF8String], mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bpeMerges", mergeArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeCounts.compute($c, $mRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeCounts {

  private val schema: StructType = new StructType()
    .add("n_words", LongType, nullable = false)
    .add("n_subwords", LongType, nullable = false)
    .add("n_chars", LongType, nullable = false)

  // the code points Java-regex `.` does NOT match (line terminators):
  // regexp_replace("(.)", "$1 ") leaves these unspaced in the word
  @inline private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** One document -> (n_words, n_subwords, n_chars). `merges` is the
    * flattened sentinel-padded table: [pat0, rep0, pat1, rep1, ...]. */
  def compute(text: UTF8String, merges: Array[String]): InternalRowType = {
    val toks0 = ShingleTokenizer.tokens(text)
    var nWords = 0L
    var nSub = 0L
    var nChars = 0L
    if (toks0 != null) {
      var wi = 0
      while (wi < toks0.length) {
        val w = toks0(wi)
        if (w.nonEmpty) {
          nWords += 1
          nChars += w.codePointCount(0, w.length)
          // spaced form: ' ' after every `.`-matched code point, then
          // 0x20-trim, then single sentinel spaces on both ends
          val sb = new java.lang.StringBuilder(2 * w.length + 2)
          var i = 0
          while (i < w.length) {
            val cp = w.codePointAt(i)
            sb.appendCodePoint(cp)
            if (!isLineTerm(cp)) sb.append(' ')
            i += Character.charCount(cp)
          }
          val inner = sb.toString
          var b = 0
          var e = inner.length
          while (b < e && inner.charAt(b) == ' ') b += 1
          while (e > b && inner.charAt(e - 1) == ' ') e -= 1
          var s = " " + inner.substring(b, e) + " "
          // table-order merges, each a literal replace-all run twice
          var mi = 0
          while (mi < merges.length) {
            s = s.replace(merges(mi), merges(mi + 1))
            s = s.replace(merges(mi), merges(mi + 1))
            mi += 2
          }
          // subwords = split(trim(s), " ") segment count = spaces + 1
          var b2 = 0
          var e2 = s.length
          while (b2 < e2 && s.charAt(b2) == ' ') b2 += 1
          while (e2 > b2 && s.charAt(e2 - 1) == ' ') e2 -= 1
          var spaces = 0
          var j = b2
          while (j < e2) {
            if (s.charAt(j) == ' ') spaces += 1
            j += 1
          }
          nSub += spaces + 1
        }
        wi += 1
      }
    }
    new GenericInternalRow(Array[Any](nWords, nSub, nChars))
  }

  type InternalRowType = org.apache.spark.sql.catalyst.InternalRow

  def apply(c: Column, merges: Seq[(String, String)]): Column =
    GraftShim.column(BpeCounts(GraftShim.expression(c), merges))
}
