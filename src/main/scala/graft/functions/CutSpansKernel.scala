package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused span-cut-and-reassemble — one JIT'd pass per document.
  *
  * The ExactSubstr cut tail (`Dedup.cutReassemble`'s original body)
  * expanded every cut window into its <= W covered token positions
  * (dup-window volume x W rows pre-distinct: a duplicated run of L
  * stride-1 windows shipped ~L·W rows), shuffled the corpus's ENTIRE
  * token stream once for the left-anti join and once more for the
  * array_sort-of-structs reassembly — the second join+reassembly pass
  * that the measured 50M-doc exclusions named as dd26/dd27's disk
  * mechanism (dd24's detect-only rollup does not pay it). This kernel
  * replaces all of it after the spans are merged per document: the cut
  * becomes ONE equi-join of the docs frame against a per-doc span list
  * (span volume, not window or token volume) and a per-row scan.
  *
  * Inputs: the document's token array (the caller builds it with
  * Spark's own `split(lower(text), "\\s+")`, so tokenization semantics
  * — including leading/trailing empty tokens — stay byte-identical to
  * the exploded form) and an array of `(s, e)` half-open token spans
  * (disjoint by the island-merge construction; sorted defensively
  * here). Returns `struct(n_tokens, n_kept, dedup_text)`: token count,
  * surviving-token count, and the survivors joined by single spaces in
  * position order — exactly the columns the anti-join + reassembly
  * produced. Null on null input (the coalesce conventions downstream
  * are unchanged). */
case class CutSpans(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = CutSpans.schema

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _),
          ArrayType(StructType(Array(a, b)), _))
        if a.dataType == IntegerType && b.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected (array<string>, array<struct<int,int>>), got $other")
  }

  override def nullSafeEval(tokens: Any, spans: Any): Any =
    CutSpans.compute(tokens.asInstanceOf[ArrayData],
      spans.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.CutSpans.compute($t, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CutSpans {

  private val schema: StructType = new StructType()
    .add("n_tokens", LongType, nullable = false)
    .add("n_kept", LongType, nullable = false)
    .add("dedup_text", StringType, nullable = false)

  private val Space = UTF8String.fromString(" ")

  def compute(tokens: ArrayData, spans: ArrayData): InternalRow = {
    val n = tokens.numElements()
    val m = spans.numElements()
    val ss = new Array[Int](m)
    val ee = new Array[Int](m)
    var i = 0
    while (i < m) {
      val r = spans.getStruct(i, 2)
      ss(i) = r.getInt(0)
      ee(i) = r.getInt(1)
      i += 1
    }
    // insertion sort by span start — spans are disjoint and per-doc
    // bounded, and the upstream collect_list order is shuffle-dependent
    var j = 1
    while (j < m) {
      val s0 = ss(j); val e0 = ee(j)
      var k = j - 1
      while (k >= 0 && ss(k) > s0) {
        ss(k + 1) = ss(k); ee(k + 1) = ee(k); k -= 1
      }
      ss(k + 1) = s0; ee(k + 1) = e0
      j += 1
    }
    val kept = new Array[UTF8String](n)
    var nKept = 0
    var si = 0
    i = 0
    while (i < n) {
      while (si < m && ee(si) <= i) si += 1
      if (!(si < m && ss(si) <= i)) {
        kept(nKept) = tokens.getUTF8String(i)
        nKept += 1
      }
      i += 1
    }
    val text = UTF8String.concatWs(Space,
      java.util.Arrays.copyOfRange(kept, 0, nKept): _*)
    new GenericInternalRow(Array[Any](n.toLong, nKept.toLong, text))
  }

  def apply(tokens: Column, spans: Column): Column =
    GraftShim.column(CutSpans(GraftShim.expression(tokens),
      GraftShim.expression(spans)))
}
