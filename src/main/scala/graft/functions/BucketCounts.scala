package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashed bag-of-n-grams bucket counts — the fastText-lineage
  * feature map of the learned quality classifier (t34) as ONE codegen'd
  * scan per document: word unigrams + bigrams over the dropEmpty token
  * array ([[ShingleStrings]] `dropEmpty` semantics for both n), each
  * feature hashed by the portable sha28 ([[ShaPrefixLong]], the
  * oracle-replayable hash) and folded into `buckets` counts as
  * `counts[sha28(feature) % buckets] += 1`.
  *
  * The composable form would pay an interpreted `ArrayFilter` lambda
  * PER BUCKET per document (the t10 `CodegenFallback` shape, times the
  * bucket count); here the per-document cost is one token pass per n
  * plus one digest per feature, inside whole-stage codegen. Null text
  * yields the all-zero vector (the fused kernels' empty-doc
  * convention). Downstream feature columns project with
  * `element_at(counts, b + 1)` — codegen-native. Value identity with
  * the composable filter-count form is HashingSpec-pinned. */
case class HashedBucketCounts(child: Expression, buckets: Int)
    extends NonNullTextKernel {

  require(buckets > 0 && buckets <= 4096,
    s"HashedBucketCounts: buckets out of range: $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def evalText(text: UTF8String): Any =
    HashedBucketCounts.compute(text, buckets)

  override protected def computeCall(ctx: CodegenContext, text: String): String =
    s"graft.functions.HashedBucketCounts.compute($text, $buckets)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedBucketCounts {

  /** One document -> bucket counts over its unigram+bigram hashed
    * features. Null text -> all zeros. */
  def compute(text: UTF8String, buckets: Int): ArrayData = {
    val counts = new Array[Long](buckets)
    var k = 1
    while (k <= 2) {
      val sh = ShingleStrings.compute(text, k, dropEmpty = true)
      val n = sh.numElements()
      var i = 0
      while (i < n) {
        val h = ShaPrefixLong.hash(sh.getUTF8String(i).getBytes, 7)
        counts((h % buckets).toInt) += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(counts)
  }

  def apply(c: Column, buckets: Int): Column =
    GraftShim.column(HashedBucketCounts(GraftShim.expression(c), buckets))
}
