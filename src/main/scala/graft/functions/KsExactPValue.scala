package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Exact two-sided two-sample Kolmogorov-Smirnov p-value.
  *
  * The reference calls scipy `ks_2samp` whose method='auto' selects the
  * EXACT small-sample computation at the ±14-day boundary windows it uses
  * (`/root/reference/src/etl/ml7_analysis.py:385-472` — n ≤ 14 per side),
  * so the asymptotic series is a real divergence there. This implements
  * the same no-ties exact model (Hodges 1958 / Drion path counting, the
  * algorithm behind scipy's `_compute_prob_inside_method`):
  *
  *   P(D >= d) = 1 - (# monotone lattice paths (0,0) → (m,n) whose every
  *               point satisfies |x·n/g - y·m/g| < h) / C(m+n, n),
  *   h = round(d · m · n / g),  g = gcd(m, n).
  *
  * The DP is O(m·n) doubles per evaluated row — rows here are per
  * (boundary, feature), and window sizes are tens. Below m + n ≤ 1000 the
  * raw path-count DP runs unscaled (counts ≤ C(1000, 500) ≈ 2.7e299,
  * inside double range) — this branch is kept byte-identical because the
  * d2_ks_exact pinned-expected gate depends on its exact float results.
  * Larger samples switch to a rescaled DP (per-column renormalization
  * with a log-scale accumulator, the standard overflow guard), valid up
  * to scipy's own auto cap max(m, n) ≤ 10000 — so the auto method
  * selection can mirror scipy's exactly instead of diverging on mid-size
  * windows. CodegenFallback: one scalar eval per group-level row —
  * codegen would buy nothing.
  */
case class KsExactPValue(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType, DoubleType)

  override def nullSafeEval(na: Any, nb: Any, d: Any): Any =
    KsExactPValue.pValue(na.asInstanceOf[Long].toInt,
      nb.asInstanceOf[Long].toInt, d.asInstanceOf[Double])

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object KsExactPValue {

  /** Unscaled-DP bound: totals up to here use raw path counts (double
    * overflow bound for C(m+n, n); see class doc). */
  private val SmallTotal = 1000

  /** scipy's MAX_AUTO_N: method='auto' computes the exact p-value while
    * max(n1, n2) <= this, asymptotic above. The rescaled DP makes the
    * same rule computable here. */
  val ExactLimit = 10000

  def apply(nA: Column, nB: Column, d: Column): Column =
    GraftShim.column(KsExactPValue(GraftShim.expression(nA),
      GraftShim.expression(nB), GraftShim.expression(d)))

  /** P(D >= d) for samples of sizes (m, n), no-ties model. */
  private[graft] def pValue(na: Int, nb: Int, d: Double): Double = {
    require(na > 0 && nb > 0, s"ksExactPValue: empty sample ($na, $nb)")
    require(math.max(na, nb) <= ExactLimit,
      s"ksExactPValue: max(m, n) = ${math.max(na, nb)} exceeds exact cap $ExactLimit")
    val (m, n) = if (na >= nb) (na, nb) else (nb, na)
    val g = BigInt(m).gcd(BigInt(n)).toInt
    val mg = m / g
    val ng = n / g
    // d in integer units of 1/lcm(m,n); round() absorbs float noise in d
    val h = math.round(d * m.toDouble * n.toDouble / g)
    if (h <= 0) return 1.0 // d == 0: every ordering has D >= 0
    def inside(x: Int, y: Int): Boolean =
      math.abs(x.toLong * ng - y.toLong * mg) < h
    if (m + n <= SmallTotal) pValueSmall(m, n, h, inside)
    else pValueScaled(m, n, h, inside)
  }

  /** Raw path-count DP (totals <= [[SmallTotal]]). DO NOT reorder the
    * float operations: the d2_ks_exact pinned-expected parquet is
    * bit-exact against this branch. */
  private def pValueSmall(m: Int, n: Int, h: Long,
                          inside: (Int, Int) => Boolean): Double = {
    // A(y) = #paths to (x, y) with every point inside; in-place column DP
    val a = Array.ofDim[Double](n + 1)
    a(0) = 1.0
    var y = 1
    while (y <= n) { a(y) = if (inside(0, y)) a(y - 1) else 0.0; y += 1 }
    var x = 1
    while (x <= m) {
      a(0) = if (inside(x, 0)) a(0) else 0.0
      y = 1
      while (y <= n) {
        a(y) = if (inside(x, y)) a(y) + a(y - 1) else 0.0
        y += 1
      }
      x += 1
    }
    // C(m+n, n), interleaved multiply/divide keeps intermediates bounded
    var total = 1.0
    var i = 1
    while (i <= n) { total = total * (m + i) / i; i += 1 }
    math.min(1.0, math.max(0.0, 1.0 - a(n) / total))
  }

  /** Rescaled DP for large samples: whenever the path-count column grows
    * past 1e280, the whole column is divided down and the factor
    * accumulated in log space; the final ratio against C(m+n, n) is then
    * formed as exp(log a - logScale-adjusted log C). Identical recurrence,
    * overflow-free to the scipy cap. */
  private def pValueScaled(m: Int, n: Int, h: Long,
                           inside: (Int, Int) => Boolean): Double = {
    val a = Array.ofDim[Double](n + 1)
    var scaleLog = 0.0 // natural log of the cumulative divide-down factor
    a(0) = 1.0
    var y = 1
    while (y <= n) { a(y) = if (inside(0, y)) a(y - 1) else 0.0; y += 1 }
    var x = 1
    while (x <= m) {
      a(0) = if (inside(x, 0)) a(0) else 0.0
      y = 1
      var colMax = a(0)
      while (y <= n) {
        a(y) = if (inside(x, y)) a(y) + a(y - 1) else 0.0
        if (a(y) > colMax) colMax = a(y)
        y += 1
      }
      if (colMax > 1e280) {
        y = 0
        while (y <= n) { a(y) /= colMax; y += 1 }
        scaleLog += math.log(colMax)
      }
      x += 1
    }
    if (a(n) <= 0.0) return 1.0 // no admissible path: P(D >= d) = 1
    var logC = 0.0
    var i = 1
    while (i <= n) { logC += math.log((m + i).toDouble) - math.log(i.toDouble); i += 1 }
    val ratio = math.exp(math.log(a(n)) + scaleLog - logC)
    math.min(1.0, math.max(0.0, 1.0 - ratio))
  }
}
