package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round

/** PBSI-style labeling operators (SURVEY.md §2.4 A12-A14, A13).
  *
  * Reference: `src/labels/build_pbsi.py` — per-segment z-scores of daily
  * features, a clipped weighted composite, then a TWO-PASS percentile
  * labeling: pass 1 computes the composite over all days, exact P25/P75
  * of it become literal thresholds in pass 2.
  *
  * Scale design: z-scores are window aggregates partitioned by the
  * segment key ([[groupZScores]]) — one shuffle, one pass over the input,
  * and no single-partition global window at any input size. The
  * two-pass thresholds are 2 scalars collected to the driver, mirroring
  * the reference's own two-phase structure (`build_pbsi.py:224-253`).
  */
object Labels {

  /** A12 — per-group z-score of each feature column, null/zero-std guarded
    * to 0.0 exactly like `_get_z_safe` (`src/labels/build_pbsi.py:84-117`).
    * Sample std (pandas ddof=1). Adds `z_<col>` per feature.
    *
    * Formulated as whole-partition window aggregates over the group key:
    * ONE shuffle and one pass over the input. (The alternative — aggregate
    * stats + join back — recomputes the entire upstream a second time
    * inside a single query plan, doubling the heaviest scan at scale.)
    * Windows here partition by the segment key, so they distribute; a
    * segment's rows are bounded (daily grain). */
  def groupZScores(df: DataFrame, groupCols: Seq[String], features: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols.map(col): _*)
    features.foldLeft(df) { (d, f) =>
      val m = avg(col(f)).over(w)
      val s = stddev_samp(col(f)).over(w)
      d.withColumn(s"z_$f",
        when(s.isNotNull && !isnan(s) && s > 0 && col(f).isNotNull,
          (col(f) - m) / s)
          .otherwise(lit(0.0)))
    }
  }

  /** Clip a column to [lo, hi] (F9). Reference: `build_pbsi.py:143-162`. */
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** A14 — weighted composite of (already z-scored) subcomponents, each
    * clipped to ±3, null-as-zero. `subs` maps output subscore name ->
    * (weight per z-column). Reference: `src/labels/build_pbsi.py:120-188`. */
  def weightedComposite(df: DataFrame, subs: Map[String, Seq[(String, Double)]],
                        compositeWeights: Seq[(String, Double)],
                        compositeName: String): DataFrame = {
    val withSubs = subs.foldLeft(df) { case (d, (name, terms)) =>
      val expr = terms.map { case (c, w) => coalesce(col(c), lit(0.0)) * lit(w) }
        .reduce(_ + _)
      d.withColumn(name, clip(expr, -3.0, 3.0))
    }
    val composite = compositeWeights.map { case (c, w) => col(c) * lit(w) }.reduce(_ + _)
    withSubs.withColumn(compositeName, round(composite, 6))
  }

  /** A13 — two-pass percentile labeling: exact P25/P75 of `scoreCol`
    * become literal thresholds; label +1 above hi, -1 below lo, else 0.
    * The percentile aggregation is distributed; only the 2 scalars hit the
    * driver. Linear-interpolation percentile = DuckDB `quantile_cont` =
    * pandas `quantile`. Reference: `src/labels/build_pbsi.py:224-253`. */
  def twoPassPercentileLabel(df: DataFrame, scoreCol: String,
                             loP: Double, hiP: Double): DataFrame = {
    // deliberately NOT checkpointed: the threshold pass reads only
    // scoreCol (column pruning), so materializing the full frame here
    // costs more than the pruned rescan on wide frames and would pin the
    // result to non-replicated executor-local storage
    val row = df.agg(
      percentile(col(scoreCol), lit(loP)).as("lo"),
      percentile(col(scoreCol), lit(hiP)).as("hi")).head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"twoPassPercentileLabel: '$scoreCol' has no non-null values — " +
        "percentile thresholds undefined")
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    df.withColumn("label_3cls",
        when(col(scoreCol) >= hi, 1)
          .when(col(scoreCol) <= lo, -1)
          .otherwise(0))
      .withColumn("label_2cls", when(col("label_3cls") === 1, 1).otherwise(0))
  }

  /** PBSI quality factor: 0.8^(#missing domains), floored at 0.5.
    * Reference: `src/labels/build_pbsi.py:166-188`. */
  def qualityFactor(missingFlags: Seq[Column]): Column = {
    val nMissing = missingFlags.map(f => f.cast("int")).reduce(_ + _)
    greatest(pow(lit(0.8), nMissing), lit(0.5))
  }
}
