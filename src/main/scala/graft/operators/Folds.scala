package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M2/M4/J7 — calendar cross-validation folds, feature-set ablation, and
  * static vendor priority (SURVEY §2.9, §2.3).
  */
object Folds {

  /** M2 exact — the reference's month-based calendar folds
    * (`src/etl/ml7_analysis.py:148-235`), semantics mirrored field by
    * field:
    *
    *  - anchor scan: the fold timeline starts at the first date (in date
    *    order) whose next-`anchorWindowRows`-ROW window contains >= 2
    *    distinct labels (>=2 distinct == windowed min != max, no distinct
    *    count needed); falls back to the global minimum date;
    *  - boundaries by CALENDAR months with end-of-month clamping, and
    *    composed sequentially (start +6mo, then +4mo, then +2mo — NOT
    *    +10mo/+12mo from the anchor: composition changes the clamped day,
    *    and pandas DateOffset, java.time and SQL intervals all agree on
    *    the composed form);
    *  - folds starting at/after the max date stop the schedule; folds
    *    with an empty train or val split, or fewer than 2 distinct train
    *    labels, are skipped WITHOUT renumbering.
    *
    * Returns one summary row per surviving fold: (fold_id, train_start,
    * train_end, val_start, val_end, n_train, n_val). Distributed shape:
    * one bounded single-partition window for the anchor scan (daily
    * grain — same rationale as the reference's sequential scan), one
    * 3-scalar agg, then a broadcast range-join + per-fold aggregation. */
  def calendarFoldsMonthly(daily: DataFrame, dateCol: String, labelCol: String,
                           nFolds: Int = 6, trainMonths: Int = 4,
                           valMonths: Int = 2,
                           anchorWindowRows: Int = 180): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = daily.sparkSession
    import spark.implicits._
    val wf = Window.orderBy(col("d"))
      .rowsBetween(Window.currentRow, anchorWindowRows - 1)
    // pandas .unique() counts NaN as a class, so a window of {0, null}
    // HAS two classes: windowed min != max (ignores nulls) OR the window
    // mixes null and non-null labels
    val flagged = daily
      .select(col(dateCol).cast("date").as("d"), col(labelCol).as("lbl"))
      .withColumn("has2",
        (min(col("lbl")).over(wf) =!= max(col("lbl")).over(wf)) ||
          (max(col("lbl").isNull.cast("int")).over(wf) === 1 &&
            max(col("lbl").isNotNull.cast("int")).over(wf) === 1))
    val a = flagged.agg(
      min(when(col("has2"), col("d"))).as("anchor"),
      min(col("d")).as("dmin"), max(col("d")).as("dmax")).head()
    require(!a.isNullAt(1),
      s"calendarFoldsMonthly: input has no non-null '$dateCol' rows")
    val anchor = (if (a.isNullAt(0)) a.getDate(1) else a.getDate(0)).toLocalDate
    val dmax = a.getDate(2).toLocalDate
    val spec = (0 until nFolds).map { f =>
      val t0 = anchor.plusMonths(f.toLong * (trainMonths + valMonths))
      val t1 = t0.plusMonths(trainMonths.toLong)
      val v1 = t1.plusMonths(valMonths.toLong)
      (f, java.sql.Date.valueOf(t0), java.sql.Date.valueOf(t1),
        java.sql.Date.valueOf(v1))
    }.filter { case (_, t0, _, _) => t0.toLocalDate.isBefore(dmax) }
      .toDF("fold_id", "train_start", "val_start_b", "val_end")
    daily
      .join(broadcast(spec),
        col(dateCol) >= col("train_start") && col(dateCol) < col("val_end"))
      .withColumn("role",
        when(col(dateCol) < col("val_start_b"), "train").otherwise("val"))
      .groupBy("fold_id", "train_start", "val_start_b", "val_end")
      .agg(
        sum(when(col("role") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("role") === "val", 1L).otherwise(0L)).as("n_val"),
        (countDistinct(when(col("role") === "train", col(labelCol))) +
          // count a null train label as one more class (pandas .unique()
          // keeps NaN); the when() must carry an is-null marker because
          // both "val row" and "null train label" map to CASE null
          max(when(col("role") === "train" && col(labelCol).isNull, 1)
            .otherwise(0))).as("n_train_classes"))
      .filter(col("n_train") > 0 && col("n_val") > 0 &&
        col("n_train_classes") >= 2)
      .select(col("fold_id"), col("train_start"),
        col("val_start_b").as("train_end"), col("val_start_b").as("val_start"),
        col("val_end"), col("n_train"), col("n_val"))
  }

  /** M4 — feature-set ablation: named column subsets (FS-A/B/C/D shape). */
  def ablation(df: DataFrame, keyCols: Seq[String],
               featureSets: Map[String, Seq[String]]): Map[String, DataFrame] =
    featureSets.map { case (name, cols) =>
      name -> df.select((keyCols ++ cols).map(col): _*)
    }

  /** M4 — deterministic best-config selection: highest metric, ties broken
    * by config name (the reference's fixed ordering). */
  def bestConfig(metrics: DataFrame, configCol: String, metricCol: String): String =
    metrics.orderBy(col(metricCol).desc, col(configCol)).head().getAs[String](configCol)

  /** J7 — static priority vendor selection: first candidate with any rows
    * wins, whole-table (reference `source_prioritizer.py:29-82`). Probes
    * with `head(1)` (LIMIT 1 scan), not count. */
  def firstNonEmpty(candidates: Seq[(String, DataFrame)]): Option[(String, DataFrame)] =
    candidates.find(_._2.head(1).nonEmpty).map { case (name, df) =>
      name -> df.withColumn("vendor", lit(name))
    }
}
