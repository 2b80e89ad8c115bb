package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Json
import graft.functions.Canon.round

/** Stage 6–9 artifact contract: the reference's ML6 `cv_summary.json`
  * (`/root/reference/scripts/run_full_pipeline.py:1334-1359`) and the
  * SoM-centric `RUN_REPORT.md` renderer
  * (`run_full_pipeline.py:1918-2228`).
  *
  * The engine computes every number distributively (one or two
  * aggregation passes per section); only the final scalar rows are
  * collected to render the artifacts. [[perFoldMetrics]] is the
  * oracle-checked core: per-fold macro-F1 / balanced accuracy / Cohen's
  * kappa over a folded prediction frame — the exact numbers the
  * reference writes into `cv_summary.json`'s `folds` list
  * (`run_full_pipeline.py:1292-1310`).
  */
object Reports {
  /** Locale-pinned decimal rendering: the f-interpolator delegates to the
    * JVM default locale, which on comma-decimal locales would emit "0,75"
    * — invalid JSON and nondeterministic markdown. */
  private def fmt(pattern: String, d: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(d))

  /** Per-fold classification metrics frame — one row per fold with the
    * reference's fold-result fields (fold, val_start, val_end, n_train,
    * n_val, f1_macro, balanced_accuracy, cohen_kappa).
    *
    * Semantics match sklearn as the reference calls it: macro-F1 with
    * zero_division=0 averaged over `classes`; balanced accuracy = mean
    * recall over classes PRESENT in y_true; kappa from the marginal
    * expected agreement. n_train counts rows in all earlier folds
    * (expanding temporal CV).
    *
    * Shape: two aggregation passes over `pred` (per-(fold,class) counts
    * and per-fold span/count) + a broadcast-sized join and a window over
    * the per-fold frame. No per-row collect. */
  /** Shared per-(fold, class) confusion counts (plus caller-chosen slice
    * columns — e.g. m6's model — so a multi-slice frame aggregates in ONE
    * pass instead of one filtered pass per slice). */
  private def perClassCounts(pred: DataFrame, foldCol: String, truthCol: String,
                             predCol: String, classes: Seq[String],
                             sliceCols: Seq[String] = Nil): DataFrame =
    pred
      .select(sliceCols.map(col) ++ Seq(col(foldCol).as("fold_id"),
        explode(typedLit(classes)).as("label"),
        col(truthCol).as("y_true"), col(predCol).as("y_pred")): _*)
      .groupBy((sliceCols :+ "fold_id" :+ "label").map(col): _*)
      .agg(
        sum(when(col("y_true") === col("label") && col("y_pred") === col("label"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("y_true") =!= col("label") && col("y_pred") === col("label"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y_true") === col("label") && col("y_pred") =!= col("label"), 1L)
          .otherwise(0L)).as("fn"))

  private def precisionExpr = when(col("tp") + col("fp") > 0,
    col("tp") / (col("tp") + col("fp"))).otherwise(0.0)
  private def recallExpr = when(col("tp") + col("fn") > 0,
    col("tp") / (col("tp") + col("fn"))).otherwise(0.0)
  private def f1Expr = {
    val (p, r) = (precisionExpr, recallExpr)
    when(p + r > 0, lit(2) * p * r / (p + r)).otherwise(0.0)
  }

  /** Per-(fold, class) precision/recall/F1 — the rows behind the
    * reference's `per_class_*.csv` artifact. */
  private[graft] def perFoldClassMetrics(pred: DataFrame, foldCol: String, truthCol: String,
                          predCol: String, classes: Seq[String]): DataFrame =
    perClassCounts(pred, foldCol, truthCol, predCol, classes)
      .select(col("fold_id"), col("label"), col("tp"), col("fp"), col("fn"),
        round(precisionExpr, 6).as("precision"),
        round(recallExpr, 6).as("recall"),
        round(f1Expr, 6).as("f1"))

  def perFoldMetrics(pred: DataFrame, foldCol: String, truthCol: String,
                     predCol: String, dateCol: String,
                     classes: Seq[String],
                     trainCounts: Option[DataFrame] = None,
                     sliceCols: Seq[String] = Nil): DataFrame = {
    val perClass = perClassCounts(pred, foldCol, truthCol, predCol, classes,
      sliceCols)
    val p = precisionExpr
    val r = recallExpr
    val f1 = f1Expr
    val rt = col("tp") + col("fn") // true-class support
    val rp = col("tp") + col("fp") // predicted-class support
    val metrics = perClass.groupBy((sliceCols :+ "fold_id").map(col): _*).agg(
      avg(f1).as("f1_macro_raw"),
      (sum(when(rt > 0, r)) / sum(when(rt > 0, 1))).as("ba_raw"),
      sum(col("tp")).as("agree"),
      sum(rt).as("n"),
      sum(rt * rp).as("rtrp"))
    val po = col("agree") / col("n")
    val pe = col("rtrp") / (col("n") * col("n"))
    val spans = pred.groupBy(sliceCols.map(col) :+
        col(foldCol).as("fold_id"): _*)
      .agg(min(col(dateCol)).as("val_start"), max(col(dateCol)).as("val_end"),
        count(lit(1)).as("n_val"))
    // n_train: by default all non-validation rows
    // (run_full_pipeline.py:1265 builds train_idx = every index not in
    // val_idx — NOT an expanding window), computed as total - n_val over
    // the folds frame (folds tile the sample range, so the fold n_val sum
    // is n_samples). Callers whose fold construction trains on a BOUNDED
    // window (RunPipeline's monthly folds) must pass the actual per-fold
    // sizes via `trainCounts` (fold_id, n_train) or the identity
    // misstates every fold.
    val wAll = Window.partitionBy(sliceCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val joined = spans.join(metrics, sliceCols :+ "fold_id")
    trainCounts.fold(
      joined.withColumn("n_train",
        sum(col("n_val")).over(wAll) - col("n_val"))
    )(tc =>
      joined.join(broadcast(tc.select(col("fold_id"), col("n_train"))),
          Seq("fold_id"), "left")
        .withColumn("n_train", coalesce(col("n_train"), lit(0L)))
    )
      .select(sliceCols.map(col) ++ Seq(col("fold_id"), col("val_start"),
        col("val_end"),
        col("n_train"), col("n_val"),
        round(col("f1_macro_raw"), 6).as("f1_macro"),
        round(col("ba_raw"), 6).as("balanced_accuracy"),
        round((po - pe) / (lit(1.0) - pe), 6).as("cohen_kappa")): _*)
  }

  /** Per-fold confusion matrices JSON — the reference's
    * `confusion_matrices/cm_<model>_<target>.json` shape
    * (`results/metrics/P000001/2025-12-09/confusion_matrices/`):
    * `{model, target, class_labels, n_folds, per_fold: [{fold_idx,
    * matrix}]}` with matrix[i][j] = count(y_true=labels[i],
    * y_pred=labels[j]). One aggregation; only folds × k² cells are
    * collected. */
  private[graft] def confusionMatricesJson(pred: DataFrame, foldCol: String, truthCol: String,
                            predCol: String, classes: Seq[String],
                            model: String, target: String): String = {
    val cells = pred
      .groupBy(col(foldCol).as("fold_id"), col(truthCol).as("t"),
        col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Number]("fold_id").longValue(),
        r.getAs[Any]("t").toString, r.getAs[Any]("p").toString) ->
        r.getAs[Long]("n"))
      .toMap
    val folds = cells.keys.map(_._1).toSeq.distinct.sorted
    val labelsJson = classes.map(Json.str).mkString("[", ", ", "]")
    val perFold = folds.map { f =>
      val matrix = classes.map { t =>
        classes.map(pd => cells.getOrElse((f, t, pd), 0L)).mkString("[", ", ", "]")
      }.mkString("[", ", ", "]")
      s"""{"fold_idx": $f, "matrix": $matrix}"""
    }.mkString("[", ", ", "]")
    s"""{
       |  "model": ${Json.str(model)},
       |  "target": ${Json.str(target)},
       |  "class_labels": $labelsJson,
       |  "n_folds": ${folds.length},
       |  "per_fold": $perFold
       |}""".stripMargin
  }

  /** Per-class across-fold stats CSV — the reference's
    * `per_class/per_class_<model>_<target>.csv` header:
    * `model,target,class_label,precision_mean,precision_std,recall_mean,
    * recall_std,f1_mean,f1_std,support_total` (std is np.std, ddof=0).
    * Input is a [[perFoldClassMetrics]] frame. */
  private[graft] def perClassCsv(perFoldClass: DataFrame, model: String, target: String): String = {
    val rows = perFoldClass.groupBy("label").agg(
      avg("precision").as("pm"), stddev_pop("precision").as("ps"),
      avg("recall").as("rm"), stddev_pop("recall").as("rs"),
      avg("f1").as("fm"), stddev_pop("f1").as("fs"),
      sum(col("tp") + col("fn")).as("support"))
      .orderBy("label").collect()
    val header = "model,target,class_label,precision_mean,precision_std," +
      "recall_mean,recall_std,f1_mean,f1_std,support_total"
    val lines = rows.map { r =>
      Seq(model, target, r.getAs[Any]("label").toString,
        r.getAs[Double]("pm").toString, r.getAs[Double]("ps").toString,
        r.getAs[Double]("rm").toString, r.getAs[Double]("rs").toString,
        r.getAs[Double]("fm").toString, r.getAs[Double]("fs").toString,
        r.getAs[Long]("support").toString).mkString(",")
    }
    (header +: lines).mkString("\n") + "\n"
  }

  /** Model-vs-baselines comparison CSV — the reference's
    * `baseline_comparisons/baseline_comparison_<target>.csv` header:
    * `method,type,target,f1_macro_mean,f1_macro_std,
    * balanced_accuracy_mean,balanced_accuracy_std,cohen_kappa_mean,
    * cohen_kappa_std`. Each entry is (method, type, perFoldMetrics
    * frame); W8 baseline predictions feed the same [[perFoldMetrics]]
    * as the model. */
  private[graft] def baselineComparisonCsv(entries: Seq[(String, String, DataFrame)],
                            target: String): String = {
    val header = "method,type,target,f1_macro_mean,f1_macro_std," +
      "balanced_accuracy_mean,balanced_accuracy_std,cohen_kappa_mean,cohen_kappa_std"
    val lines = entries.map { case (method, kind, perFold) =>
      val r = perFold.agg(
        avg("f1_macro").as("fm"), stddev_pop("f1_macro").as("fs"),
        avg("balanced_accuracy").as("bm"), stddev_pop("balanced_accuracy").as("bs"),
        avg("cohen_kappa").as("km"), stddev_pop("cohen_kappa").as("ks")).head()
      Seq(method, kind, target,
        r.getAs[Double]("fm").toString, r.getAs[Double]("fs").toString,
        r.getAs[Double]("bm").toString, r.getAs[Double]("bs").toString,
        r.getAs[Double]("km").toString, r.getAs[Double]("ks").toString)
        .mkString(",")
    }
    (header +: lines).mkString("\n") + "\n"
  }

  /** One fold's metrics as written into cv_summary.json's `folds`. */
  final case class FoldMetrics(fold: Long, valStart: String, valEnd: String,
                               nTrain: Long, nVal: Long, f1Macro: Double,
                               balancedAccuracy: Double, cohenKappa: Double)

  /** The cv_summary.json contract fields (reference key order). */
  final case class CvSummary(model: String, featureSet: String, target: String,
                             targetType: String, nClasses: Int,
                             classDistribution: Seq[(String, Long)],
                             nSamples: Long, nFeatures: Int,
                             folds: Seq[FoldMetrics],
                             ablationReference: String,
                             warnings: Seq[String]) {
    def meanF1: Double = mean(folds.map(_.f1Macro))
    /** np.std default: population (ddof=0), as the reference computes. */
    def stdF1: Double = {
      val xs = folds.map(_.f1Macro)
      val m = mean(xs)
      math.sqrt(mean(xs.map(x => (x - m) * (x - m))))
    }
    def meanBa: Double = mean(folds.map(_.balancedAccuracy))
    def meanKappa: Double = mean(folds.map(_.cohenKappa))
    private def mean(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
  }

  /** Collect a [[perFoldMetrics]] frame (already per-fold-small) into the
    * fold list for [[CvSummary]]. */
  private def collectFolds(perFold: DataFrame): Seq[FoldMetrics] =
    perFold.orderBy("fold_id").collect().toSeq.map { r =>
      FoldMetrics(
        r.getAs[Number]("fold_id").longValue(),
        r.getAs[java.sql.Date]("val_start").toString,
        r.getAs[java.sql.Date]("val_end").toString,
        r.getAs[Long]("n_train"), r.getAs[Long]("n_val"),
        r.getAs[Double]("f1_macro"), r.getAs[Double]("balanced_accuracy"),
        r.getAs[Double]("cohen_kappa"))
    }

  /** Render cv_summary.json with the reference's key set and order
    * (`run_full_pipeline.py:1334-1352`). Deterministic: no timestamps,
    * fixed key order, Double.toString rendering. */
  private[graft] def cvSummaryJson(s: CvSummary): String = {
    def jnum(d: Double) = if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15)
      fmt("%.1f", d) else d.toString
    val dist = s.classDistribution
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    val folds = s.folds.map { f =>
      s"""{"fold": ${f.fold}, "val_start": ${Json.str(f.valStart)}, "val_end": ${Json.str(f.valEnd)}, """ +
        s""""n_train": ${f.nTrain}, "n_val": ${f.nVal}, "f1_macro": ${jnum(f.f1Macro)}, """ +
        s""""balanced_accuracy": ${jnum(f.balancedAccuracy)}, "cohen_kappa": ${jnum(f.cohenKappa)}}"""
    }.mkString("[", ", ", "]")
    val warnings = s.warnings.map(Json.str).mkString("[", ", ", "]")
    s"""{
       |  "model": ${Json.str(s.model)},
       |  "feature_set": ${Json.str(s.featureSet)},
       |  "target": ${Json.str(s.target)},
       |  "target_type": ${Json.str(s.targetType)},
       |  "n_classes": ${s.nClasses},
       |  "class_distribution": $dist,
       |  "cv_type": ${Json.str(s"temporal_${s.folds.length}fold")},
       |  "mean_f1_macro": ${jnum(s.meanF1)},
       |  "std_f1_macro": ${jnum(s.stdF1)},
       |  "mean_balanced_accuracy": ${jnum(s.meanBa)},
       |  "mean_cohen_kappa": ${jnum(s.meanKappa)},
       |  "n_samples": ${s.nSamples},
       |  "n_features": ${s.nFeatures},
       |  "folds": $folds,
       |  "ablation_reference": ${Json.str(s.ablationReference)},
       |  "warnings": $warnings
       |}""".stripMargin
  }

  /** Render the SoM-centric RUN_REPORT.md (`run_full_pipeline.py:1949-2228`):
    * data summary, SoM / MEDS / HRV coverage, PBSI distribution, and the
    * ML6 section from the cv summary. All coverage numbers come from ONE
    * aggregation pass over the labeled daily frame (sections whose source
    * columns are absent are skipped, as the reference does). The
    * `generatedAt` stamp is caller-supplied so rendering stays
    * deterministic and testable. */
  def runReportMd(labeled: DataFrame, participant: String, snapshot: String,
                  stagesExecuted: String, generatedAt: String,
                  cv: Option[CvSummary]): String = {
    val cols = labeled.columns.toSet
    def has(c: String): Column => Column =
      expr => if (cols.contains(c)) expr else lit(null)
    val aggs = Seq[Column](
      count(lit(1)).as("n_days"),
      min(col("date")).cast("string").as("d0"),
      max(col("date")).cast("string").as("d1"),
      has("som_category_3class")(count(col("som_category_3class"))).as("som_n"),
      has("som_category_3class")(
        sum(when(col("som_category_3class") === -1, 1L).otherwise(0L))).as("som_neg"),
      has("som_category_3class")(
        sum(when(col("som_category_3class") === 0, 1L).otherwise(0L))).as("som_neu"),
      has("som_category_3class")(
        sum(when(col("som_category_3class") === 1, 1L).otherwise(0L))).as("som_pos"),
      has("med_any")(count(col("med_any"))).as("med_n"),
      has("med_any")(sum(when(col("med_any") === 1, 1L).otherwise(0L))).as("med_taken"),
      has("med_event_count")(sum(col("med_event_count"))).as("med_events"),
      has("hrv_sdnn_mean")(count(col("hrv_sdnn_mean"))).as("hrv_n"),
      has("hrv_sdnn_mean")(avg(col("hrv_sdnn_mean"))).as("hrv_mean"),
      has("hrv_sdnn_mean")(min(col("hrv_sdnn_mean"))).as("hrv_min"),
      has("hrv_sdnn_mean")(max(col("hrv_sdnn_mean"))).as("hrv_max"),
      has("label_3cls")(
        sum(when(col("label_3cls") === -1, 1L).otherwise(0L))).as("pbsi_neg"),
      has("label_3cls")(
        sum(when(col("label_3cls") === 0, 1L).otherwise(0L))).as("pbsi_neu"),
      has("label_3cls")(
        sum(when(col("label_3cls") === 1, 1L).otherwise(0L))).as("pbsi_pos"))
    val r = labeled.agg(aggs.head, aggs.tail: _*).head()
    val nDays = r.getAs[Long]("n_days")
    def pct(x: Long, of: Long): String =
      if (of > 0) fmt("%.1f", 100.0 * x / of) else "0.0"
    val b = Seq.newBuilder[String]
    b += "# RUN_REPORT.md - Pipeline Execution Summary (SoM-Centric)"
    b += ""
    b += s"**Generated**: $generatedAt"
    b += s"**Participant**: $participant"
    b += s"**Snapshot**: $snapshot"
    b += s"**Stages Executed**: $stagesExecuted"
    b += ""
    b += "---"
    b += ""
    b += "## ML Strategy"
    b += ""
    b += "- **Primary ML Target**: `som_category_3class` (State of Mind)"
    b += "- **Secondary Target**: `som_binary` (1 if unstable, 0 otherwise)"
    b += "- **PBSI**: Used as auxiliary feature (`pbsi_score`), NOT as target"
    b += "- **Extended Features**: HR, HRV (SDNN), Sleep, Activity, Meds"
    b += ""
    b += "---"
    b += ""
    b += "## Data Summary"
    b += ""
    b += s"- **Date Range**: ${r.getAs[String]("d0")} to ${r.getAs[String]("d1")}"
    b += s"- **Total Days**: $nDays"
    b += ""
    if (cols.contains("som_category_3class")) {
      val somN = r.getAs[Long]("som_n")
      b += "### SoM (State of Mind) Coverage"
      b += ""
      b += s"- **Days with SoM labels**: $somN / $nDays (${pct(somN, nDays)}%)"
      if (somN > 0) {
        b += ""
        b += "**SoM Distribution:**"
        Seq((-1, "Negative/Unstable", "som_neg"), (0, "Neutral", "som_neu"),
          (1, "Positive/Stable", "som_pos")).foreach { case (cls, name, c) =>
          val cnt = r.getAs[Long](c)
          b += f"  - Class $cls%+d ($name): $cnt (${pct(cnt, somN)}%%)"
        }
      }
      b += ""
    }
    if (cols.contains("med_any")) {
      val medN = r.getAs[Long]("med_n")
      b += "### MEDS (Medication) Coverage"
      b += ""
      b += s"- **Days with meds data**: $medN / $nDays (${pct(medN, nDays)}%)"
      b += s"- **Days with med_any=1**: ${r.getAs[Long]("med_taken")}"
      if (cols.contains("med_event_count")) {
        // sum() over an all-null (or empty) column returns null
        val me = Option(r.getAs[Number]("med_events")).fold(0L)(_.longValue())
        b += s"- **Total medication events**: $me"
      }
      b += ""
    }
    if (cols.contains("hrv_sdnn_mean")) {
      val hrvN = r.getAs[Long]("hrv_n")
      b += "### HRV (Heart Rate Variability) Coverage"
      b += ""
      b += s"- **Days with HRV data**: $hrvN / $nDays (${pct(hrvN, nDays)}%)"
      if (hrvN > 0)
        b += s"- **HRV SDNN range**: ${fmt("%.1f", r.getAs[Double]("hrv_min"))} - " +
          s"${fmt("%.1f", r.getAs[Double]("hrv_max"))} ms " +
          s"(mean=${fmt("%.1f", r.getAs[Double]("hrv_mean"))})"
      b += ""
    }
    if (cols.contains("label_3cls")) {
      b += "### PBSI Distribution (Auxiliary Feature)"
      b += ""
      Seq((-1, "Dysregulated", "pbsi_neg"), (0, "Typical", "pbsi_neu"),
        (1, "Regulated", "pbsi_pos")).foreach { case (cls, name, c) =>
        val cnt = r.getAs[Long](c)
        b += f"- **PBSI $cls%+2d ($name)**: $cnt (${pct(cnt, nDays)}%%)"
      }
      b += ""
    }
    b += "---"
    b += ""
    cv.foreach { s =>
      b += "## ML6: Logistic Regression (SoM Target)"
      b += ""
      b += s"- **Target Used**: `${s.target}`"
      b += s"- **N Classes**: ${s.nClasses}"
      b += s"- **N Samples**: ${s.nSamples}"
      b += s"- **N Features**: ${s.nFeatures}"
      b += s"- **CV Type**: temporal_${s.folds.length}fold"
      b += s"- **Mean Macro-F1**: ${fmt("%.4f", s.meanF1)} ± ${fmt("%.4f", s.stdF1)}"
      b += s"- **Mean Balanced Accuracy**: ${fmt("%.4f", s.meanBa)}"
      b += ""
      if (s.warnings.nonEmpty) {
        b += "**Warnings:**"
        s.warnings.foreach(w => b += s"- $w")
        b += ""
      }
      if (s.classDistribution.nonEmpty) {
        b += "**Class Distribution:**"
        // numeric labels (the reference's som -1/0/1) sort by value;
        // non-numeric labels fall back to lexical order instead of
        // crashing the renderer
        s.classDistribution.sortBy { case (cls, _) =>
          scala.util.Try(cls.toDouble).toOption
            .fold((1, 0.0, cls))(d => (0, d, cls))
        }.foreach { case (cls, cnt) =>
          b += s"- Class $cls: $cnt"
        }
        b += ""
      }
      if (s.folds.nonEmpty) {
        b += "### Per-Fold Results"
        b += ""
        s.folds.foreach { f =>
          b += s"- **Fold ${f.fold}** (${f.valStart} → ${f.valEnd}): " +
            s"F1=${fmt("%.4f", f.f1Macro)}, BA=${fmt("%.4f", f.balancedAccuracy)}, " +
            s"κ=${fmt("%.4f", f.cohenKappa)}"
        }
        b += ""
      }
    }
    b.result().mkString("\n") + "\n"
  }

  /** End-to-end stage 6-9 artifact writer — the reference's
    * `run_full_pipeline` output contract in one call
    * (run_full_pipeline.py:1334-1359, 2220-2228). Computes the per-fold /
    * per-class metric frames from the fold predictions and writes
    *
    *   outDir/cv_summary.json
    *   outDir/confusion_matrices/cm_<model>_<target>.json
    *   outDir/metrics/per_class_<model>_<target>.csv
    *   outDir/baseline_comparisons/baseline_comparison_<target>.csv (when
    *     baseline perFoldMetrics frames are supplied; the model's own row
    *     leads, as the reference writes it)
    *   outDir/RUN_REPORT.md
    *
    * through the atomic `.prev`-backed text sink. Distributed discipline:
    * every write collects only fold-count- or class-count-sized frames;
    * the daily/prediction frames are aggregated in Spark first. Every
    * artifact re-aggregates `pred`, so callers pass it materialized (the
    * snapshot run checkpoints it once). Returns the CvSummary so callers
    * can assert on the numbers without re-reading the JSON. */
  def writeArtifacts(labeled: DataFrame, pred: DataFrame, foldCol: String,
                     truthCol: String, predCol: String, dateCol: String,
                     classes: Seq[String], model: String, featureSet: String,
                     target: String, nFeatures: Int, participant: String,
                     snapshot: String, stagesExecuted: String,
                     generatedAt: String, outDir: String,
                     ablationReference: String = "",
                     baselines: Seq[(String, String, DataFrame)] = Nil,
                     warnings: Seq[String] = Nil,
                     trainCounts: Option[DataFrame] = None): CvSummary = {
    val spark = pred.sparkSession
    val perFold = perFoldMetrics(pred, foldCol, truthCol, predCol, dateCol,
      classes, trainCounts)
    val dist = pred.groupBy(truthCol).count().orderBy(truthCol)
      .collect().toSeq.map(r => r.get(0).toString -> r.getAs[Long]("count"))
    val summary = CvSummary(model, featureSet, target,
      targetType = if (classes.length > 2) "multiclass" else "binary",
      nClasses = classes.length, classDistribution = dist,
      nSamples = dist.map(_._2).sum, nFeatures = nFeatures,
      folds = collectFolds(perFold),
      ablationReference = ablationReference, warnings = warnings)
    graft.core.Sinks.atomicText(spark, s"$outDir/cv_summary.json",
      cvSummaryJson(summary))
    graft.core.Sinks.atomicText(spark,
      s"$outDir/confusion_matrices/cm_${model}_$target.json",
      confusionMatricesJson(pred, foldCol, truthCol, predCol, classes,
        model, target))
    graft.core.Sinks.atomicText(spark,
      s"$outDir/metrics/per_class_${model}_$target.csv",
      perClassCsv(perFoldClassMetrics(pred, foldCol, truthCol, predCol,
        classes), model, target))
    if (baselines.nonEmpty)
      graft.core.Sinks.atomicText(spark,
        s"$outDir/baseline_comparisons/baseline_comparison_$target.csv",
        baselineComparisonCsv((model, "model", perFold) +: baselines, target))
    graft.core.Sinks.atomicText(spark, s"$outDir/RUN_REPORT.md",
      runReportMd(labeled, participant, snapshot, stagesExecuted,
        generatedAt, Some(summary)))
    summary
  }
}
