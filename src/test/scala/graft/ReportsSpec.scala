package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Reports
import graft.pipeline.Reports.{CvSummary, FoldMetrics}

/** Stage 6-9 artifact contract: per-fold metrics frame, cv_summary.json
  * rendering, RUN_REPORT.md rendering, and the atomic text sink. */
class ReportsSpec extends SparkTestBase {
  import spark.implicits._

  private def foldedPreds = {
    // two folds; fold 0 predicts perfectly, fold 1 always predicts "a"
    val rows =
      (1 to 10).map(i => (0L, java.sql.Date.valueOf("2024-01-0" + (i % 5 + 1)),
        if (i % 2 == 0) "a" else "b", if (i % 2 == 0) "a" else "b")) ++
      (1 to 10).map(i => (1L, java.sql.Date.valueOf("2024-01-0" + (i % 4 + 6)),
        if (i % 2 == 0) "a" else "b", "a"))
    rows.toDF("fold_id", "date", "y_true", "y_pred")
  }

  test("perFoldMetrics: perfect fold scores 1.0; degenerate fold matches sklearn") {
    val out = Reports.perFoldMetrics(foldedPreds, "fold_id", "y_true", "y_pred",
      "date", Seq("a", "b")).orderBy("fold_id").collect()
    assert(out.length === 2)
    val f0 = out(0)
    assert(f0.getAs[Double]("f1_macro") === 1.0)
    assert(f0.getAs[Double]("balanced_accuracy") === 1.0)
    assert(f0.getAs[Double]("cohen_kappa") === 1.0)
    assert(f0.getAs[Long]("n_train") === 10L) // all non-val rows (20 - 10)
    assert(f0.getAs[Long]("n_val") === 10L)
    val f1 = out(1)
    // all-"a" predictions on a 50/50 split: recall a=1, b=0 -> BA=0.5;
    // f1 a=2/3, b=0 -> macro 1/3; kappa 0 (agreement = chance)
    assert(math.abs(f1.getAs[Double]("f1_macro") - 0.333333) <= 1e-6)
    assert(math.abs(f1.getAs[Double]("balanced_accuracy") - 0.5) <= 1e-6)
    assert(math.abs(f1.getAs[Double]("cohen_kappa")) <= 1e-6)
    assert(f1.getAs[Long]("n_train") === 10L) // 20 - n_val
  }

  test("cv_summary.json: reference key set, deterministic rendering, mean/std") {
    val folds = Seq(
      FoldMetrics(0, "2024-01-01", "2024-01-05", 0, 10, 1.0, 1.0, 1.0),
      FoldMetrics(1, "2024-01-06", "2024-01-09", 10, 10, 0.5, 0.5, 0.0))
    val s = CvSummary("LogisticRegression", "FS-B (Baseline + HRV)",
      "som_3class", "som", 3, Seq("-1" -> 5L, "0" -> 10L, "1" -> 5L),
      20, 7, folds, "docs/reports/ablation.md",
      Seq("Used 3-class fallback (binary too imbalanced)"))
    val json = Reports.cvSummaryJson(s)
    Seq("\"model\": \"LogisticRegression\"", "\"cv_type\": \"temporal_2fold\"",
      "\"mean_f1_macro\": 0.75", "\"std_f1_macro\": 0.25",
      "\"n_samples\": 20", "\"n_features\": 7",
      "\"folds\": [", "\"fold\": 0", "\"val_start\": \"2024-01-01\"",
      "\"warnings\": [\"Used 3-class fallback (binary too imbalanced)\"]")
      .foreach(k => assert(json.contains(k), s"missing $k in\n$json"))
    assert(json === Reports.cvSummaryJson(s), "rendering must be deterministic")
  }

  test("cv_summary.json stays valid JSON when a warning holds a tab and a newline") {
    val warning = "fold 2:\tskipped\nsingle class \"b\" in C:\\val"
    val s = CvSummary("LogisticRegression", "FS-A", "som_3class", "som", 3,
      Seq("a" -> 4L), 4, 2,
      Seq(FoldMetrics(0, "2024-01-01", "2024-01-05", 0, 4, 1.0, 1.0, 1.0)),
      "docs/reports/ablation.md", Seq(warning))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Reports.cvSummaryJson(s))
    assert(tree.get("warnings").get(0).asText() === warning)
    assert(tree.get("model").asText() === "LogisticRegression")
  }

  test("cv_summary.json renders locale-independently (comma-decimal default locale)") {
    val folds = Seq(FoldMetrics(0, "2024-01-01", "2024-01-05", 0, 10, 1.0, 1.0, 1.0))
    val s = CvSummary("LogisticRegression", "FS-A", "som_3class", "som", 3,
      Seq("0" -> 10L), 10, 7, folds, "", Nil)
    val prev = java.util.Locale.getDefault
    val json = try {
      // de_DE formats 1.0 as "1,0" through the f-interpolator — the
      // rendering must pin Locale.ROOT so the artifact stays valid JSON
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      Reports.cvSummaryJson(s)
    } finally java.util.Locale.setDefault(prev)
    assert(json.contains("\"mean_f1_macro\": 1.0"), json)
    assert(!json.contains("1,0"), s"comma-decimal leaked into JSON:\n$json")
  }

  test("RUN_REPORT.md: coverage sections + ML6 block; absent columns skipped") {
    val labeled = Seq(
      (java.sql.Date.valueOf("2024-01-01"), Some(1), Some(1), Some(3L), Some(45.0), Some(1)),
      (java.sql.Date.valueOf("2024-01-02"), Some(-1), Some(0), Some(0L), Some(55.0), Some(0)),
      (java.sql.Date.valueOf("2024-01-03"), None, Some(1), Some(2L), None, Some(-1)),
      (java.sql.Date.valueOf("2024-01-04"), Some(0), None, None, Some(50.0), Some(0)))
      .toDF("date", "som_category_3class", "med_any", "med_event_count",
        "hrv_sdnn_mean", "label_3cls")
    val cv = CvSummary("LogisticRegression", "FS-B", "som_3class", "som", 3,
      Seq("0" -> 2L), 4, 5,
      Seq(FoldMetrics(0, "2024-01-01", "2024-01-04", 0, 4, 0.8, 0.75, 0.6)),
      "ref.md", Nil)
    val md = Reports.runReportMd(labeled, "P000001", "2025-12-09", "0-9",
      "2026-01-01 00:00:00", Some(cv))
    Seq("**Date Range**: 2024-01-01 to 2024-01-04",
      "**Total Days**: 4",
      "**Days with SoM labels**: 3 / 4 (75.0%)",
      "Class +1 (Positive/Stable): 1 (33.3%)",
      "**Days with meds data**: 3 / 4 (75.0%)",
      "**Days with med_any=1**: 2",
      "**Total medication events**: 5",
      "**Days with HRV data**: 3 / 4 (75.0%)",
      "HRV SDNN range**: 45.0 - 55.0 ms (mean=50.0)",
      "**PBSI -1 (Dysregulated)**: 1 (25.0%)",
      "## ML6: Logistic Regression (SoM Target)",
      "**Mean Macro-F1**: 0.8000",
      "F1=0.8000, BA=0.7500, κ=0.6000")
      .foreach(k => assert(md.contains(k), s"missing '$k' in\n$md"))
    // absent columns -> sections skipped
    val slim = Seq((java.sql.Date.valueOf("2024-01-01"), 1.0))
      .toDF("date", "other")
    val md2 = Reports.runReportMd(slim, "P", "S", "0-9", "t", None)
    assert(!md2.contains("SoM (State of Mind) Coverage"))
    assert(!md2.contains("MEDS"))
    assert(!md2.contains("ML6:"))
  }

  test("confusion matrices / per-class / baseline-comparison artifact shapes") {
    val cm = Reports.confusionMatricesJson(foldedPreds, "fold_id", "y_true",
      "y_pred", Seq("a", "b"), "LogisticRegression", "som_3class")
    Seq("\"model\": \"LogisticRegression\"", "\"class_labels\": [\"a\", \"b\"]",
      "\"n_folds\": 2",
      // fold 0 perfect: diag (5,5); fold 1 all-"a": col 0 = (5,5)
      "{\"fold_idx\": 0, \"matrix\": [[5, 0], [0, 5]]}",
      "{\"fold_idx\": 1, \"matrix\": [[5, 0], [5, 0]]}")
      .foreach(k => assert(cm.contains(k), s"missing $k in\n$cm"))

    val pfc = Reports.perFoldClassMetrics(foldedPreds, "fold_id", "y_true",
      "y_pred", Seq("a", "b"))
    val csv = Reports.perClassCsv(pfc, "LogisticRegression", "som_3class")
    val csvLines = csv.trim.split("\n")
    assert(csvLines.head === "model,target,class_label,precision_mean," +
      "precision_std,recall_mean,recall_std,f1_mean,f1_std,support_total")
    assert(csvLines.length === 3)
    // class a: fold0 p=r=1, fold1 p=0.5 r=1 -> recall_mean=1.0, support 10
    val aRow = csvLines(1).split(",")
    assert(aRow(2) === "a" && aRow(5) === "1.0" && aRow(9) === "10")

    val perFold = Reports.perFoldMetrics(foldedPreds, "fold_id", "y_true",
      "y_pred", "date", Seq("a", "b"))
    val bc = Reports.baselineComparisonCsv(
      Seq(("LogisticRegression", "model", perFold)), "som_3class")
    val bcLines = bc.trim.split("\n")
    assert(bcLines.head.startsWith("method,type,target,f1_macro_mean"))
    // mean of fold f1s (1.0, 1/3) ~ 0.6666665 (post-round-6 per fold)
    val vals = bcLines(1).split(",")
    assert(vals(0) === "LogisticRegression" && vals(1) === "model")
    assert(math.abs(vals(3).toDouble - (1.0 + 0.333333) / 2) < 1e-6)
  }

  test("writeArtifacts: the full stage 6-9 tree lands, parseable, numbers consistent") {
    val dir = java.nio.file.Files.createTempDirectory("artifacts").toString
    val labeled = Seq(
      (java.sql.Date.valueOf("2024-01-01"), 1, -0.5),
      (java.sql.Date.valueOf("2024-01-02"), 0, 0.2))
      .toDF("date", "som_class_3", "pbsi_score")
    val perFoldBaseline = Reports.perFoldMetrics(foldedPreds, "fold_id",
      "y_true", "y_pred", "date", Seq("a", "b"))
    val summary = Reports.writeArtifacts(labeled, foldedPreds, "fold_id",
      "y_true", "y_pred", "date", Seq("a", "b"), "LogisticRegression",
      "FS-B (Baseline + HRV)", "som_3class", nFeatures = 7,
      participant = "P000001", snapshot = "2025-12-09",
      stagesExecuted = "1-9", generatedAt = "2025-12-09 00:00:00",
      outDir = dir,
      baselines = Seq(("majority", "baseline", perFoldBaseline)))
    def read(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$p")))
    val cv = read("cv_summary.json")
    assert(cv.contains("\"cv_type\": \"temporal_2fold\"") &&
      cv.contains("\"n_samples\": 20") && cv.contains("\"n_features\": 7"))
    // n_train = all non-val rows: both folds 20 - 10 = 10
    assert(cv.contains("\"n_train\": 10"))
    assert(read("confusion_matrices/cm_LogisticRegression_som_3class.json")
      .contains("\"n_folds\": 2"))
    assert(read("metrics/per_class_LogisticRegression_som_3class.csv")
      .startsWith("model,target,class_label"))
    val bc = read("baseline_comparisons/baseline_comparison_som_3class.csv")
      .trim.split("\n")
    assert(bc.length === 3 && bc(1).startsWith("LogisticRegression,model") &&
      bc(2).startsWith("majority,baseline"))
    assert(read("RUN_REPORT.md").contains("P000001"))
    assert(summary.folds.length === 2 && summary.nSamples === 20L)
  }

  test("atomicText sink: writes content, keeps .prev backup on overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("reports").toString
    val target = s"$dir/cv_summary.json"
    graft.core.Sinks.atomicText(spark, target, "{\"v\": 1}")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target))) === "{\"v\": 1}")
    graft.core.Sinks.atomicText(spark, target, "{\"v\": 2}")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target))) === "{\"v\": 2}")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target + ".prev"))) === "{\"v\": 1}")
  }
}
