package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.Discovery
import graft.ml.Models
import graft.pipeline.Reports
import graft.qc.Audit

/** M5 model training end-to-end on engine-prepped matrices; S1/S2/S10
  * deterministic discovery; Q3 assertions. */
class ModelsSpec extends SparkTestBase {
  import spark.implicits._

  /** Macro-F1 of `pred` (y_pred against `labelCol`) through the
    * oracle-checked M6 aggregation, the whole frame as one fold. */
  private def macroF1(pred: DataFrame, labelCol: String): Double = {
    val folded = pred.select(lit(0).as("fold_id"),
      col(labelCol).cast("string").as("y_true"),
      col("y_pred").cast("string").as("y_pred"),
      lit(java.sql.Date.valueOf("2024-01-01")).as("date"))
    val classes = folded.select("y_true").distinct().collect()
      .map(_.getString(0)).toSeq
    Reports.perFoldMetrics(folded, "fold_id", "y_true", "y_pred", "date",
      classes).head().getAs[Double]("f1_macro")
  }

  test("M5: logistic regression beats majority baseline on separable data") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      val label = i % 3
      val f1 = label * 2.0 + rnd.nextGaussian() * 0.3
      val f2 = -label * 1.5 + rnd.nextGaussian() * 0.3
      (i, label.toDouble, f1, f2)
    }
    val df = rows.toDF("id", "label", "f1", "f2")
    val train = df.filter(col("id") % 5 =!= 0)
    val test = df.filter(col("id") % 5 === 0)
    val pred = Models.logisticRegression(train, test, Seq("f1", "f2"), "label")
    val f1 = macroF1(pred, "label")
    assert(f1 > 0.9, s"macro-F1 $f1")
    // majority baseline on 3 balanced classes ~ 0.17 macro-F1
    val rf = Models.randomForest(train, test, Seq("f1", "f2"), "label",
      numTrees = 20, maxDepth = 5)
    assert(macroF1(rf, "label") > 0.9)
  }

  test("M5 GD: deterministic logreg separates separable data; partition-invariant") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val label = i % 2
      val f1 = label * 3.0 + rnd.nextGaussian() * 0.4
      val f2 = -label * 2.0 + rnd.nextGaussian() * 0.4
      (i, label.toDouble, f1, f2)
    }
    val df = rows.toDF("id", "label", "f1", "f2")
    val train = df.filter(col("id") % 5 =!= 0)
    val test = df.filter(col("id") % 5 === 0)
    val pred = Models.logisticRegressionGD(train, test, Seq("f1", "f2"), "label",
      iters = 10, lr = 0.5)
    val acc = pred.agg(avg(when(col("y_pred") === col("label").cast("int"), 1.0)
      .otherwise(0.0))).head().getDouble(0)
    assert(acc > 0.95, s"GD logreg accuracy $acc")
    val probs = pred.select("id", "prob").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(probs.values.forall(p => p >= 0.0 && p <= 1.0))
    // canonical rounding at every boundary makes the fit bit-identical
    // under a different partitioning (different partial-sum order)
    val pred2 = Models.logisticRegressionGD(train.repartition(13), test,
      Seq("f1", "f2"), "label", iters = 10, lr = 0.5)
    val probs2 = pred2.select("id", "prob").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(probs2 === probs, "probabilities changed under repartition")
  }

  test("M5 GD: null feature yields null prob AND null y_pred") {
    val train = Seq((0, 0.0, 1.0, 2.0), (1, 1.0, 3.0, -1.0), (2, 0.0, 0.5, 1.5),
      (3, 1.0, 2.5, -0.5)).toDF("id", "label", "f1", "f2")
    val test = Seq(
      (10, 1.0, Some(2.0), Some(-1.0)),
      (11, 0.0, None: Option[Double], Some(1.0)))
      .toDF("id", "label", "f1", "f2")
    val pred = Models.logisticRegressionGD(train, test, Seq("f1", "f2"), "label",
      iters = 2, lr = 0.5)
    val rows = pred.select("id", "prob", "y_pred").collect()
      .map(r => r.getInt(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(rows(10) === ((false, false)))
    // null feature must null BOTH prob and y_pred (the oracle mirrors
    // this; a 0 here would hash-diverge on nullable feature frames)
    assert(rows(11) === ((true, true)))
  }

  test("M5 extended: GBT + LinearSVC separate 3-class data, decode {-1,0,1} labels") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val label = i % 3 - 1 // the reference's {-1, 0, +1} label space
      val f1 = label * 2.0 + rnd.nextGaussian() * 0.3
      val f2 = -label * 1.5 + rnd.nextGaussian() * 0.3
      (i, label.toDouble, f1, f2)
    }
    val df = rows.toDF("id", "label", "f1", "f2")
    val train = df.filter(col("id") % 5 =!= 0)
    val test = df.filter(col("id") % 5 === 0)
    val gbt = Models.gbt(train, test, Seq("f1", "f2"), "label",
      maxIter = 8, maxDepth = 3)
    // y_pred decodes back into the ORIGINAL label space
    val gbtLabels = gbt.select("y_pred").distinct().collect()
      .map(_.getDouble(0)).toSet
    assert(gbtLabels.subsetOf(Set(-1.0, 0.0, 1.0)))
    assert(macroF1(gbt, "label") > 0.9)
    val svc = Models.linearSvc(train, test, Seq("f1", "f2"), "label",
      maxIter = 20)
    assert(macroF1(svc, "label") > 0.9)
  }

  test("M5 extended: GBT and LinearSVC fits are deterministic across reruns") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 240).map { i =>
      val label = i % 3
      (i, label.toDouble,
        label * 1.2 + rnd.nextGaussian() * 0.8,
        -label * 0.9 + rnd.nextGaussian() * 0.8)
    }
    val df = rows.toDF("id", "label", "f1", "f2")
    val train = df.filter(col("id") % 4 =!= 0)
    val test = df.filter(col("id") % 4 === 0)
    def predMap(p: org.apache.spark.sql.DataFrame): Map[Int, Double] =
      p.select("id", "y_pred").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val g1 = predMap(Models.gbt(train, test, Seq("f1", "f2"), "label",
      maxIter = 6, maxDepth = 3))
    val g2 = predMap(Models.gbt(train, test, Seq("f1", "f2"), "label",
      maxIter = 6, maxDepth = 3))
    assert(g1 === g2, "GBT predictions changed across reruns")
    val s1 = predMap(Models.linearSvc(train, test, Seq("f1", "f2"), "label",
      maxIter = 15))
    val s2 = predMap(Models.linearSvc(train, test, Seq("f1", "f2"), "label",
      maxIter = 15))
    assert(s1 === s2, "LinearSVC predictions changed across reruns")
  }

  test("S1/O3: deterministic ZIP selection by filename date <= snapshot") {
    val names = Seq(
      "HealthAutoExport-2025-10-01.zip",
      "HealthAutoExport-2025-11-05.zip",
      "HealthAutoExport-2025-11-07.zip",
      "HealthAutoExport-2025-12-01.zip",
      "no-date-here.zip")
    val snap = java.time.LocalDate.parse("2025-11-07")
    assert(Discovery.selectByFilenameDate(names, snap)
      === Some("HealthAutoExport-2025-11-07.zip"))
    assert(Discovery.selectByFilenameDate(Seq("only-2026-01-01.zip"), snap) === None)
  }

  test("S2: mtime selection; S10 range filter; S9 globs") {
    assert(Discovery.selectByMtime(
      Seq(("a.zip", 100L), ("b.zip", 200L), ("c.zip", 300L)), 250L) === Some("b.zip"))
    val inRange = Discovery.autoExportInRange(
      Seq("x-2021-05-01.csv", "x-2021-07-31.csv", "x-2021-08-01.csv"),
      java.time.LocalDate.parse("2021-05-01"), java.time.LocalDate.parse("2021-07-31"))
    assert(inRange === Seq("x-2021-05-01.csv", "x-2021-07-31.csv"))
    val globs = Discovery.zeppGlobs("/data/extracted")
    assert(globs("SLEEP") === "/data/extracted/zepp/cloud/SLEEP/*.csv")
    assert(globs.size === 10)
  }

  test("Q3: degenerate-label and duplicate-key assertions") {
    val ok = Seq((1, 0), (2, 1)).toDF("k", "label")
    Audit.assertNonDegenerate(ok, "label")
    Audit.assertUniqueKey(ok, Seq("k"))
    intercept[IllegalArgumentException] {
      Audit.assertNonDegenerate(Seq((1, 0), (2, 0)).toDF("k", "label"), "label")
    }
    intercept[IllegalArgumentException] {
      Audit.assertUniqueKey(Seq((1, 0), (1, 1)).toDF("k", "label"), Seq("k"))
    }
  }

  test("m19: conformal sets — exact order-statistic threshold, hand-checked memberships") {
    // calibration: label-0 rows whose prob IS the nonconformity score;
    // scores 0.05..0.95 step 0.1, n=10. alpha=0.5 -> k=ceil(11*0.5)=6 ->
    // qhat = 6th smallest = 0.55.
    val cal = (0 until 10).map(i => (2L * i, 0.05 + i * 0.1, 0.0))
      .toDF("user_id", "prob", "label")
    val eval = Seq(
      (1L, 0.2, 0.0), // set {0}: 0.2<=0.55, 0.8>0.55 — covered
      (3L, 0.5, 1.0), // set {0,1}: both scores <=0.55 — covered
      (5L, 0.9, 1.0), // set {1}: 0.9>0.55, 0.1<=0.55 — covered
      (7L, 0.2, 1.0)  // set {0} but label 1 — NOT covered
    ).toDF("user_id", "prob", "label")
    val out = graft.ml.Baselines.conformalSets(cal, eval, "prob", "label",
      Seq("user_id"), alpha = 0.5)
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r).toMap
    assert(out.keySet === Set((true, false), (true, true), (false, true)))
    assert(out((true, false)).getAs[Long]("n") === 2)
    assert(out((true, false)).getAs[Long]("n_covered") === 1)
    assert(out((true, false)).getAs[Double]("coverage") === 0.5)
    assert(out((true, true)).getAs[Long]("n_covered") === 1)
    assert(out((false, true)).getAs[Long]("n_covered") === 1)
    assert(out.values.forall(r => math.abs(r.getAs[Double]("qhat") - 0.55) < 1e-9))
    assert(out.values.forall(_.getAs[Long]("n_cal") === 10L))
  }

  test("m19: qhat clamps to the max calibration score when ceil((n+1)(1-a)) > n") {
    // n=3, alpha=0.1 -> k=ceil(4*0.9)=4 > 3 -> clamp to rank 3 (score 0.3):
    // the deterministic finite-n behavior, asserted so the clamp isn't
    // silently an infinite set.
    val cal = Seq((2L, 0.1, 0.0), (4L, 0.2, 0.0), (6L, 0.3, 0.0))
      .toDF("user_id", "prob", "label")
    val eval = Seq((1L, 0.25, 0.0)).toDF("user_id", "prob", "label")
    val r = graft.ml.Baselines.conformalSets(cal, eval, "prob", "label",
      Seq("user_id"), alpha = 0.1).head()
    assert(math.abs(r.getAs[Double]("qhat") - 0.3) < 1e-9)
    assert(r.getAs[Boolean]("in0") === true)   // 0.25 <= 0.3
    assert(r.getAs[Boolean]("in1") === false)  // 0.75 > 0.3
  }

  test("m19: an EMPTY calibration fold fails loudly at execution time") {
    // The guard must survive optimization: a projected-then-dropped
    // assert column is column-pruned into dead code (the round-11 form
    // silently returned 0 rows here). The executed-filter form throws.
    val cal = Seq.empty[(Long, Double, Double)]
      .toDF("user_id", "prob", "label")
    val eval = Seq((1L, 0.25, 0.0)).toDF("user_id", "prob", "label")
    val ex = intercept[Exception] {
      graft.ml.Baselines.conformalSets(cal, eval, "prob", "label",
        Seq("user_id"), alpha = 0.2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("empty calibration fold")),
      s"expected the empty-fold assert, got: $ex")
  }
}
