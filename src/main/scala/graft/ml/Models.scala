package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{GBTClassifier, LinearSVC, LogisticRegression, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M5/M6 — classical model training on the engine's ML-prep outputs
  * (SURVEY §2.9). The reference's ML6 stage fits sklearn
  * LogisticRegression / RandomForest per calendar fold
  * (`scripts/run_full_pipeline.py:1284-1290`, `src/models/ml6_extended
  * .py:66-300`); MLlib's distributed equivalents cover that class of
  * models. Exact sklearn parity is out of scope (different solvers) —
  * the contract is: same inputs (imputed, anti-leak, fold-split
  * matrices), deterministic seeds, metrics computed by the same
  * relational M6 aggregations the oracle checks.
  */
object Models {

  /** Assemble feature columns into MLlib's vector column. */
  private def assemble(df: DataFrame, features: Seq[String]): DataFrame =
    new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(df)

  /** sklearn's class_weight="balanced" as a per-row weight column
    * expression: w_c = n / (k * n_c) over `train`'s k label classes. */
  private def balancedWeight(train: DataFrame, labelCol: String): Column = {
    val counts = train.groupBy(col(labelCol)).count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    val k = counts.size.toDouble
    counts.foldLeft(lit(1.0)) { case (acc, (label, c)) =>
      when(col(labelCol) === label, lit(n / (k * c))).otherwise(acc)
    }
  }

  /** Fit class-balanced logistic regression on `train`, predict `test`.
    * Class weights mirror sklearn's class_weight="balanced":
    * w_c = n / (k * n_c). */
  def logisticRegression(train: DataFrame, test: DataFrame,
                         features: Seq[String], labelCol: String,
                         maxIter: Int = 100): DataFrame = {
    val trainA = assemble(train, features)
      .withColumn("w", balancedWeight(train, labelCol))
    val model = new LogisticRegression()
      .setLabelCol(labelCol).setFeaturesCol("features").setWeightCol("w")
      .setMaxIter(maxIter).setRegParam(0.01)
      .fit(trainA)
    model.transform(assemble(test, features))
      .withColumnRenamed("prediction", "y_pred")
  }

  /** Random forest with the reference's deterministic seed. */
  def randomForest(train: DataFrame, test: DataFrame, features: Seq[String],
                   labelCol: String, numTrees: Int = 200, maxDepth: Int = 10): DataFrame = {
    val model = new RandomForestClassifier()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(42)
      .fit(assemble(train, features))
    model.transform(assemble(test, features))
      .withColumnRenamed("prediction", "y_pred")
  }

  /** M5 with an exact cross-engine contract: deterministic batch
    * gradient-descent logistic regression.
    *
    * MLlib's LBFGS fit ([[logisticRegression]]) is seeded but its
    * treeAggregate sum order depends on partitioning, so its coefficients
    * can't be replayed in SQL. This variant makes the whole training path
    * reproducible by canonical rounding at every cross-engine boundary:
    * standardization constants (mean / sample std of the train fold),
    * then each iteration's gradient averages, are rounded to 8 dp
    * (epsilon-shifted, [[graft.functions.Canon]]) — both engines land on
    * the same decimal, hence bit-identical doubles, and the coefficient
    * recurrence b_{k+1} = b_k - lr * g_k evolves identically. The oracle
    * replays the iterations as unrolled CTEs.
    *
    * Distributed shape: per iteration one whole-stage-codegen'd
    * aggregation over the train fold (sigmoid + centered products), a
    * (p+1)-scalar collect, and a driver update broadcast back as
    * literals — the A13/MICE two-phase pattern; driver state is O(p).
    *
    * Returns `test` + (`prob` rounded 6dp, `y_pred` 0/1 int). */
  def logisticRegressionGD(train: DataFrame, test: DataFrame,
                           features: Seq[String], labelCol: String,
                           iters: Int = 3, lr: Double = 0.5): DataFrame = {
    import graft.functions.Canon
    val fit = fitLogisticGD(train, features, labelCol, iters, lr)
    val prob = Canon.round(
      lit(1.0) / (lit(1.0) + exp(-gdMargin(fit.zCols(features), fit.b))), 6)
    // a null feature propagates to a null prob; keep y_pred null too (the
    // SQL twin's CASE WHEN would otherwise fall to ELSE 0 and silently
    // diverge from the engine on nullable feature frames)
    test.withColumn("prob", prob)
      .withColumn("y_pred",
        when(col("prob").isNotNull, (col("prob") >= 0.5).cast("int")))
  }

  /** The fitted GD-LR state: per-feature (train mean, guarded std) and
    * the coefficient vector (intercept first) — O(p) driver scalars. */
  final case class GdLrFit(stats: IndexedSeq[(Double, Double)], b: Array[Double]) {
    /** Standardized feature columns under the fitted train stats. */
    def zCols(features: Seq[String]): Seq[Column] =
      features.zip(stats).map { case (f, (m, s)) => (col(f) - lit(m)) / lit(s) }
  }

  private def gdMargin(zs: Seq[Column], b: Array[Double]): Column =
    zs.zipWithIndex.foldLeft(lit(b(0)): Column) { case (acc, (z, j)) =>
      acc + lit(b(j + 1)) * z
    }

  /** The training path of [[logisticRegressionGD]], exposed so attribution
    * ([[logisticRegressionGDAttribution]]) can reuse the identical
    * coefficients without refitting drift. */
  private def fitLogisticGD(train: DataFrame, features: Seq[String], labelCol: String,
                    iters: Int, lr: Double): GdLrFit = {
    import graft.functions.Canon
    // the fit is 1 + iters driver actions over the train fold; checkpoint
    // it once so each action aggregates the (fold-sized, tiny) table
    // instead of re-deriving it from the raw scan. Partitioning is
    // preserved, so partial-aggregation sum order — and the rounded
    // scalars — are unchanged.
    val trainM = train.localCheckpoint(eager = true)
    val statAggs = features.flatMap { f =>
      Seq(Canon.round(avg(col(f)), 8).as(s"m_$f"),
        Canon.round(stddev_samp(col(f)), 8).as(s"s_$f"))
    }
    val statRow = trainM.agg(statAggs.head, statAggs.tail: _*).head()
    require(!statRow.isNullAt(0), "logisticRegressionGD: empty train fold")
    val stats = features.indices.map { i =>
      require(!statRow.isNullAt(2 * i),
        s"logisticRegressionGD: feature ${features(i)} is all-null in the train fold")
      val m = statRow.getDouble(2 * i)
      val s0 = if (statRow.isNullAt(2 * i + 1)) 0.0 else statRow.getDouble(2 * i + 1)
      (m, if (s0 == 0.0 || s0.isNaN) 1.0 else s0)
    }.toIndexedSeq
    val fit0 = GdLrFit(stats, Array.fill(features.size + 1)(0.0))
    val y = col(labelCol).cast("double")
    var b = fit0.b
    (1 to iters).foreach { _ =>
      val zs = fit0.zCols(features)
      val p = lit(1.0) / (lit(1.0) + exp(-gdMargin(zs, b)))
      val gradAggs = Canon.round(avg(p - y), 8).as("g0") +:
        zs.zipWithIndex.map { case (z, j) =>
          Canon.round(avg((p - y) * z), 8).as(s"g${j + 1}")
        }
      val g = trainM.agg(gradAggs.head, gradAggs.tail: _*).head()
      b = b.indices.map(j => b(j) - lr * g.getDouble(j)).toArray
    }
    GdLrFit(stats, b)
  }

  /** M12 — linear feature attribution over the deterministic GD-LR: the
    * per-row SHAP value of a linear model is coef_j·(z_j − E[z_j])
    * (LinearExplainer's closed form; the reference computes it via shap on
    * its per-fold sklearn LR, `src/etl/ml7_analysis.py:238-320`). The
    * background mean of z over the train fold is 0 by construction (z is
    * centered on the train mean), so the contribution is coef_j·z_j; the
    * report aggregates mean |contribution| per feature over the test fold
    * and ranks — the reference's "top-5 features by mean |SHAP|" table as
    * one bounded (p-row) frame.
    *
    * Distributed shape: one codegen'd aggregation over the test fold (p
    * abs-averages), then a literal p-entry explode — no per-row
    * materialization of the attribution matrix, no shuffle beyond the
    * single agg. */
  def logisticRegressionGDAttribution(train: DataFrame, test: DataFrame,
      features: Seq[String], labelCol: String,
      iters: Int = 3, lr: Double = 0.5): DataFrame = {
    import graft.functions.Canon
    val fit = fitLogisticGD(train, features, labelCol, iters, lr)
    val aggs = features.zip(fit.zCols(features)).zipWithIndex.map {
      case ((f, z), j) =>
        Canon.round(avg(abs(lit(fit.b(j + 1)) * z)), 6).as(s"__a_$f")
    }
    val entries = features.zipWithIndex.map { case (f, j) =>
      struct(lit(f).as("feature"),
        Canon.round(lit(fit.b(j + 1)), 6).as("coef"),
        col(s"__a_$f").as("mean_abs_contrib"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_abs_contrib").desc, col("feature"))
    test.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.feature").as("feature"), col("e.coef").as("coef"),
        col("e.mean_abs_contrib").as("mean_abs_contrib"))
      // unpartitioned window over the p-row literal frame — bounded by
      // the feature count, not the data
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Deterministic sorted distinct labels of the train fold — the shared
    * index encoding for the binary-only margin learners below. */
  private def distinctLabels(train: DataFrame, labelCol: String): Seq[Any] =
    train.select(col(labelCol)).na.drop().distinct().collect()
      .map(_.get(0)).sortBy(_.toString).toIndexedSeq

  private def encodeLabel(labels: Seq[Any], labelCol: String): Column =
    labels.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (v, i)) => when(col(labelCol) === lit(v), lit(i.toDouble)).otherwise(acc)
    }

  /** Decode the MLlib prediction index back to the original label values
    * as `y_pred` and drop the MLlib plumbing columns. */
  private def decodePrediction(pred: DataFrame, labels: Seq[Any]): DataFrame = {
    val dec = labels.zipWithIndex.foldLeft(lit(null): Column) {
      case (acc, (v, i)) => when(col("prediction") === lit(i.toDouble), lit(v)).otherwise(acc)
    }
    pred.withColumn("y_pred", dec)
      .drop("prediction", "rawPrediction", "probability", "__lbl", "features")
  }

  /** Fit `base` on index-encoded labels — directly when binary, wrapped
    * in one-vs-rest when multiclass (the decomposition sklearn applies to
    * margin learners; MLlib's GBT/LinearSVC are binary-only) — and return
    * `test` + decoded `y_pred`. */
  private def fitMarginLearner(train: DataFrame, test: DataFrame,
      features: Seq[String], labelCol: String,
      base: org.apache.spark.ml.classification.Classifier[_, _, _],
      weightCol: Option[String]): DataFrame = {
    val labels = distinctLabels(train, labelCol)
    require(labels.size >= 2, s"fit: train fold has ${labels.size} classes")
    val trainA = assemble(
      train.withColumn("__lbl", encodeLabel(labels, labelCol)), features)
    val testA = assemble(
      test.withColumn("__lbl", encodeLabel(labels, labelCol)), features)
    base.setLabelCol("__lbl")
    base.setFeaturesCol("features")
    val model: Transformer =
      if (labels.size == 2) base.fit(trainA).asInstanceOf[Transformer]
      else {
        // fit the k binary models concurrently: they are independent
        // seeded fits whose outputs land in fixed model slots, so the
        // ensemble is bit-identical to the sequential fit
        val ovr = new OneVsRest().setClassifier(base)
          .setParallelism(labels.size)
          .setLabelCol("__lbl").setFeaturesCol("features")
        weightCol.foreach(ovr.setWeightCol)
        ovr.fit(trainA)
      }
    decodePrediction(model.transform(testA), labels)
  }

  /** Gradient-boosted trees — the MLlib analog of the reference's
    * ML6-extended XGBoost (max_depth 4, learning_rate 0.05,
    * subsample 0.8, seed 42; `src/models/ml6_extended.py:115-123`; its
    * n_estimators 200 maps to maxIter). Multiclass trains one-vs-rest.
    * Labels may be any values (the reference's {-1,0,+1} included) —
    * index-encoded deterministically and decoded back into `y_pred`. */
  def gbt(train: DataFrame, test: DataFrame, features: Seq[String],
          labelCol: String, maxIter: Int = 200, maxDepth: Int = 4,
          stepSize: Double = 0.05): DataFrame =
    fitMarginLearner(train, test, features, labelCol,
      new GBTClassifier()
        .setMaxIter(maxIter).setMaxDepth(maxDepth).setStepSize(stepSize)
        .setSubsamplingRate(0.8).setSeed(42),
      weightCol = None)

  /** Linear SVM — the MLlib analog of the reference's ML6-extended
    * SVC(C=1.0, class_weight="balanced", random_state=42)
    * (`src/models/ml6_extended.py:379-388`; the RBF kernel has no
    * distributed MLlib form — the linear margin learner is the in-scope
    * analog). Class-balanced instance weights mirror sklearn's
    * "balanced": w_c = n / (k * n_c). Multiclass trains one-vs-rest. */
  def linearSvc(train: DataFrame, test: DataFrame, features: Seq[String],
                labelCol: String, maxIter: Int = 100,
                regParam: Double = 0.01): DataFrame =
    fitMarginLearner(train.withColumn("w", balancedWeight(train, labelCol)),
      test.withColumn("w", lit(1.0)), features, labelCol,
      new LinearSVC().setMaxIter(maxIter).setRegParam(regParam)
        .setWeightCol("w"),
      weightCol = Some("w"))
}
