package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.{round => cround}

/** M6/W8 — naive baselines (`src/etl/ml_metrics_extended.py:158-230`):
  * majority-class and stratified-random predictors over a train/val
  * split. (Persistence and modal baselines live in Enrich/MlQueries —
  * w8_persistence / w8_modal.)
  *
  * Majority mirrors the reference exactly: most frequent train label,
  * ties to the smallest label (np.unique sorts ascending; argmax takes
  * the first).
  *
  * Stratified: the reference draws from `np.random.RandomState(42)`,
  * which is not portable across engines. The engine's deterministic
  * contract keeps the reference's INTENT — validation predictions follow
  * the training class distribution — via largest-remainder quotas
  * (floor(p_c * n) per class in label order, remainder to the largest
  * fractional parts, ties to the smallest label) assigned to validation
  * rows ranked by a portable SHA-256 of their id. Same distribution,
  * reproducible anywhere, one broadcast range-join at any scale.
  */
object Baselines {

  /** Most frequent training label; ties -> smallest label. */
  private def majorityClass(train: DataFrame, labelCol: String): String =
    train.groupBy(labelCol).count()
      .orderBy(col("count").desc, col(labelCol))
      .head().get(0).toString

  /** Validation frame + `y_pred` = the majority train class. */
  def predictMajority(validation: DataFrame, train: DataFrame,
                      labelCol: String): DataFrame =
    validation.withColumn("y_pred", lit(majorityClass(train, labelCol)))

  /** Largest-remainder quotas for `n` slots over the train distribution:
    * (label, quota) in ascending label order. */
  private def stratifiedQuotas(train: DataFrame, labelCol: String, n: Long): Seq[(String, Long)] = {
    val counts = train.groupBy(labelCol).count()
      .collect().map(r => r.get(0).toString -> r.getAs[Long]("count"))
      .sortBy(_._1)
    val total = counts.map(_._2).sum.toDouble
    val raw = counts.map { case (c, k) => (c, k / total * n) }
    val base = raw.map { case (c, q) => (c, math.floor(q).toLong, q - math.floor(q)) }
    var remainder = n - base.map(_._2).sum
    // distribute by descending fractional part, ties to the smallest label
    val order = base.sortBy { case (c, _, frac) => (-frac, c) }.map(_._1)
    val bonus = scala.collection.mutable.Map(counts.map(_._1 -> 0L): _*)
    for (c <- order if remainder > 0) { bonus(c) += 1L; remainder -= 1 }
    base.map { case (c, q, _) => (c, q + bonus(c)) }
  }

  /** Validation frame + `y_pred` following the train class distribution:
    * rows ranked by sha2(id) get the quota blocks in label order.
    *
    * The global rank is computed two-phase so no single partition ever
    * sorts the whole frame: range-repartition on the hash key (total
    * order across partitions), local row_number per partition, plus
    * driver-collected per-partition offsets (#partitions scalars). */
  def predictStratified(validation: DataFrame, train: DataFrame,
                        labelCol: String, idCol: String): DataFrame = {
    val spark = validation.sparkSession
    import spark.implicits._
    val n = validation.count()
    val quotas = stratifiedQuotas(train, labelCol, n)
    // cumulative (lo, hi] rank blocks in ascending label order
    val blocks = quotas.scanLeft(("", 0L, 0L)) { case ((_, _, hi), (c, q)) =>
      (c, hi, hi + q)
    }.drop(1).toDF("y_pred", "lo", "hi")
    // materialize the range partitioning ONCE: RangePartitioning derives
    // its bounds from a sample seeded by the RDD id, so two executions of
    // the same plan may split ranges differently — and the per-partition
    // offsets computed below are only valid against the exact partitioning
    // the final join reads. Without this checkpoint the offsets job and
    // the assignment job can see different boundaries, corrupting the
    // global rank (observed as wrong quota blocks at sf0.1).
    val keyed = validation
      .withColumn("__k", sha2(col(idCol).cast("string"), 256))
      .repartitionByRange(col("__k"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = true)
    val offsets = keyed.groupBy("__pid").count().collect()
      .map(r => r.getAs[Int]("__pid") -> r.getAs[Long]("count")).sortBy(_._1)
      .scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
      .sliding(2).collect { case Array((_, off), (pid, _)) => (pid, off) }
      .toSeq.toDF("__pid", "__off")
    val wLocal = Window.partitionBy(col("__pid"))
      .orderBy(col("__k"), col(idCol))
    keyed
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("__rk", row_number().over(wLocal).cast("long") + col("__off"))
      .join(broadcast(blocks), col("__rk") > col("lo") && col("__rk") <= col("hi"))
      .drop("__rk", "__k", "__pid", "__off", "lo", "hi")
  }

  /** M19 (beyond ref): split-conformal prediction sets for a binary
    * probabilistic classifier — Vovk's inductive conformal predictor in
    * the score-method form (Angelopoulos & Bates 2021 tutorial): on a
    * calibration fold, nonconformity `s = 1 - p(true class)`; the
    * threshold is the `ceil((n+1)(1-alpha))`-th smallest calibration
    * score (the finite-sample-valid empirical quantile, clamped to n —
    * an EXACT order statistic selected on the deterministic
    * (score, id...) order, never an interpolated percentile, so both
    * engines pick the identical value); a class enters a test row's
    * prediction set iff `1 - p(class) <= qhat`. Marginal coverage of the
    * true label is then >= 1 - alpha under exchangeability.
    *
    * Input `pred` must carry `probCol` = p(class 1), `labelCol` in
    * {0.0, 1.0}, and `idCols` forming a deterministic tie-break order.
    * `calPred` holds the calibration fold, `pred` the evaluation fold
    * (disjoint by construction at the call site).
    *
    * Output: one row per set composition (in0, in1) with its count,
    * covered count, empirical coverage, the threshold and calibration
    * size — the audit table a production conformal deployment monitors.
    *
    * Scale design: the calibration fold is bounded by contract (a fixed
    * study tail — m16's argument), so its global sort window is a
    * bounded frame; the threshold reaches the evaluation side as a 1-row
    * broadcast (the repo's global-stat pattern) and everything after is
    * one map-side-combinable aggregation over the evaluation fold — the
    * 100-TB side streams through with zero shuffles beyond the final
    * 4-group agg. */
  def conformalSets(calPred: DataFrame, pred: DataFrame, probCol: String,
                    labelCol: String, idCols: Seq[String],
                    alpha: Double): DataFrame = {
    val cal = calPred
      .select((idCols.map(col) :+
        when(col(labelCol) === 1.0, lit(1.0) - col(probCol))
          .otherwise(col(probCol)).as("__score")): _*)
    val ord = Window.orderBy((col("__score") +: idCols.map(col)): _*)
    val nFrame = cal.agg(count(lit(1)).as("__n_cal"))
    // The rank must be computed in EXACT decimal arithmetic: the DuckDB
    // twin evaluates ceil((n+1) * 0.8) over DECIMAL literals, while a
    // double product can round (n+1)(1-alpha) just above an exact
    // integer and ceil to the adjacent order statistic, diverging qhat
    // across engines. BigDecimal.valueOf uses Double.toString's shortest
    // decimal, so alpha = 0.2 yields the literal 0.8, not the binary
    // expansion of the double — long * decimal promotes to decimal and
    // both engines select the identical rank.
    val oneMinusAlpha = java.math.BigDecimal.valueOf(1.0 - alpha)
    val qFrame = cal.withColumn("__rk", row_number().over(ord))
      .crossJoin(broadcast(nFrame))
      .filter(col("__rk") ===
        least(ceil((col("__n_cal") + 1) * lit(oneMinusAlpha)), col("__n_cal")))
      .select(col("__score").as("__qhat"), col("__n_cal"))
      // Aggregate to a GUARANTEED 1-row frame (min over the exactly-one
      // matching rank row is the identity): an empty calibration fold
      // makes the rank filter match nothing, and a no-groupBy agg over
      // zero rows still yields one all-null row — the null the guard
      // below turns into a runtime error instead of a silent zero-row
      // result.
      .agg(min("__qhat").as("__qhat"), min("__n_cal").as("__n_cal"))
    // Fail loudly on an empty calibration fold instead of silently
    // producing zero evaluation rows (a mis-split fold would otherwise
    // read as "no data"). The assert must stay REFERENCED by an executed
    // operator: a projected-then-dropped assert column is column-pruned
    // into dead code (the round-11 form never ran). assert_true yields
    // null on success, so this filter passes every row, cannot be
    // pruned, and throws per evaluation row when n_cal is the null of an
    // empty fold.
    pred.crossJoin(broadcast(qFrame))
      .filter(assert_true(col("__n_cal").isNotNull,
        lit("conformalSets: empty calibration fold")).isNull)
      .withColumn("in0", col(probCol) <= col("__qhat"))
      .withColumn("in1", (lit(1.0) - col(probCol)) <= col("__qhat"))
      .withColumn("__cov",
        (col(labelCol) === 0.0 && col("in0")) ||
          (col(labelCol) === 1.0 && col("in1")))
      .groupBy("in0", "in1")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_covered"),
        cround(avg(when(col("__cov"), 1.0).otherwise(0.0)), 6).as("coverage"),
        cround(min(col("__qhat")), 6).as("qhat"),
        min(col("__n_cal")).as("n_cal"))
  }
}
