package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.round

/** Drift / distribution-shift operators (SURVEY §2.10 D1-D3).
  *
  * D2 (KS two-sample) is pure relational math — the KS statistic is the
  * max gap between two empirical CDFs, computable with rank windows.
  * D1 (ADWIN) is inherently sequential state over an ordered series; the
  * daily series it runs on is tiny by construction (years of days), so a
  * sorted single-partition `mapPartitions` is the honest Spark mapping
  * (SURVEY §2.12) — the surrounding pipeline stays distributed.
  */
object Drift {

  /** D2 — Kolmogorov-Smirnov two-sample statistic per group: for each
    * `groupCol` value, the max |CDF_a - CDF_b| between the values of the
    * two samples identified by `sampleCol` in {a, b}.
    *
    * Window formulation: sort the combined sample per group; at each
    * point, CDF_s = (#s-values <= x) / n_s; KS = max over points. Ties
    * are handled by evaluating the CDF AFTER all duplicates of a value
    * (cume_dist semantics), matching the textbook statistic. */
  def ksTwoSample(df: DataFrame, groupCol: String, sampleCol: String,
                  valueCol: String): DataFrame =
    ksTwoSampleBy(df, Seq(groupCol), sampleCol, valueCol)

  /** [[ksTwoSample]] with a composite group key. */
  private def ksTwoSampleBy(df: DataFrame, groupCols: Seq[String], sampleCol: String,
                    valueCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(gcols: _*)
    // count duplicates: process via value-level aggregation first so each
    // distinct value appears once with per-sample counts.
    val perValue = df
      .groupBy(gcols :+ col(valueCol): _*)
      .agg(
        sum(when(col(sampleCol) === "a", 1).otherwise(0)).as("ca"),
        sum(when(col(sampleCol) === "b", 1).otherwise(0)).as("cb"))
    perValue
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("n_a", sum("ca").over(wAll))
      .withColumn("n_b", sum("cb").over(wAll))
      .withColumn("gap",
        abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b")))
      .groupBy(gcols: _*)
      .agg(round(max("gap"), 6).as("ks_stat"),
        max("n_a").as("n_a"), max("n_b").as("n_b"))
  }

  /** Asymptotic two-sided KS p-value (Kolmogorov distribution tail):
    * p = 2 * sum_{k>=1} (-1)^(k-1) exp(-2 k^2 lambda^2) with
    * lambda = (sqrt(en) + 0.12 + 0.11/sqrt(en)) * D, en = n*m/(n+m) —
    * truncated at 100 terms, clamped to [0, 1]. The reference calls
    * scipy `ks_2samp`, which switches to an EXACT small-sample method;
    * the engine's contract is the asymptotic form (deterministic, both
    * engines sum the identical series in the same order). */
  private def ksPValue(d: org.apache.spark.sql.Column, nA: org.apache.spark.sql.Column,
               nB: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val en = sqrt(nA.cast("double") * nB / (nA + nB))
    val lam = (en + lit(0.12) + lit(0.11) / en) * d
    val series = aggregate(
      transform(sequence(lit(1), lit(100)),
        k => pow(lit(-1.0), k - 1) * exp(lit(-2.0) * k * k * lam * lam)),
      lit(0.0), (acc, t) => acc + t) * 2.0
    // lambda -> 0 makes every term 1 and the truncated alternating sum 0,
    // which would misreport IDENTICAL samples (D = 0) as p = 0; the true
    // limit is p = 1 (scipy agrees). Below lambda ~ 0.3 the statistic
    // carries no evidence against H0 at these window sizes.
    when(lam < 1e-3, lit(1.0))
      .otherwise(least(greatest(series, lit(0.0)), lit(1.0)))
  }

  /** scipy `ks_2samp` method='auto' selection, replicated exactly: the
    * exact p-value ([[graft.functions.KsExactPValue]], the Hodges
    * path-count scipy uses) while max(n1, n2) <= 10000 (scipy's
    * MAX_AUTO_N — the rescaled DP makes the whole range computable),
    * else the asymptotic series. The reference's ±14-day boundary
    * windows always take the exact branch, as scipy does. */
  private def ksPValueAuto(d: org.apache.spark.sql.Column,
                   nA: org.apache.spark.sql.Column,
                   nB: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(greatest(nA, nB) <= lit(graft.functions.KsExactPValue.ExactLimit),
      graft.functions.KsExactPValue(nA, nB, d))
      .otherwise(ksPValue(d, nA, nB))

  /** D2-at-boundaries — the reference's segment-boundary drift scan
    * (`src/etl/ml7_analysis.py:385-472`): for every segment except the
    * first, compare each feature's distribution in the +-`windowDays`
    * windows around the segment's start date (before = [b-w, b), after =
    * [b, b+w)); windows with fewer than `minRows` frame rows — and
    * features with fewer than `minRows` non-null values — are skipped.
    * Output: (segment_id, boundary_date, feature, ks_stat, p_value,
    * significant, n_before, n_after).
    *
    * Scale shape: the segment table is tiny -> broadcast range-attach of
    * boundaries onto the daily frame, features unpivoted, then one
    * KS pass per (boundary, feature) group via rank windows. */
  /** @param pMethod "auto" (default — exact p at small n, as the
    *        reference's scipy call resolves to) or "asymptotic" (the
    *        SQL-replayable series, kept for the DuckDB-twin oracle). */
  def ksAtBoundaries(daily: DataFrame, segments: DataFrame, dateCol: String,
                     features: Seq[String], windowDays: Int = 14,
                     minRows: Int = 5, pMethod: String = "auto"): DataFrame = {
    require(pMethod == "auto" || pMethod == "asymptotic",
      s"ksAtBoundaries: unknown pMethod '$pMethod'")
    val firstRow = segments.agg(min(col("date_start"))).head()
    require(!firstRow.isNullAt(0), "ksAtBoundaries: empty segment table")
    val firstStart = firstRow.getDate(0)
    val boundaries = segments
      .filter(col("date_start") =!= lit(firstStart))
      .select(col("segment_id"), col("date_start").as("boundary_date"))
    // materialize the window-tagged slice once: it is consumed twice
    // (eligibility gate + unpivot), and each consumption would otherwise
    // replay the caller's full daily aggregation. The slice is bounded by
    // boundaries x 2*windowDays rows — tiny at any corpus scale.
    val tagged = daily.join(broadcast(boundaries),
      col(dateCol) >= date_sub(col("boundary_date"), windowDays) &&
        col(dateCol) < date_add(col("boundary_date"), windowDays))
      .withColumn("side",
        when(col(dateCol) < col("boundary_date"), "a").otherwise("b"))
      .localCheckpoint(true)
    // reference gates on FRAME row counts (NaNs included) first
    val eligible = tagged.groupBy("segment_id", "boundary_date")
      .agg(sum(when(col("side") === "a", 1).otherwise(0)).as("rb"),
        sum(when(col("side") === "b", 1).otherwise(0)).as("ra"))
      .filter(col("rb") >= minRows && col("ra") >= minRows)
      .select("segment_id", "boundary_date")
    val unpivoted = tagged
      .join(broadcast(eligible), Seq("segment_id", "boundary_date"))
      .select(col("segment_id"), col("boundary_date"), col("side"),
        explode(array(features.map(f =>
          struct(lit(f).as("feature"), col(f).cast("double").as("value"))): _*))
          .as("fv"))
      .select(col("segment_id"), col("boundary_date"),
        col("fv.feature").as("feature"), col("side"), col("fv.value").as("value"))
      .filter(col("value").isNotNull)
    ksTwoSampleBy(unpivoted,
        Seq("segment_id", "boundary_date", "feature"), "side", "value")
      .filter(col("n_a") >= minRows && col("n_b") >= minRows)
      .withColumn("p_value",
        round(
          if (pMethod == "auto") ksPValueAuto(col("ks_stat"), col("n_a"), col("n_b"))
          else ksPValue(col("ks_stat"), col("n_a"), col("n_b")), 6))
      .withColumn("significant", col("p_value") < 0.05)
      .select(col("segment_id"), col("boundary_date"), col("feature"),
        col("ks_stat"), col("p_value"), col("significant"),
        col("n_a").as("n_before"), col("n_b").as("n_after"))
  }

  /** D1 — ADWIN-style adaptive-window change detection (δ-bounded mean
    * shift) over a date-ordered series, one state machine per key.
    *
    * Simplified deterministic variant of Bifet & Gavaldà's ADWIN: keep a
    * growing window of recent values; at each step test every split of
    * the window buffer — if |mean_left - mean_right| exceeds the Hoeffding
    * cut `eps = sqrt((1/(2m)) * ln(4/delta))` with m the harmonic mean of
    * the split sizes, drop the left side and emit a change point.
    * Emits (key, order, value, is_change). */
  /** One-sided CUSUM changepoint detection over a per-entity ordered
    * series (Page 1954): s_t = max(0, s_{t−1} + x_t − μ − κ), alarm when
    * s_t > h. The recursion has the closed form s_t = P_t − min_{j≤t} P_j
    * with P the running sum of (x − μ − κ), so the whole detector is two
    * window functions — cumulative sum and running min — with NO
    * sequential state (unlike ADWIN, which genuinely needs the bucket
    * list and stays mapPartitions). μ/σ are per-entity whole-partition
    * aggregates; κ = `slackSigmas`·σ, h = `threshSigmas`·σ — the
    * standard self-referenced parameterization. Emits the statistic and
    * the alarm flag per row; entities with σ = 0 never alarm.
    *
    * One hash exchange on the entity key; every window shares it. */
  def cusum(df: DataFrame, keyCol: String, orderCol: String,
            valueCol: String, slackSigmas: Double,
            threshSigmas: Double): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = col(valueCol) - col("__mu") - lit(slackSigmas) * col("__sd")
    df.withColumn("__mu", avg(col(valueCol)).over(wAll))
      .withColumn("__sd", coalesce(stddev_samp(col(valueCol)).over(wAll),
        lit(0.0)))
      .withColumn("__p", sum(dev).over(wRun))
      .withColumn("__pmin", least(min(col("__p")).over(wRun), lit(0.0)))
      .select(col(keyCol), col(orderCol), col(valueCol),
        round(col("__p") - col("__pmin"), 6).as("cusum_stat"),
        // threshold test on canonically ROUNDED operands: raw doubles
        // sitting on the 4σ boundary would let summation-order ulps flip
        // the flag between engines
        when(col("__sd") > 0 &&
            round(col("__p") - col("__pmin"), 6) >
              round(lit(threshSigmas) * col("__sd"), 6), 1)
          .otherwise(0).as("is_alarm"))
  }

  /** Page-Hinkley mean-shift test — CUSUM's adaptive-mean sibling: the
    * deviation at step t is measured against the RUNNING mean of the
    * prefix (the online formulation — no retrospective whole-series
    * baseline needed, unlike [[cusum]]'s mu). Same closed form as cusum:
    * two stacked windows sharing one entity exchange, no sequential
    * state. Self-referenced parameters: delta and lambda in units of the
    * whole-partition sigma. */
  def pageHinkley(df: DataFrame, keyCol: String, orderCol: String,
                  valueCol: String, deltaSigmas: Double,
                  lambdaSigmas: Double): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol))
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__sd", coalesce(stddev_samp(col(valueCol)).over(wAll),
        lit(0.0)))
      .withColumn("__runmean", avg(col(valueCol)).over(wRun))
      .withColumn("__mt",
        sum(col(valueCol) - col("__runmean") - lit(deltaSigmas) * col("__sd"))
          .over(wRun))
      .withColumn("__mmin", min(col("__mt")).over(wRun))
      .select(col(keyCol), col(orderCol), col(valueCol),
        round(col("__mt") - col("__mmin"), 6).as("ph_stat"),
        // alarm test on canonically ROUNDED operands (the cusum lesson:
        // raw doubles on the λσ boundary would let ulps flip the flag)
        when(col("__sd") > 0 &&
            round(col("__mt") - col("__mmin"), 6) >
              round(lit(lambdaSigmas) * col("__sd"), 6), 1)
          .otherwise(0).as("is_alarm"))
  }

  def adwin(df: DataFrame, keyCol: String, orderCol: String, valueCol: String,
            delta: Double): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add(df.schema(keyCol))
      .add(df.schema(orderCol))
      .add(df.schema(valueCol).copy(name = "value"))
      .add("is_change", org.apache.spark.sql.types.IntegerType)
    val sorted = df
      .select(col(keyCol), col(orderCol), col(valueCol))
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(orderCol))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    sorted.mapPartitions { rows =>
      var curKey: Any = null
      val window = scala.collection.mutable.ArrayBuffer.empty[Double]
      rows.map { r =>
        val k = r.get(0)
        if (k != curKey) { curKey = k; window.clear() }
        val v = r.getDouble(2)
        window += v
        var change = 0
        var dropTo = 0
        // test splits from oldest: first split that trips wins
        var i = 1
        while (i < window.length && change == 0) {
          val left = window.view.slice(0, i)
          val right = window.view.slice(i, window.length)
          val n0 = left.size.toDouble
          val n1 = right.size.toDouble
          val m = 1.0 / (1.0 / n0 + 1.0 / n1)
          val eps = math.sqrt(1.0 / (2 * m) * math.log(4.0 / delta))
          if (math.abs(left.sum / n0 - right.sum / n1) > eps) {
            change = 1; dropTo = i
          }
          i += 1
        }
        if (change == 1) window.remove(0, dropTo)
        Row(k, r.get(1), v, change)
      }
    }
  }
}
