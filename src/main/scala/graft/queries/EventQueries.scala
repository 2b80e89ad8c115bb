package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.core.Tables
import graft.operators._

/** SURVEY §2 operators exercised on the `events` table (the stand-in for
  * the reference's wearable event streams — FIXTURES.md F5). Each query
  * carries a DuckDB oracle ([[Query.oracle]]) computing identical
  * semantics; doubles are rounded to 6dp on both sides so hash-compare is
  * stable across engines.
  */
object EventQueries {
  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Daily per-user feature frame used by several queries: one row per
    * (user_id, date) with three fused features; [[dailyUserSql]] is its
    * DuckDB twin. */
  private[queries] def dailyUser(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("date"))
      .agg(
        round(avg(col("value")), 6).as("f_mean"),
        count(lit(1)).cast("double").as("f_n"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 6)
          .as("f_purchase"))

  /** The a13 PBSI chain up to the labeled daily frame — shared by the
    * a13 gate and the fig-family artifacts (m14/m15). */
  private def pbsiLabeled(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyUser(s, dir)
    val z = Labels.groupZScores(daily, Seq("user_id"),
      Seq("f_mean", "f_n", "f_purchase"))
    val composite = Labels.weightedComposite(z,
      Map(
        "sub_a" -> Seq("z_f_mean" -> 0.6, "z_f_n" -> 0.4),
        "sub_b" -> Seq("z_f_purchase" -> 0.7, "z_f_mean" -> 0.3)),
      Seq("sub_a" -> 0.5, "sub_b" -> 0.5), "pbsi_score")
    Labels.twoPassPercentileLabel(composite, "pbsi_score", 0.25, 0.75)
  }

  /** The a13 PBSI chain up to the labeled frame, as a reusable CTE chunk
    * (`WITH $pbsiLabeledCtes SELECT ... FROM labeled`): the fig-family
    * twins (m14 monthly label counts, m15 by-label histograms) derive
    * from the same labeled frame the a13 gate pins. */
  private lazy val pbsiLabeledCtes: String =
    s"""daily AS ($dailyUserSql),
      |z AS (
      |  SELECT user_id, date, f_mean, f_n, f_purchase,
      |    CASE WHEN stddev_samp(f_mean) OVER w > 0
      |      THEN (f_mean - avg(f_mean) OVER w) / stddev_samp(f_mean) OVER w ELSE 0.0 END AS z_f_mean,
      |    CASE WHEN stddev_samp(f_n) OVER w > 0
      |      THEN (f_n - avg(f_n) OVER w) / stddev_samp(f_n) OVER w ELSE 0.0 END AS z_f_n,
      |    CASE WHEN stddev_samp(f_purchase) OVER w > 0
      |      THEN (f_purchase - avg(f_purchase) OVER w) / stddev_samp(f_purchase) OVER w ELSE 0.0 END AS z_f_purchase
      |  FROM daily WINDOW w AS (PARTITION BY user_id)),
      |comp AS (
      |  SELECT user_id, date, f_mean,
      |    least(greatest(0.6 * z_f_mean + 0.4 * z_f_n, -3.0), 3.0) AS sub_a,
      |    least(greatest(0.7 * z_f_purchase + 0.3 * z_f_mean, -3.0), 3.0) AS sub_b
      |  FROM z),
      |scored AS (
      |  SELECT user_id, date, f_mean, sub_a, sub_b,
      |    round(0.5 * sub_a + 0.5 * sub_b, 6) AS pbsi_score FROM comp),
      |thresholds AS (
      |  SELECT quantile_cont(pbsi_score, 0.25) AS lo, quantile_cont(pbsi_score, 0.75) AS hi
      |  FROM scored),
      |labeled AS (
      |  SELECT s.user_id, s.date, s.f_mean,
      |    round(s.sub_a, 6) AS sub_a, round(s.sub_b, 6) AS sub_b,
      |    s.pbsi_score,
      |    CASE WHEN s.pbsi_score >= t.hi THEN 1 WHEN s.pbsi_score <= t.lo THEN -1 ELSE 0 END AS label_3cls,
      |    CASE WHEN s.pbsi_score >= t.hi THEN 1 ELSE 0 END AS label_2cls
      |  FROM scored s CROSS JOIN thresholds t)""".stripMargin

  private[queries] val dailyUserSql: String =
    """SELECT user_id, CAST(ts AS DATE) AS date,
      |  round(avg(value), 6) AS f_mean,
      |  CAST(count(*) AS DOUBLE) AS f_n,
      |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 6) AS f_purchase
      |FROM events GROUP BY 1, 2""".stripMargin

  lazy val queries: Seq[Query] = Seq(
    // A2 + F2: outlier filter then daily stats (population std).
    Query("a2_daily_stats", (s, dir) =>
      DailyAgg.dailyStats(
          DailyAgg.outlierFilter(ev(s, dir), "value", 30, 220), "ts", "value")
        .select(col("date"), round(col("v_mean"), 6).as("v_mean"),
          round(col("v_min"), 6).as("v_min"), round(col("v_max"), 6).as("v_max"),
          round(col("v_std"), 6).as("v_std"), col("n_samples")),
      oracle =
        """SELECT CAST(ts AS DATE) AS date, round(avg(value), 6) AS v_mean,
          |  round(min(value), 6) AS v_min, round(max(value), 6) AS v_max,
          |  round(stddev_pop(value), 6) AS v_std, count(value) AS n_samples
          |FROM events WHERE value BETWEEN 30 AND 220 GROUP BY 1""".stripMargin),

    // A3/A6: exact median + p95 daily.
    Query("a3_daily_percentiles", (s, dir) =>
      DailyAgg.dailyPercentiles(ev(s, dir), "ts", "value")
        .select(col("date"), round(col("v_mean"), 6).as("v_mean"),
          round(col("v_median"), 6).as("v_median"), round(col("v_p95"), 6).as("v_p95"),
          round(col("v_min"), 6).as("v_min"), round(col("v_max"), 6).as("v_max"), col("n")),
      oracle =
        """SELECT CAST(ts AS DATE) AS date, round(avg(value), 6) AS v_mean,
          |  round(quantile_cont(value, 0.5), 6) AS v_median,
          |  round(quantile_cont(value, 0.95), 6) AS v_p95,
          |  round(min(value), 6) AS v_min, round(max(value), 6) AS v_max,
          |  count(value) AS n
          |FROM events GROUP BY 1""".stripMargin),

    // A7: meds-style rollup with sorted distinct name list.
    Query("a7_named_rollup", (s, dir) =>
      DailyAgg.dailyNamedEvents(ev(s, dir), "ts", "event_type", "value"),
      oracle =
        """SELECT CAST(ts AS DATE) AS date, count(*) AS event_count,
          |  round(sum(value), 6) AS dose_total,
          |  string_agg(DISTINCT event_type, ', ' ORDER BY event_type) AS names,
          |  CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS any_flag
          |FROM events GROUP BY 1""".stripMargin),

    // A8: mean + last-by-timestamp + 3-class threshold per (user, date).
    Query("a8_last_mean", (s, dir) =>
      DailyAgg.dailyLastAndMean(ev(s, dir), Seq("user_id"), "ts", "value",
        hiThreshold = 110, loThreshold = 90),
      oracle =
        """WITH e AS (
          |  SELECT user_id, CAST(ts AS DATE) AS date, value,
          |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          |      ORDER BY epoch_us(ts) DESC, value DESC) AS rk
          |  FROM events)
          |SELECT user_id, date,
          |  round(avg(value), 6) AS mean_score,
          |  max(CASE WHEN rk = 1 THEN value END) AS last_score,
          |  count(*) AS n_entries,
          |  CASE WHEN round(avg(value), 6) >= 110 THEN 1
          |       WHEN round(avg(value), 6) <= 90 THEN -1 ELSE 0 END AS category_3class
          |FROM e GROUP BY user_id, date""".stripMargin),

    // A8 (labels): union of pipe-split label lists per day — the SoM
    // "Happy | Content" pattern: split, flatten across rows, distinct,
    // sorted, comma-joined.
    Query("a8_label_union", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("labels",
          concat(col("event_type"), lit(" | "),
            when(col("value") >= 100, "high").otherwise("low")))
        .groupBy(to_date(col("ts")).as("date"))
        .agg(
          array_join(array_sort(array_distinct(
            flatten(collect_list(split(col("labels"), " \\| "))))), ", ")
            .as("label_union"),
          count(lit(1)).as("n")),
      oracle =
        """WITH l AS (
          |  SELECT CAST(ts AS DATE) AS date,
          |    event_type || ' | ' || CASE WHEN value >= 100 THEN 'high' ELSE 'low' END
          |      AS labels
          |  FROM events)
          |SELECT date,
          |  array_to_string(list_sort(list_distinct(
          |    flatten(list(string_split_regex(labels, ' \| '))))), ', ') AS label_union,
          |  count(*) AS n
          |FROM l GROUP BY date""".stripMargin),

    // A9: pivot event types to daily sum columns.
    Query("a9_pivot_daily", (s, dir) =>
      DailyAgg.dailyPivotSum(ev(s, dir), "ts", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view")),
      oracle =
        """SELECT CAST(ts AS DATE) AS date,
          |  round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
          |  round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
          |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
          |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
          |  round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view
          |FROM events GROUP BY 1""".stripMargin),

    // A1: conditional split-sum + clipped ratio.
    Query("a1_split_sum", (s, dir) =>
      DailyAgg.conditionalSplitSum(ev(s, dir), "ts", "value",
        col("event_type").isin("click", "view"),
        col("event_type").isin("purchase", "error")),
      oracle =
        """WITH d AS (
          |  SELECT CAST(ts AS DATE) AS date,
          |    round(sum(CASE WHEN event_type IN ('click','view') THEN value ELSE 0.0 END), 6) AS sum_a,
          |    round(sum(CASE WHEN event_type IN ('purchase','error') THEN value ELSE 0.0 END), 6) AS sum_b
          |  FROM events GROUP BY 1)
          |SELECT date, sum_a, sum_b,
          |  CASE WHEN sum_b > 0 THEN least(greatest(sum_a / sum_b * 100.0, 0.0), 100.0) END AS ratio_score
          |FROM d""".stripMargin),

    // A16: circadian hourly-bucket stats.
    Query("a16_circadian", (s, dir) =>
      DailyAgg.circadianStats(ev(s, dir), "ts", "value"),
      oracle =
        """WITH hourly AS (
          |  SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr, sum(value) AS hsum
          |  FROM events GROUP BY 1, 2),
          |peak AS (
          |  SELECT date, hr AS peak_hour,
          |    row_number() OVER (PARTITION BY date ORDER BY hsum DESC, hr ASC) AS rk
          |  FROM hourly),
          |stats AS (
          |  SELECT date,
          |    round(CASE WHEN sum(hsum) > 0
          |      THEN sum(CASE WHEN hr >= 22 OR hr < 6 THEN hsum ELSE 0.0 END) / sum(hsum) * 100.0 END, 6)
          |      AS nocturnal_pct,
          |    round(CASE WHEN sum(hsum) > 0
          |      THEN sum(CASE WHEN hr >= 4 AND hr < 8 THEN hsum ELSE 0.0 END) / sum(hsum) * 100.0 END, 6)
          |      AS early_pct,
          |    round(sum(hsum), 6) AS total
          |  FROM hourly GROUP BY date)
          |SELECT s.date, s.nocturnal_pct, s.early_pct, p.peak_hour, s.total
          |FROM stats s JOIN peak p ON s.date = p.date AND p.rk = 1""".stripMargin),

    // A17: successive-difference biomarkers (ordered lag diffs).
    Query("a17_succ_diff", (s, dir) =>
      DailyAgg.successiveDiffStats(ev(s, dir), "ts", "value", 20.0, 10),
      oracle =
        """WITH o AS (
          |  SELECT CAST(ts AS DATE) AS date, value,
          |    value - lag(value) OVER (PARTITION BY CAST(ts AS DATE) ORDER BY ts, value) AS d
          |  FROM events)
          |SELECT date, count(value) AS n,
          |  round(stddev_samp(value), 6) AS sdnn,
          |  round(sqrt(avg(d * d)), 6) AS rmssd,
          |  round(avg(CASE WHEN d IS NULL THEN NULL
          |            WHEN abs(d) > 20 THEN 1.0 ELSE 0.0 END) * 100.0, 6) AS pnn,
          |  round(stddev_samp(value) / avg(value) * 100.0, 6) AS cv
          |FROM o GROUP BY date HAVING count(value) >= 10""".stripMargin),

    // A19/Q4: gaps-and-islands runs of low values per user.
    Query("a19_runs", (s, dir) =>
      Segmentation.runStats(
        ev(s, dir).withColumn("low", when(col("value") < 50, 1).otherwise(0))
          .withColumn("ord", struct(col("ts"), col("event_id"))),
        "user_id", "ord", "low", 3),
      oracle =
        """WITH f AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN value < 50 THEN 1 ELSE 0 END AS low,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          |    sum(CASE WHEN value < 50 THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY ts, event_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
          |  FROM events),
          |runs AS (
          |  SELECT user_id, rn - cf AS grp, count(*) AS run_len
          |  FROM f WHERE low = 1 GROUP BY user_id, rn - cf)
          |SELECT user_id,
          |  CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_runs,
          |  max(run_len) AS max_run, count(*) AS n_runs
          |FROM runs GROUP BY user_id""".stripMargin),

    // A20: category distribution.
    Query("a20_distribution", (s, dir) =>
      DailyAgg.distribution(ev(s, dir), "event_type"),
      oracle =
        """SELECT event_type, count(*) AS cnt,
          |  round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
          |FROM events GROUP BY event_type""".stripMargin),

    // A12+A14+A13: the PBSI slice — per-user z-scores, weighted clipped
    // composite, two-pass percentile labels.
    Query("a13_pbsi", (s, dir) =>
      pbsiLabeled(s, dir)
        .select(col("user_id"), col("date"),
          round(col("sub_a"), 6).as("sub_a"), round(col("sub_b"), 6).as("sub_b"),
          col("pbsi_score"), col("label_3cls"), col("label_2cls")),
      oracle =
        s"""WITH $pbsiLabeledCtes
          |SELECT user_id, date, sub_a, sub_b, pbsi_score, label_3cls, label_2cls
          |FROM labeled""".stripMargin),

    // M14 (fig06 data): monthly stacked label counts over the labeled
    // PBSI frame — the label-distribution timeline artifact
    // (/root/reference/scripts/generate_dissertation_figures.py:388+).
    Query("m14_label_timeline", (s, dir) =>
      pbsiLabeled(s, dir)
        .groupBy(date_trunc("month", col("date")).cast("date").as("month"),
          col("label_3cls"))
        .agg(count(lit(1)).as("n_days")),
      oracle =
        s"""WITH $pbsiLabeledCtes
          |SELECT CAST(date_trunc('month', date) AS DATE) AS month, label_3cls,
          |  count(*) AS n_days
          |FROM labeled GROUP BY 1, 2""".stripMargin),

    // M15 (fig02 data): by-label feature histogram — 30 equal-width bins
    // over the feature's observed [min, max] (the reference's plt.hist
    // contract), counts per (label, bin). The bin edges come from ONE
    // single-row min/max aggregate (two driver scalars, the A13
    // pattern); the top edge folds into the last bin like numpy's
    // right-closed final bin.
    Query("m15_feature_hist", (s, dir) => {
      val l = pbsiLabeled(s, dir)
      val row = l.agg(min("f_mean"), max("f_mean")).head()
      // empty/all-null frame: degenerate single-bin histogram, not an NPE
      val mn = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      val mx = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
      val bin =
        if (mx > mn)
          least(floor((col("f_mean") - lit(mn)) / lit(mx - mn) * 30.0), lit(29.0))
        else lit(0.0)
      l.groupBy(col("label_3cls"), bin.cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
    },
      // m15 twin: identical bin arithmetic — subtraction, division by the
      // range, x30, floor, clamp — on the same rounded f_mean values; the
      // min/max scalars are exact matches so every IEEE operand is shared.
      oracle =
        s"""WITH $pbsiLabeledCtes,
          |mm AS (SELECT min(f_mean) AS mn, max(f_mean) AS mx FROM labeled)
          |SELECT label_3cls,
          |  CAST(CASE WHEN mm.mx > mm.mn
          |    THEN least(floor((f_mean - mm.mn) / (mm.mx - mm.mn) * 30.0), 29.0)
          |    ELSE 0.0 END AS BIGINT) AS bin,
          |  count(*) AS n
          |FROM labeled CROSS JOIN mm
          |GROUP BY 1, 2""".stripMargin),

    // Q9 (fig05 data): yearly data-availability audit — distinct days
    // seen vs days with the cardio-mapped stream, coverage percentage.
    Query("q9_coverage_by_year", (s, dir) =>
      ev(s, dir)
        .select(year(col("ts")).as("yr"), to_date(col("ts")).as("d"),
          col("event_type"))
        .groupBy("yr")
        .agg(countDistinct(col("d")).as("days_seen"),
          countDistinct(when(col("event_type") === "error", col("d")))
            .as("days_cardio"))
        .withColumn("coverage_pct",
          round(col("days_cardio") * 100.0 / col("days_seen"), 6)),
      oracle =
        """SELECT CAST(year(ts) AS INTEGER) AS yr,
          |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_seen,
          |  CAST(count(DISTINCT CASE WHEN event_type = 'error'
          |    THEN CAST(ts AS DATE) END) AS BIGINT) AS days_cardio,
          |  round(count(DISTINCT CASE WHEN event_type = 'error'
          |      THEN CAST(ts AS DATE) END) * 100.0 /
          |    count(DISTINCT CAST(ts AS DATE)), 6) AS coverage_pct
          |FROM events GROUP BY 1""".stripMargin),

    // W1: 7-row rolling mean per user.
    Query("w1_rolling_mean", (s, dir) =>
      Enrich.rollingMean(dailyUser(s, dir), "user_id", "date", Seq("f_mean"), 7)
        .select("user_id", "date", "f_mean", "f_mean_roll"),
      oracle =
        s"""WITH daily AS ($dailyUserSql)
          |SELECT user_id, date, f_mean,
          |  round(avg(f_mean) OVER (PARTITION BY user_id ORDER BY date
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS f_mean_roll
          |FROM daily""".stripMargin),

    // W2: global z-score of a daily feature.
    Query("w2_global_zscore", (s, dir) =>
      Enrich.globalZScores(
          dailyUser(s, dir).groupBy("date").agg(round(avg("f_mean"), 6).as("g_mean")),
          Seq("g_mean"))
        .select("date", "g_mean", "g_mean_zscore"),
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |g AS (SELECT date, round(avg(f_mean), 6) AS g_mean FROM daily GROUP BY date)
          |SELECT date, g_mean,
          |  CASE WHEN stddev_samp(g_mean) OVER () > 0
          |    THEN round((g_mean - avg(g_mean) OVER ()) / stddev_samp(g_mean) OVER (), 6) END
          |    AS g_mean_zscore
          |FROM g""".stripMargin),

    // W3: 7-row rolling Pearson correlation of two daily features.
    Query("w3_rolling_corr", (s, dir) =>
      Enrich.rollingCorr(dailyUser(s, dir), "user_id", "date", "f_mean", "f_n", 7)
        .select("user_id", "date", "corr_f_mean_f_n"),
      oracle =
        s"""WITH daily AS ($dailyUserSql)
          |SELECT user_id, date,
          |  round(corr(f_mean, f_n) OVER (PARTITION BY user_id ORDER BY date
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS corr_f_mean_f_n
          |FROM daily""".stripMargin),

    // W4: timestamp sessionization (gap > 1h) per user.
    Query("w4_sessionize", (s, dir) =>
      Segmentation.sessionize(ev(s, dir), "user_id", "ts", 3600)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(unix_timestamp(col("ts"))).as("start_epoch"),
          max(unix_timestamp(col("ts"))).as("end_epoch")),
      oracle =
        """WITH g AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 3600
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
          |  min(epoch_us(ts) // 1000000) AS start_epoch,
          |  max(epoch_us(ts) // 1000000) AS end_epoch
          |FROM s GROUP BY user_id, session_id""".stripMargin),

    // W4 date-grain: segment table with gap/time_boundary reasons.
    Query("w4_segment_table", (s, dir) => {
      val daily = dailyUser(s, dir).filter(col("f_purchase") > 0)
      Segmentation.segmentTable(
        Segmentation.segmentDays(daily, "user_id", "date"), "user_id", "date")
    },
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |d AS (SELECT * FROM daily WHERE f_purchase > 0),
          |flagged AS (
          |  SELECT user_id, date,
          |    CASE WHEN lag(date) OVER w IS NULL THEN 'initial'
          |         WHEN date_diff('day', lag(date) OVER w, date) > 1 THEN 'gap'
          |         WHEN month(date) <> month(lag(date) OVER w)
          |           OR year(date) <> year(lag(date) OVER w) THEN 'time_boundary'
          |    END AS seg_reason
          |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          |seg AS (
          |  SELECT user_id, date, seg_reason,
          |    sum(CASE WHEN seg_reason IS NOT NULL THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY date
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment_id
          |  FROM flagged)
          |SELECT user_id, CAST(segment_id AS BIGINT) AS segment_id,
          |  min(date) AS date_start, max(date) AS date_end,
          |  arg_min(seg_reason, date) AS reason, count(*) AS cnt,
          |  date_diff('day', min(date), max(date)) + 1 AS duration_days
          |FROM seg GROUP BY user_id, segment_id""".stripMargin),

    // W5: rolling std with min_periods guard.
    Query("w5_rolling_std", (s, dir) =>
      Enrich.rollingStd(dailyUser(s, dir), "user_id", "date", "f_mean", 7, 3)
        .select("user_id", "date", "f_mean_rollstd"),
      oracle =
        s"""WITH daily AS ($dailyUserSql)
          |SELECT user_id, date,
          |  CASE WHEN count(f_mean) OVER w >= 3
          |    THEN round(stddev_samp(f_mean) OVER w, 6) END AS f_mean_rollstd
          |FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY date
          |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // W6: linear interpolation + edge fill over a gappy daily series.
    Query("w6_interpolate", (s, dir) => {
      val spine = ev(s, dir).select(to_date(col("ts")).as("date")).distinct()
      val purch = ev(s, dir).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("date"), col("user_id"))
        .agg(round(avg("value"), 6).as("pv"))
      val users = ev(s, dir).select("user_id").distinct()
      val grid = spine.crossJoin(users)
      val sparse = grid.join(purch, Seq("date", "user_id"), "left")
      Enrich.interpolateLinear(sparse, "user_id", "date", "pv")
        .select("user_id", "date", "pv", "pv_interp")
    },
      oracle =
        """WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events),
          |users AS (SELECT DISTINCT user_id FROM events),
          |purch AS (
          |  SELECT CAST(ts AS DATE) AS date, user_id, round(avg(value), 6) AS pv
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |grid AS (
          |  SELECT u.user_id, s.date, p.pv,
          |    row_number() OVER (PARTITION BY u.user_id ORDER BY s.date) AS rn
          |  FROM spine s CROSS JOIN users u
          |  LEFT JOIN purch p ON p.date = s.date AND p.user_id = u.user_id),
          |anch AS (
          |  SELECT user_id, date, pv, rn,
          |    last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY date
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_prev,
          |    last_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY date
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn_prev,
          |    first_value(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY date
          |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pv_next,
          |    first_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY date
          |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rn_next
          |  FROM grid)
          |SELECT user_id, date, pv,
          |  round(CASE WHEN pv IS NOT NULL THEN pv
          |    WHEN pv_prev IS NOT NULL AND pv_next IS NOT NULL
          |      THEN pv_prev + (pv_next - pv_prev) * (rn - rn_prev) / (rn_next - rn_prev)
          |    WHEN pv_prev IS NOT NULL THEN pv_prev
          |    ELSE pv_next END, 6) AS pv_interp
          |FROM anch""".stripMargin),

    // W7: complete k-row sliding windows (sequence-model prep).
    Query("w7_sequences", (s, dir) =>
      Enrich.slidingSequences(dailyUser(s, dir), "user_id", "date", "f_mean", 7)
        .select("user_id", "date", "seq_start", "seq_n", "seq_mean"),
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |w AS (
          |  SELECT user_id, date,
          |    count(f_mean) OVER w AS seq_n,
          |    first_value(date) OVER w AS seq_start,
          |    round(avg(f_mean) OVER w, 6) AS seq_mean
          |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY date
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
          |SELECT user_id, date, seq_start, seq_n, seq_mean FROM w WHERE seq_n = 7""".stripMargin),

    // W8: persistence baseline (lag of a derived label).
    Query("w8_persistence", (s, dir) => {
      val labeled = dailyUser(s, dir).withColumn("label",
        when(col("f_mean") >= 110, 1).when(col("f_mean") <= 90, -1).otherwise(0))
      Enrich.persistenceBaseline(labeled, "user_id", "date", "label")
        .select("user_id", "date", "label", "label_persist")
    },
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |lab AS (
          |  SELECT user_id, date,
          |    CASE WHEN f_mean >= 110 THEN 1 WHEN f_mean <= 90 THEN -1 ELSE 0 END AS label
          |  FROM daily)
          |SELECT user_id, date, label,
          |  lag(label) OVER (PARTITION BY user_id ORDER BY date) AS label_persist
          |FROM lab""".stripMargin),

    // J8: range-attach month segments to daily rows via broadcast range join.
    Query("j8_range_attach", (s, dir) => {
      val daily = dailyUser(s, dir)
      val segments = daily.groupBy(date_trunc("month", col("date")).as("m"))
        .agg(min("date").as("seg_start"), max("date").as("seg_end"))
        .select(date_format(col("m"), "yyyy-MM").as("segment_key"),
          col("seg_start"), col("seg_end"))
      Unify.rangeAttach(daily, "date", segments, "seg_start", "seg_end")
        .groupBy("segment_key")
        .agg(count(lit(1)).as("n_days"), round(avg("f_mean"), 6).as("seg_mean"))
    },
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |segments AS (
          |  SELECT strftime(date_trunc('month', date), '%Y-%m') AS segment_key,
          |    min(date) AS seg_start, max(date) AS seg_end
          |  FROM daily GROUP BY 1)
          |SELECT s.segment_key, count(*) AS n_days, round(avg(d.f_mean), 6) AS seg_mean
          |FROM daily d JOIN segments s ON d.date >= s.seg_start AND d.date <= s.seg_end
          |GROUP BY s.segment_key""".stripMargin),

    // D3: first-half vs second-half distribution drift per event type.
    Query("d3_drift_halves", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      ev(s, dir).withColumn("half", ntile(2).over(w).cast("long"))
        .groupBy("event_type", "half")
        .agg(round(avg("value"), 6).as("v_avg"), round(stddev_samp("value"), 6).as("v_std"),
          count(lit(1)).as("n"))
    },
      oracle =
        """WITH h AS (
          |  SELECT event_type, value,
          |    ntile(2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS half
          |  FROM events)
          |SELECT event_type, half, round(avg(value), 6) AS v_avg,
          |  round(stddev_samp(value), 6) AS v_std, count(*) AS n
          |FROM h GROUP BY event_type, half""".stripMargin),

    // O2: top-k with deterministic tie-break.
    Query("o2_topk_users", (s, dir) =>
      ev(s, dir).groupBy("user_id")
        .agg(round(sum("value"), 4).as("total_value"), count(lit(1)).as("n"))
        .orderBy(col("total_value").desc, col("user_id"))
        .limit(5),
      oracle =
        """SELECT user_id, round(sum(value), 4) AS total_value, count(*) AS n
          |FROM events GROUP BY user_id
          |ORDER BY total_value DESC, user_id LIMIT 5""".stripMargin),

    // C8: regex extraction from a JSON-ish string column.
    Query("c8_json_extract", (s, dir) =>
      ev(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int"))
        .groupBy("event_type")
        .agg(round(avg("k"), 6).as("k_avg"), max("k").as("k_max"), count(lit(1)).as("n")),
      oracle =
        """SELECT event_type,
          |  round(avg(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)), 6) AS k_avg,
          |  max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) AS k_max,
          |  count(*) AS n
          |FROM events GROUP BY event_type""".stripMargin),

    // M2: calendar fold assignment (5-day folds from the min date).
    Query("m2_folds", (s, dir) => {
      val withDate = ev(s, dir).withColumn("date", to_date(col("ts")))
      val minDate = withDate.agg(min("date")).head().getDate(0)
      withDate
        .withColumn("fold_id", floor(datediff(col("date"), lit(minDate)) / 5))
        .groupBy("fold_id")
        .agg(countDistinct(col("date")).as("n_days"), count(lit(1)).as("n_events"),
          min("date").as("fold_start"), max("date").as("fold_end"))
    },
      oracle =
        """WITH d AS (SELECT CAST(ts AS DATE) AS date, * FROM events),
          |m AS (SELECT min(date) AS d0 FROM d)
          |SELECT CAST(floor(date_diff('day', m.d0, d.date) / 5) AS BIGINT) AS fold_id,
          |  count(DISTINCT d.date) AS n_days, count(*) AS n_events,
          |  min(d.date) AS fold_start, max(d.date) AS fold_end
          |FROM d CROSS JOIN m GROUP BY 1""".stripMargin),

    // M2 exact: the reference's month-based calendar folds with the
    // >=2-class anchor scan, end-of-month-clamped month arithmetic, and
    // empty/one-class fold skipping. The daily frame spreads events over
    // a synthetic 420-day span anchored at a month-END date (2023-10-31)
    // so the clamping composition (Oct 31 +6mo -> Apr 30, +4mo -> Aug 30)
    // is actually exercised; a single-class prefix before 2023-12-01
    // forces the anchor scan to move.
    Query("m2_folds_monthly", (s, dir) => {
      val daily = ev(s, dir)
        .withColumn("date",
          date_add(lit("2023-10-31").cast("date"),
            pmod(col("event_id"), lit(420)).cast("int")))
        .groupBy("date").agg(count(lit(1)).as("n"))
        .withColumn("label_3cls",
          when(col("date") < lit("2023-12-01").cast("date"), 0)
            .otherwise(pmod(dayofmonth(col("date")), lit(3)) - 1))
      graft.operators.Folds.calendarFoldsMonthly(daily, "date", "label_3cls",
          nFolds = 6, trainMonths = 4, valMonths = 2, anchorWindowRows = 30)
        .select(col("fold_id").cast("long").as("fold_id"),
          col("train_start"), col("train_end"), col("val_start"),
          col("val_end"), col("n_train"), col("n_val"))
    },
      // NB: this twin's has2/n_cls use plain min/max-over-window and
      // count(DISTINCT), which OMIT the reference's NaN-counts-as-a-class
      // rule (pandas .unique()). That is sound HERE because this synthetic
      // fixture's labels are non-null by construction (the CASE below always
      // produces a value); if the fixture ever gains null labels, mirror
      // Folds.calendarFoldsMonthly's null-mix condition in both CTEs.
      oracle =
        """WITH daily AS (
          |  SELECT DATE '2023-10-31' + CAST(event_id % 420 AS INT) AS date
          |  FROM events GROUP BY 1),
          |lab AS (
          |  SELECT date, CASE WHEN date < DATE '2023-12-01' THEN 0
          |    ELSE (day(date) % 3) - 1 END AS lbl FROM daily),
          |flagged AS (
          |  SELECT date, lbl, min(lbl) OVER w <> max(lbl) OVER w AS has2
          |  FROM lab
          |  WINDOW w AS (ORDER BY date ROWS BETWEEN CURRENT ROW AND 29 FOLLOWING)),
          |anc AS (
          |  SELECT coalesce(min(date) FILTER (WHERE has2), min(date)) AS anchor,
          |    max(date) AS dmax
          |  FROM flagged),
          |spec AS (
          |  SELECT f.range AS fold_id,
          |    CAST(anchor + (6 * f.range) * INTERVAL 1 MONTH AS DATE) AS t0,
          |    CAST((anchor + (6 * f.range) * INTERVAL 1 MONTH)
          |      + 4 * INTERVAL 1 MONTH AS DATE) AS t1,
          |    CAST(((anchor + (6 * f.range) * INTERVAL 1 MONTH)
          |      + 4 * INTERVAL 1 MONTH) + 2 * INTERVAL 1 MONTH AS DATE) AS v1,
          |    dmax
          |  FROM range(6) f, anc),
          |tagged AS (
          |  SELECT s.fold_id, s.t0, s.t1, s.v1,
          |    CASE WHEN b.date < s.t1 THEN 'train' ELSE 'val' END AS role, b.lbl
          |  FROM spec s JOIN lab b ON b.date >= s.t0 AND b.date < s.v1
          |  WHERE s.t0 < s.dmax),
          |aggd AS (
          |  SELECT fold_id, t0, t1, v1,
          |    CAST(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
          |    CAST(sum(CASE WHEN role = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
          |    count(DISTINCT CASE WHEN role = 'train' THEN lbl END) AS n_cls
          |  FROM tagged GROUP BY 1, 2, 3, 4)
          |SELECT fold_id, t0 AS train_start, t1 AS train_end, t1 AS val_start,
          |  v1 AS val_end, n_train, n_val
          |FROM aggd WHERE n_train > 0 AND n_val > 0 AND n_cls >= 2""".stripMargin),

    // M6/stage-6 artifact core: the per-fold metrics frame written into
    // cv_summary.json's `folds` list — macro-F1, balanced accuracy and
    // Cohen's kappa per calendar fold; n_train = all non-validation rows
    // (run_full_pipeline.py:1265).
    Query("m6_cv_folds", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val withDate = ev(s, dir).withColumn("date", to_date(col("ts")))
      val minDate = withDate.agg(min("date")).head().getDate(0)
      val pred = withDate
        .withColumn("fold_id", floor(datediff(col("date"), lit(minDate)) / 5))
        .withColumn("y_pred", element_at(typedLit(types),
          (pmod(floor(col("value") / 40), lit(5)) + 1).cast("int")))
        .withColumnRenamed("event_type", "y_true")
      graft.pipeline.Reports.perFoldMetrics(pred, "fold_id", "y_true",
        "y_pred", "date", types)
    },
      oracle =
        """WITH d AS (SELECT CAST(ts AS DATE) AS date, event_type AS y_true, value FROM events),
          |m AS (SELECT min(date) AS d0 FROM d),
          |pred AS (
          |  SELECT CAST(floor(date_diff('day', m.d0, d.date) / 5) AS BIGINT) AS fold_id,
          |    d.date, d.y_true,
          |    ['click','error','purchase','signup','view']
          |      [CAST(floor(value / 40) AS BIGINT) % 5 + 1] AS y_pred
          |  FROM d CROSS JOIN m),
          |cls AS (SELECT unnest(['click','error','purchase','signup','view']) AS label),
          |counts AS (
          |  SELECT p.fold_id, c.label,
          |    sum(CASE WHEN p.y_true = c.label AND p.y_pred = c.label THEN 1 ELSE 0 END) AS tp,
          |    sum(CASE WHEN p.y_true <> c.label AND p.y_pred = c.label THEN 1 ELSE 0 END) AS fp,
          |    sum(CASE WHEN p.y_true = c.label AND p.y_pred <> c.label THEN 1 ELSE 0 END) AS fn
          |  FROM cls c CROSS JOIN pred p GROUP BY 1, 2),
          |pc AS (
          |  SELECT fold_id, tp, fp, fn,
          |    CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END AS p,
          |    CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END AS r
          |  FROM counts),
          |fm AS (
          |  SELECT fold_id,
          |    avg(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END) AS f1_raw,
          |    sum(CASE WHEN tp + fn > 0 THEN r END)
          |      / sum(CASE WHEN tp + fn > 0 THEN 1 END) AS ba_raw,
          |    sum(tp) AS agree, sum(tp + fn) AS n,
          |    sum((tp + fn) * (tp + fp)) AS rtrp
          |  FROM pc GROUP BY 1),
          |spans AS (
          |  SELECT fold_id, min(date) AS val_start, max(date) AS val_end,
          |    count(*) AS n_val
          |  FROM pred GROUP BY 1)
          |SELECT s.fold_id, s.val_start, s.val_end,
          |  CAST(sum(s.n_val) OVER () - s.n_val AS BIGINT) AS n_train,
          |  CAST(s.n_val AS BIGINT) AS n_val,
          |  round(f.f1_raw, 6) AS f1_macro,
          |  round(f.ba_raw, 6) AS balanced_accuracy,
          |  round((f.agree / CAST(f.n AS DOUBLE) - f.rtrp / (CAST(f.n AS DOUBLE) * f.n))
          |    / (1.0 - f.rtrp / (CAST(f.n AS DOUBLE) * f.n)), 6) AS cohen_kappa
          |FROM spans s JOIN fm f ON s.fold_id = f.fold_id""".stripMargin),

    // M6: classification metrics as pure relational aggregation.
    Query("m6_metrics", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pred = ev(s, dir).withColumn("y_pred",
        element_at(typedLit(types), (pmod(floor(col("value") / 40), lit(5)) + 1).cast("int")))
        .withColumnRenamed("event_type", "y_true")
      val counts = pred
        .select(explode(typedLit(types)).as("label"), col("y_true"), col("y_pred"))
        .groupBy("label")
        .agg(
          sum(when(col("y_true") === col("label") && col("y_pred") === col("label"), 1)
            .otherwise(0)).as("tp"),
          sum(when(col("y_true") =!= col("label") && col("y_pred") === col("label"), 1)
            .otherwise(0)).as("fp"),
          sum(when(col("y_true") === col("label") && col("y_pred") =!= col("label"), 1)
            .otherwise(0)).as("fn"))
      // f1 from UNROUNDED precision/recall; round only at the output edge
      // (the oracle does the same — rounding order must match).
      val p = when(col("tp") + col("fp") > 0,
        col("tp") / (col("tp") + col("fp"))).otherwise(0.0)
      val r = when(col("tp") + col("fn") > 0,
        col("tp") / (col("tp") + col("fn"))).otherwise(0.0)
      counts.select(col("label"), col("tp"), col("fp"), col("fn"),
        round(p, 6).as("precision"), round(r, 6).as("recall"),
        round(when(p + r > 0, lit(2) * p * r / (p + r)).otherwise(0.0), 6).as("f1"))
    },
      oracle =
        """WITH pred AS (
          |  SELECT event_type AS y_true,
          |    ['click','error','purchase','signup','view']
          |      [CAST(floor(value / 40) AS BIGINT) % 5 + 1] AS y_pred
          |  FROM events),
          |cls AS (SELECT unnest(['click','error','purchase','signup','view']) AS label),
          |counts AS (
          |  SELECT c.label,
          |    sum(CASE WHEN p.y_true = c.label AND p.y_pred = c.label THEN 1 ELSE 0 END) AS tp,
          |    sum(CASE WHEN p.y_true <> c.label AND p.y_pred = c.label THEN 1 ELSE 0 END) AS fp,
          |    sum(CASE WHEN p.y_true = c.label AND p.y_pred <> c.label THEN 1 ELSE 0 END) AS fn
          |  FROM cls c CROSS JOIN pred p GROUP BY c.label)
          |SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          |  CAST(fn AS BIGINT) AS fn,
          |  round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
          |  round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall,
          |  round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
          |           + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END) > 0
          |    THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
          |           * (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)
          |           / ((CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
          |           + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END))
          |    ELSE 0.0 END, 6) AS f1
          |FROM counts""".stripMargin),

    // J12: as-of join — attach the most recent at-or-before purchase of the
    // same user (within 1 day) to every event. The right side is
    // pre-aggregated to unique (user, ts) so the backward match is
    // deterministic; staleness is floored-epoch-second arithmetic on both
    // engines. Union-merge plan: one shuffle on user_id, no range blowup.
    Query("j12_asof", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(round(max("value"), 6).as("pv"))
      Unify.asofJoin(
          e.select("event_id", "user_id", "ts", "event_type"), purchases,
          Seq("user_id"), "ts", "ts", Seq("pv"), toleranceSecs = Some(86400L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("pv").as("last_purchase"),
          (col("ts").cast("long") - col("asof_ts").cast("long"))
            .as("purchase_age_s"))
    },
      // DuckDB has a NATIVE ASOF JOIN (inclusive at equality, like the
      // union-merge plan's side ordering) — the twin states the semantics
      // directly; the 1-day tolerance is the same post-match gate on floored
      // epoch seconds as the Spark side.
      oracle =
        """WITH p AS (
          |  SELECT user_id, ts, round(max(value), 6) AS pv
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, e.event_type,
          |  CASE WHEN epoch_us(e.ts) // 1000000 - epoch_us(p.ts) // 1000000 <= 86400
          |    THEN p.pv END AS last_purchase,
          |  CASE WHEN epoch_us(e.ts) // 1000000 - epoch_us(p.ts) // 1000000 <= 86400
          |    THEN epoch_us(e.ts) // 1000000 - epoch_us(p.ts) // 1000000
          |  END AS purchase_age_s
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // J14: SCD2 dimension build + point-in-time fact attach — the user's
    // 'view'-event value as a type-2 status dimension (validity
    // intervals, current flag), purchases looked up at their own
    // timestamp. The PIT attach is the as-of union-merge plan (backward
    // match ≡ containing interval), NOT a range join.
    Query("j14_scd2", (s, dir) => {
      val e = ev(s, dir)
      val changes = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(round(max("value"), 6).as("status"))
      val dim = Unify.scd2Build(changes, Seq("user_id"), "ts", Seq("status"))
      val facts = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Unify.asofJoin(facts, dim, Seq("user_id"), "ts", "valid_from",
          Seq("status", "valid_to", "is_current"),
          matchedTsCol = "valid_from")
        .select("event_id", "user_id", "ts", "value", "status",
          "valid_from", "valid_to", "is_current")
    },
      // j14 twin: the dimension CTE computes intervals + current flag
      // BEFORE the join (so unmatched facts null every dim column,
      // matching the engine's null payload); the PIT lookup is the
      // textbook half-open range predicate, unique by construction.
      oracle =
        """WITH ch AS (
          |  SELECT user_id, ts, round(max(value), 6) AS status
          |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          |dim AS (
          |  SELECT user_id, status, ts AS valid_from,
          |    lead(ts) OVER w AS valid_to,
          |    CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
          |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |f AS (
          |  SELECT event_id, user_id, ts, value FROM events
          |  WHERE event_type = 'purchase')
          |SELECT f.event_id, f.user_id, f.ts, f.value, d.status,
          |  d.valid_from, d.valid_to, d.is_current
          |FROM f LEFT JOIN dim d ON d.user_id = f.user_id
          |  AND d.valid_from <= f.ts
          |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)""".stripMargin),

    // E3: weekly cohort retention — users cohorted by first-seen week,
    // distinct-active counts per (cohort_week, week_offset).
    Query("e3_retention", (s, dir) =>
      EventAnalytics.retentionCohorts(ev(s, dir), "user_id", "ts"),
      oracle =
        """WITH f AS (
          |  SELECT user_id, min(CAST(ts AS DATE)) AS first_date
          |  FROM events GROUP BY 1),
          |sz AS (
          |  SELECT CAST(date_trunc('week', first_date) AS DATE) AS cohort_week,
          |    count(*) AS cohort_n
          |  FROM f GROUP BY 1),
          |active AS (
          |  SELECT DISTINCT CAST(date_trunc('week', f.first_date) AS DATE) AS cohort_week,
          |    date_diff('day', f.first_date, CAST(e.ts AS DATE)) // 7 AS week_offset,
          |    e.user_id
          |  FROM events e JOIN f USING (user_id))
          |SELECT a.cohort_week, a.week_offset, count(*) AS n_active,
          |  round(count(*) / CAST(s.cohort_n AS DOUBLE), 6) AS retention
          |FROM active a JOIN sz s USING (cohort_week)
          |GROUP BY a.cohort_week, a.week_offset, s.cohort_n""".stripMargin),

    // E4: strict-order funnel view -> click -> purchase per user.
    Query("e4_funnel", (s, dir) =>
      EventAnalytics.funnel(ev(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      oracle =
        """WITH s0 AS (
          |  SELECT user_id, min(ts) AS t FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |s1 AS (
          |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
          |  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
          |s2 AS (
          |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
          |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
          |  (SELECT count(*) FROM s0) AS n_users
          |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
          |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""".stripMargin),

    // E5: exact DAU / trailing-7d WAU / stickiness per day via the
    // bounded contribution-explode (no windowed count-distinct exists).
    Query("e5_active_users", (s, dir) =>
      EventAnalytics.rollingActiveUsers(ev(s, dir), "user_id", "ts"),
      oracle =
        """WITH days AS (
          |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
          |dau AS (SELECT d AS date, count(*) AS dau FROM days GROUP BY 1),
          |offs AS (SELECT unnest(range(7)) AS o),
          |contrib AS (
          |  SELECT DISTINCT u, d + CAST(o AS INT) AS date
          |  FROM days CROSS JOIN offs),
          |wau AS (SELECT date, count(*) AS wau FROM contrib GROUP BY 1)
          |SELECT dau.date, dau.dau, wau.wau,
          |  round(dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness
          |FROM dau JOIN wau USING (date)""".stripMargin),

    // E13 (beyond ref): daily new-vs-returning split + cumulative reach —
    // first-seen dates from one per-user min, attached to the daily
    // active grain by an equi-join; cumulative users is a window over the
    // bounded date grain.
    Query("e13_new_users", (s, dir) => {
      val activity = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("date")).distinct()
      val firstSeen = activity.groupBy("user_id").agg(min("date").as("first_date"))
      val daily = activity.join(firstSeen, "user_id")
        .groupBy("date")
        .agg(count(lit(1)).as("dau"),
          sum(when(col("date") === col("first_date"), 1L).otherwise(0L))
            .as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // cumulative window runs over the bounded date grain (days), not events
      daily
        .withColumn("n_returning", col("dau") - col("n_new"))
        .withColumn("cum_users", sum("n_new").over(w))
        .select("date", "dau", "n_new", "n_returning", "cum_users")
    },
      oracle =
        """WITH act AS (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS date FROM events),
          |fs AS (SELECT user_id, min(date) AS first_date FROM act GROUP BY 1),
          |daily AS (
          |  SELECT a.date, count(*) AS dau,
          |    CAST(sum(CASE WHEN a.date = f.first_date THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_new
          |  FROM act a JOIN fs f USING (user_id) GROUP BY 1)
          |SELECT date, dau, n_new, dau - n_new AS n_returning,
          |  CAST(sum(n_new) OVER (ORDER BY date
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_users
          |FROM daily""".stripMargin),

    // E12 (beyond ref): time-to-convert — latency from a user's first
    // view to their first subsequent purchase, with exact interpolated
    // percentiles over the bounded per-user latency frame (one row per
    // converting user, not per event).
    Query("e12_time_to_convert", (s, dir) => {
      val events = ev(s, dir)
      val fv = events.filter(col("event_type") === "view")
        .groupBy("user_id")
        .agg(min(col("ts").cast("long")).as("view_epoch"))
      val conv = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("long").as("p_epoch"))
        .join(fv, "user_id")
        .filter(col("p_epoch") >= col("view_epoch"))
        .groupBy("user_id", "view_epoch")
        .agg(min("p_epoch").as("conv_epoch"))
        .select(round((col("conv_epoch") - col("view_epoch")) / 3600.0, 6)
          .as("lat_hours"))
      val nv = fv.agg(count(lit(1)).as("n_viewers"))
      conv
        .agg(count(lit(1)).as("n_converted"),
          round(percentile(col("lat_hours"), lit(0.5)), 6).as("p50_hours"),
          round(percentile(col("lat_hours"), lit(0.9)), 6).as("p90_hours"))
        .crossJoin(broadcast(nv))
        .select(col("n_viewers"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_viewers"), 6)
            .as("conversion_rate"),
          col("p50_hours"), col("p90_hours"))
    },
      oracle =
        """WITH fv AS (
          |  SELECT user_id, min(epoch_us(ts) // 1000000) AS view_epoch
          |  FROM events WHERE event_type = 'view' GROUP BY 1),
          |pur AS (
          |  SELECT user_id, epoch_us(ts) // 1000000 AS p_epoch
          |  FROM events WHERE event_type = 'purchase'),
          |conv AS (
          |  SELECT p.user_id, f.view_epoch, min(p.p_epoch) AS conv_epoch
          |  FROM pur p JOIN fv f USING (user_id)
          |  WHERE p.p_epoch >= f.view_epoch GROUP BY 1, 2),
          |lat AS (
          |  SELECT round((conv_epoch - view_epoch) / 3600.0, 6) AS lat_hours
          |  FROM conv),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_viewers FROM fv),
          |agg AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_converted,
          |    round(quantile_cont(lat_hours, 0.5), 6) AS p50_hours,
          |    round(quantile_cont(lat_hours, 0.9), 6) AS p90_hours
          |  FROM lat)
          |SELECT t.n_viewers, a.n_converted,
          |  round(CAST(a.n_converted AS DOUBLE) / t.n_viewers, 6) AS conversion_rate,
          |  a.p50_hours, a.p90_hours
          |FROM agg a CROSS JOIN tot t""".stripMargin),

    // E4b: the same funnel under a 6-hour conversion window anchored at
    // the user's first view.
    Query("e4_funnel_windowed", (s, dir) =>
      EventAnalytics.funnel(ev(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSecs = Some(21600L)),
      oracle =
        """WITH s0 AS (
          |  SELECT user_id, min(ts) AS t, min(ts) AS t0 FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |s1 AS (
          |  SELECT e.user_id, min(e.ts) AS t, min(s0.t0) AS t0
          |  FROM events e JOIN s0 USING (user_id)
          |  WHERE e.event_type = 'click' AND e.ts > s0.t
          |    AND epoch_us(e.ts) // 1000000 <= epoch_us(s0.t0) // 1000000 + 21600
          |  GROUP BY 1),
          |s2 AS (
          |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND e.ts > s1.t
          |    AND epoch_us(e.ts) // 1000000 <= epoch_us(s1.t0) // 1000000 + 21600
          |  GROUP BY 1)
          |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
          |  (SELECT count(*) FROM s0) AS n_users
          |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
          |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""".stripMargin),

    // W11: pandas-style EWMA (adjust=True) over each user's daily mean,
    // truncated at 20 rows — the bounded-state formulation.
    Query("w11_ewma", (s, dir) =>
      Enrich.ewma(dailyUser(s, dir), "user_id", "date", "f_mean",
          alpha = 0.3, window = 20)
        .select("user_id", "date", "f_mean", "f_mean_ewma"),
      // w11 twin: the rn-difference self-join form of the same truncated
      // adjust=True weighting; round-6 absorbs the different summation
      // order (fold vs SQL SUM) and any last-ulp power() divergence.
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |r AS (
          |  SELECT user_id, date, f_mean,
          |    row_number() OVER (PARTITION BY user_id ORDER BY date) AS rn
          |  FROM daily),
          |acc AS (
          |  SELECT a.user_id, a.date, a.rn,
          |    sum(CASE WHEN b.f_mean IS NOT NULL
          |      THEN power(0.7, a.rn - b.rn) * b.f_mean END) AS num,
          |    sum(CASE WHEN b.f_mean IS NOT NULL
          |      THEN power(0.7, a.rn - b.rn) END) AS den
          |  FROM r a JOIN r b
          |    ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
          |  GROUP BY 1, 2, 3)
          |SELECT a.user_id, a.date, r.f_mean,
          |  CASE WHEN a.den > 0 THEN round(a.num / a.den, 6) END AS f_mean_ewma
          |FROM acc a JOIN r ON a.user_id = r.user_id AND a.rn = r.rn""".stripMargin),

    // W13: day-of-week seasonal decomposition of the per-user daily
    // series — weekday profile, seasonal component, adjusted series,
    // residual. Two entity-prefixed window exchanges, profile
    // cardinality users×7.
    Query("w13_seasonal", (s, dir) =>
      Enrich.seasonalDecompose(dailyUser(s, dir), "user_id", "date",
        "f_mean"),
      // w13 twin: Spark weekday() is 0=Monday == DuckDB isodow−1; both
      // engines average the same partitions, round(6) absorbs summation
      // order.
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |d AS (SELECT user_id, date, f_mean,
          |  CAST(isodow(date) - 1 AS INTEGER) AS dow FROM daily),
          |w AS (
          |  SELECT user_id, date, f_mean, dow,
          |    avg(f_mean) OVER (PARTITION BY user_id, dow) AS dow_mean,
          |    avg(f_mean) OVER (PARTITION BY user_id) AS key_mean
          |  FROM d)
          |SELECT user_id, date, f_mean, dow,
          |  round(dow_mean, 6) AS f_mean_dow_mean,
          |  round(dow_mean - key_mean, 6) AS f_mean_seasonal,
          |  round(f_mean - (dow_mean - key_mean), 6) AS f_mean_adjusted,
          |  round(f_mean - dow_mean, 6) AS f_mean_residual
          |FROM w""".stripMargin),

    // E9: Kaplan-Meier survival of time-to-first-purchase — users enter
    // at first event, right-censored at corpus end; S(t) as the running
    // product over the duration-bounded risk table.
    Query("e9_survival", (s, dir) =>
      EventAnalytics.kaplanMeier(ev(s, dir), "user_id", "ts", "event_type",
        "purchase"),
      oracle =
        """WITH pu AS (
          |  SELECT user_id, min(CAST(ts AS DATE)) AS first_date,
          |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
          |      AS event_date
          |  FROM events GROUP BY 1),
          |ce AS (SELECT max(CAST(ts AS DATE)) AS corpus_end FROM events),
          |dur AS (
          |  SELECT CAST(CASE WHEN event_date IS NOT NULL
          |      THEN date_diff('day', first_date, event_date)
          |      ELSE date_diff('day', first_date, corpus_end) END AS BIGINT) AS t,
          |    CASE WHEN event_date IS NOT NULL THEN CAST(1 AS BIGINT)
          |      ELSE CAST(0 AS BIGINT) END AS event
          |  FROM pu, ce),
          |g AS (
          |  SELECT t, CAST(sum(event) AS BIGINT) AS d,
          |    CAST(sum(1 - event) AS BIGINT) AS c,
          |    count(*) AS leavers
          |  FROM dur GROUP BY t),
          |tot AS (SELECT CAST(sum(leavers) AS BIGINT) AS n_total FROM g),
          |r AS (
          |  SELECT t, d, c,
          |    CAST(n_total - coalesce(sum(leavers) OVER (ORDER BY t
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          |      AS n
          |  FROM g, tot)
          |SELECT t, d, c, n,
          |  CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY t
          |      ROWS UNBOUNDED PRECEDING) = 1
          |    THEN 0.0
          |    ELSE round(exp(sum(CASE WHEN d < n
          |      THEN ln(1.0 - CAST(d AS DOUBLE) / n) ELSE 0.0 END)
          |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
          |  END AS survival
          |FROM r""".stripMargin),

    // W12: rolling robust outlier detection — trailing-7-row exact
    // median + MAD + robust z + flag per user day.
    Query("w12_rolling_mad", (s, dir) =>
      Enrich.rollingMedianMad(dailyUser(s, dir), "user_id", "date", "f_mean",
          k = 7, minPeriods = 3, zThresh = 3.0)
        .select("user_id", "date", "f_mean", "f_mean_med", "f_mean_mad",
          "f_mean_rz", "f_mean_outlier"),
      oracle =
        s"""WITH daily AS ($dailyUserSql),
          |w AS (
          |  SELECT user_id, date, f_mean,
          |    count(f_mean) OVER win AS n_w,
          |    quantile_cont(f_mean, 0.5) OVER win AS med,
          |    mad(f_mean) OVER win AS madv
          |  FROM daily
          |  WINDOW win AS (PARTITION BY user_id ORDER BY date
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
          |SELECT user_id, date, f_mean,
          |  CASE WHEN n_w >= 3 THEN round(med, 6) END AS f_mean_med,
          |  CASE WHEN n_w >= 3 THEN round(madv, 6) END AS f_mean_mad,
          |  CASE WHEN n_w >= 3 AND madv > 0
          |    THEN round((f_mean - med) / (1.4826 * madv), 6) END AS f_mean_rz,
          |  CASE WHEN n_w >= 3 AND madv > 0
          |      AND abs((f_mean - med) / (1.4826 * madv)) > 3.0
          |    THEN 1 ELSE 0 END AS f_mean_outlier
          |FROM w""".stripMargin),

    // E6: session path analysis — 30-min-gap sessions, ordered event-type
    // path (first 8 events), one row per distinct path.
    Query("e6_session_paths", (s, dir) =>
      EventAnalytics.sessionPaths(ev(s, dir), "user_id", "ts", "event_id",
        "event_type", gapSecs = 1800L, maxPathEvents = 8),
      oracle =
        """WITH o AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM events),
          |b AS (
          |  SELECT *, CASE WHEN prev_ts IS NULL
          |      OR epoch_us(ts) // 1000000 - epoch_us(prev_ts) // 1000000 > 1800
          |    THEN 1 ELSE 0 END AS brk
          |  FROM o),
          |s AS (
          |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS UNBOUNDED PRECEDING) AS sess
          |  FROM b),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id, sess
          |    ORDER BY ts, event_id, event_type) AS rk
          |  FROM s),
          |ps AS (
          |  SELECT user_id, sess, count(*) AS n_events,
          |    string_agg(CASE WHEN rk <= 8 THEN event_type END, '>'
          |      ORDER BY ts, event_id, event_type) AS path
          |  FROM r GROUP BY 1, 2)
          |SELECT path, count(*) AS n_sessions,
          |  round(avg(n_events), 6) AS avg_events
          |FROM ps GROUP BY path""".stripMargin),

    // E7: RFM segmentation — recency/frequency/monetary quartile scores
    // via the 1-row exact-percentile broadcast (no global ntile sort).
    Query("e7_rfm", (s, dir) =>
      EventAnalytics.rfm(ev(s, dir), "user_id", "ts", "event_type", "value",
        "purchase"),
      oracle =
        """WITH pu AS (
          |  SELECT user_id, max(CAST(ts AS DATE)) AS last_date,
          |    count(*) AS frequency,
          |    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 6)
          |      AS monetary
          |  FROM events GROUP BY 1),
          |md AS (SELECT max(CAST(ts AS DATE)) AS corpus_max FROM events),
          |wr AS (
          |  SELECT user_id,
          |    CAST(date_diff('day', last_date, corpus_max) AS BIGINT) AS recency_days,
          |    frequency, monetary
          |  FROM pu, md),
          |qs AS (
          |  SELECT
          |    round(quantile_cont(recency_days, 0.25), 6) AS r25,
          |    round(quantile_cont(recency_days, 0.5), 6) AS r50,
          |    round(quantile_cont(recency_days, 0.75), 6) AS r75,
          |    round(quantile_cont(frequency, 0.25), 6) AS f25,
          |    round(quantile_cont(frequency, 0.5), 6) AS f50,
          |    round(quantile_cont(frequency, 0.75), 6) AS f75,
          |    round(quantile_cont(monetary, 0.25), 6) AS m25,
          |    round(quantile_cont(monetary, 0.5), 6) AS m50,
          |    round(quantile_cont(monetary, 0.75), 6) AS m75
          |  FROM wr),
          |sc AS (
          |  SELECT user_id, recency_days, frequency, monetary,
          |    CASE WHEN recency_days <= r25 THEN 4 WHEN recency_days <= r50 THEN 3
          |         WHEN recency_days <= r75 THEN 2 ELSE 1 END AS r_score,
          |    CASE WHEN frequency <= f25 THEN 1 WHEN frequency <= f50 THEN 2
          |         WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_score,
          |    CASE WHEN monetary <= m25 THEN 1 WHEN monetary <= m50 THEN 2
          |         WHEN monetary <= m75 THEN 3 ELSE 4 END AS m_score
          |  FROM wr, qs)
          |SELECT user_id, recency_days, frequency, monetary,
          |  r_score, f_score, m_score,
          |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
          |    || CAST(m_score AS VARCHAR) AS rfm_cell,
          |  CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
          |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
          |       WHEN f_score <= 2 AND m_score <= 2 THEN 'low_value'
          |       ELSE 'regular' END AS segment
          |FROM sc""".stripMargin),

    // E8: first-order Markov transition matrix over within-session
    // consecutive event-type pairs.
    Query("e8_transitions", (s, dir) =>
      EventAnalytics.transitionMatrix(ev(s, dir), "user_id", "ts", "event_id",
        "event_type", gapSecs = 1800L),
      oracle =
        """WITH o AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
          |  FROM events),
          |p AS (
          |  SELECT event_type AS src, dst FROM o
          |  WHERE dst IS NOT NULL
          |    AND epoch_us(next_ts) // 1000000 - epoch_us(ts) // 1000000 <= 1800),
          |c AS (SELECT src, dst, count(*) AS n FROM p GROUP BY 1, 2)
          |SELECT src, dst, n,
          |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
          |FROM c""".stripMargin),

    // E10: cohort retention matrix — users bucketed by first-seen ISO
    // week, activity counted at week offsets, retention = active/cohort
    // size. The classic triangular cohort heatmap as one frame. Shuffle
    // story: first-seen is one agg on user_id, the cohort attach is a
    // user_id equi-join, and the per-(cohort, offset) distinct count
    // shuffles on a bounded composite key; cohort sizes (bounded by the
    // observation span in weeks) broadcast into the final attach.
    Query("e10_cohort_matrix", (s, dir) => {
      val evd = ev(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = evd.groupBy("user_id")
        .agg(min(col("d")).as("fd"))
        .select(col("user_id"),
          date_trunc("week", col("fd")).cast("date").as("cohort_week"))
      val sizes = cohorts.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      evd.join(cohorts, "user_id")
        .select(col("cohort_week"), col("user_id"),
          (datediff(date_trunc("week", col("d")).cast("date"),
            col("cohort_week")) / 7).cast("long").as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          round(col("n_active").cast("double") / col("cohort_size"), 6)
            .as("retention"))
    },
      // e10 twin: both week columns date_trunc to the ISO Monday (Spark and
      // DuckDB agree); offsets are exact multiples of 7 days so the
      // integer division is lossless.
      oracle =
        """WITH evd AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
          |cohorts AS (
          |  SELECT user_id, date_trunc('week', min(d)) AS cohort_week
          |  FROM evd GROUP BY user_id),
          |sizes AS (
          |  SELECT cohort_week, count(*) AS cohort_size
          |  FROM cohorts GROUP BY cohort_week),
          |act AS (
          |  SELECT c.cohort_week,
          |    date_diff('day', c.cohort_week, date_trunc('week', e.d)) // 7
          |      AS week_offset,
          |    count(DISTINCT e.user_id) AS n_active
          |  FROM evd e JOIN cohorts c USING (user_id)
          |  GROUP BY 1, 2)
          |SELECT a.cohort_week, CAST(a.week_offset AS BIGINT) AS week_offset,
          |  CAST(a.n_active AS BIGINT) AS n_active,
          |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
          |  round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
          |FROM act a JOIN sizes s USING (cohort_week)""".stripMargin),

    // E11: last-touch conversion attribution — every purchase credited
    // to the user's most recent preceding click/view within 7 days,
    // otherwise organic; per-channel conversions + revenue. One window
    // pass on the user timeline, no self-join.
    Query("e11_attribution", (s, dir) =>
      EventAnalytics.lastTouchAttribution(ev(s, dir), "user_id", "event_id",
        "ts", "event_type", "value", Seq("click", "view"), "purchase",
        windowSecs = 7L * 86400),
      // e11 twin: the strictly-preceding frame + IGNORE NULLS mirrors the
      // engine's last(when(touch)) window; both sides floor timestamps to
      // epoch seconds before the 7-day age test, and ties on ts break on
      // event_id in both engines.
      oracle =
        """WITH t AS (
          |  SELECT event_type, value, ts,
          |    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
          |      IGNORE NULLS) OVER w AS touch_ts,
          |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
          |      IGNORE NULLS) OVER w AS touch_type
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |c AS (
          |  SELECT CASE WHEN touch_ts IS NULL
          |      OR epoch_us(ts) // 1000000 - epoch_us(touch_ts) // 1000000 > 604800
          |      THEN 'organic' ELSE touch_type END AS attr_type, value
          |  FROM t WHERE event_type = 'purchase')
          |SELECT attr_type, count(*) AS n_conversions,
          |  round(sum(value), 6) AS revenue
          |FROM c GROUP BY attr_type""".stripMargin),

    // J13: interval overlap join — per-user daily activity spans x
    // per-type daily spans, matched on overlap via the bucketed
    // equi-join (responsibility-bucket dedupe, no distinct). Day-wide
    // intervals -> day-wide buckets: <=2 replicas per interval.
    Query("j13_interval_join", (s, dir) => {
      val e = ev(s, dir)
      val a = e.groupBy(col("user_id"), to_date(col("ts")).as("a_date"))
        .agg(min("ts").as("a_s"), max("ts").as("a_e"))
      val b = e.groupBy(col("event_type"), to_date(col("ts")).as("b_date"))
        .agg(min("ts").as("b_s"), max("ts").as("b_e"))
      Unify.intervalJoin(a, b, "a_s", "a_e", "b_s", "b_e", 86400L)
        .select(col("user_id"), col("event_type"), col("a_date").as("date"),
          (least(col("a_e").cast("long"), col("b_e").cast("long")) -
            greatest(col("a_s").cast("long"), col("b_s").cast("long")))
            .as("overlap_secs"))
    },
      // The twin states the overlap contract as the plain range-predicate
      // join the bucketed plan replaces; spans are floored-epoch-second
      // min/max, matching intervalJoin's cast-long comparisons.
      oracle =
        """WITH a AS (
          |  SELECT user_id, CAST(ts AS DATE) AS a_date,
          |    min(epoch_us(ts) // 1000000) AS a_s,
          |    max(epoch_us(ts) // 1000000) AS a_e
          |  FROM events GROUP BY 1, 2),
          |b AS (
          |  SELECT event_type, CAST(ts AS DATE) AS b_date,
          |    min(epoch_us(ts) // 1000000) AS b_s,
          |    max(epoch_us(ts) // 1000000) AS b_e
          |  FROM events GROUP BY 1, 2)
          |SELECT a.user_id, b.event_type, a.a_date AS date,
          |  least(a.a_e, b.b_e) - greatest(a.a_s, b.b_s) AS overlap_secs
          |FROM a JOIN b ON a.a_s <= b.b_e AND b.b_s <= a.a_e""".stripMargin))
}
