package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.functions.TimeParse
import graft.ingest.XmlRecordScan
import graft.operators._

/** The reference's stage 1→4 dataflow composed from the engine's
  * operators, producing the reference's OUTPUT CONTRACTS
  * (FIXTURES.md F4): `daily_cardio`, `daily_sleep`, `daily_activity`,
  * `features_daily_unified`, `features_daily_labeled`, `segment_autolog`.
  *
  * A user of the reference points this at the same extracted inputs
  * (Apple export.xml + Zepp cloud CSVs) and gets the same daily tables —
  * computed as distributed DataFrame transformations instead of
  * single-process pandas. Stage boundaries the reference materializes
  * stay materializable (every method returns the contract DataFrame).
  *
  * Reference trace: SURVEY §3.1 (`scripts/run_full_pipeline.py` stages
  * 1-4); per-operator citations in the called modules.
  */
object ReferencePipeline {

  val HrType = "HKQuantityTypeIdentifierHeartRate"
  val HrvType = "HKQuantityTypeIdentifierHeartRateVariabilitySDNN"
  val SleepType = "HKCategoryTypeIdentifierSleepAnalysis"
  val StepsType = "HKQuantityTypeIdentifierStepCount"
  val DistanceType = "HKQuantityTypeIdentifierDistanceWalkingRunning"
  val EnergyType = "HKQuantityTypeIdentifierActiveEnergyBurned"

  /** Apple XML HR daily — exact `AppleHealthAggregator.aggregate_heartrate`
    * contract (`src/etl/stage_csv_aggregation.py:217-460`): binary-regex
    * record scan, outlier filter 30-220, POPULATION std (np.std), and the
    * reference's LOCAL wall-clock date (offset preserved). Checked 1:1
    * against the reference by tools/reference_parity.py. */
  def appleHrDaily(spark: SparkSession, xmlPath: String): DataFrame =
    XmlRecordScan.records(spark, xmlPath, Seq(HrType))
      .withColumn("v", col("value").try_cast("double"))
      .filter(col("v").isNotNull && col("v").between(30, 220))
      .groupBy(col("wall_date").as("date"))
      .agg(
        avg("v").as("hr_mean"), min("v").as("hr_min"), max("v").as("hr_max"),
        stddev_pop("v").as("hr_std"), count(lit(1)).as("hr_samples"))

  /** Apple XML HRV daily — exact `aggregate_hrv` contract
    * (`src/etl/stage_csv_aggregation.py:516-624`): outliers 5-300, exact
    * median (np.median = linear midpoint), wall-clock dates.
    * Checked 1:1 by tools/reference_parity.py. */
  def appleHrvDaily(spark: SparkSession, xmlPath: String): DataFrame =
    XmlRecordScan.records(spark, xmlPath, Seq(HrvType))
      .withColumn("v", col("value").try_cast("double"))
      .filter(col("v").isNotNull && col("v").between(5, 300))
      .groupBy(col("wall_date").as("date"))
      .agg(
        avg("v").as("hrv_sdnn_mean"),
        percentile(col("v"), lit(0.5)).as("hrv_sdnn_median"),
        min("v").as("hrv_sdnn_min"), max("v").as("hrv_sdnn_max"),
        count(lit(1)).as("n_hrv_sdnn"))

  /** Apple XML sleep daily — exact `aggregate_sleep` contract
    * (`src/etl/stage_csv_aggregation.py:162-215`): per-record minutes
    * split asleep-vs-inbed ("asleep" wins, elif "bed"), NO positive-
    * duration filter, quality = asleep/inbed*100 clipped 0-100 with the
    * reference's division edge cases (asleep>0 & inbed=0 -> inf -> 100;
    * asleep=0 -> 0). Wall-clock dates.
    * Checked 1:1 by tools/reference_parity.py. */
  def appleSleepDailyExact(spark: SparkSession, xmlPath: String): DataFrame = {
    val lv = lower(col("value"))
    val mins = (unix_timestamp(col("end_ts")) - unix_timestamp(col("start_ts"))) / 60.0
    XmlRecordScan.records(spark, xmlPath, Seq(SleepType))
      .filter(col("start_ts").isNotNull && col("end_ts").isNotNull)
      .groupBy(col("wall_date").as("date"))
      .agg(
        sum(when(lv.contains("asleep"), mins).otherwise(0.0))
          .as("total_sleep_minutes"),
        sum(when(!lv.contains("asleep") && lv.contains("bed"), mins).otherwise(0.0))
          .as("in_bed_minutes"))
      .select(
        col("date"),
        (col("total_sleep_minutes") / 60.0).as("sleep_hours"),
        when(col("total_sleep_minutes") > 0,
          when(col("in_bed_minutes") === 0, lit(100.0))
            .otherwise(Labels.clip(
              col("total_sleep_minutes") / col("in_bed_minutes") * 100.0, 0, 100)))
          .otherwise(lit(0.0)).as("sleep_quality_score"),
        col("total_sleep_minutes"))
  }

  /** Apple XML activity daily — exact `aggregate_activity` contract
    * (`src/etl/stage_csv_aggregation.py:655-709`): per-type daily sums of
    * steps/distance/energy, wall-clock dates, unparsable values skipped.
    * Checked 1:1 by tools/reference_parity.py. */
  def appleActivityDailyExact(spark: SparkSession, xmlPath: String): DataFrame =
    XmlRecordScan.records(spark, xmlPath, Seq(StepsType, DistanceType, EnergyType))
      .withColumn("v", col("value").try_cast("double"))
      .filter(col("v").isNotNull)
      .groupBy(col("wall_date").as("date"))
      .agg(
        sum(when(col("record_type") === StepsType, col("v")).otherwise(0.0))
          .as("total_steps"),
        sum(when(col("record_type") === DistanceType, col("v")).otherwise(0.0))
          .as("total_distance"),
        sum(when(col("record_type") === EnergyType, col("v")).otherwise(0.0))
          .as("total_active_energy"))

  /** Stage 1 input — the one `export.xml` scan the three Apple daily
    * builders share: every record of the six types they read, reduced to
    * the columns they read. Each builder routes its own `record_type`s out
    * of this frame, so a snapshot run reads the file once (materialize the
    * result before handing it to more than one builder). */
  def appleRecords(spark: SparkSession, xmlPath: String): DataFrame =
    XmlRecordScan.records(spark, xmlPath,
        Seq(HrType, HrvType, SleepType, StepsType, DistanceType, EnergyType))
      .select("record_type", "value", "start_ts", "end_ts", "wall_date")

  /** Stage 1a — Apple `daily_cardio`: HR (pop-std, F2 outliers 30-220) ⟗
    * HRV (exact median, F3 outliers 5-300) on date.
    * Contract: date, hr_mean, hr_min, hr_max, hr_std, hr_samples,
    * hrv_sdnn_mean, hrv_sdnn_median, hrv_sdnn_min, hrv_sdnn_max,
    * n_hrv_sdnn (`src/etl/stage_csv_aggregation.py:254-260,784-789`). */
  def appleDailyCardio(records: DataFrame): DataFrame = {
    // each side keeps only its own record_type below
    val numeric = records
      .withColumn("v", col("value").try_cast("double"))
      .filter(col("v").isNotNull)
    // wall_date, not to_date(start_ts): the reference dates Apple XML
    // records by LOCAL wall-clock (parity-pinned in appleHrDaily)
    val hr = DailyAgg.dailyStatsBy(
      DailyAgg.outlierFilter(numeric.filter(col("record_type") === HrType), "v", 30, 220),
      col("wall_date"), "v")
      .select(col("date"),
        round(col("v_mean"), 6).as("hr_mean"), col("v_min").as("hr_min"),
        col("v_max").as("hr_max"), round(col("v_std"), 6).as("hr_std"),
        col("n_samples").as("hr_samples"))
    val hrv = DailyAgg.dailyPercentilesBy(
      DailyAgg.outlierFilter(numeric.filter(col("record_type") === HrvType), "v", 5, 300),
      col("wall_date"), "v")
      .select(col("date"),
        round(col("v_mean"), 6).as("hrv_sdnn_mean"),
        round(col("v_median"), 6).as("hrv_sdnn_median"),
        col("v_min").as("hrv_sdnn_min"), col("v_max").as("hrv_sdnn_max"),
        col("n").as("n_hrv_sdnn"))
    hr.join(hrv, Seq("date"), "full_outer")
  }

  /** Stage 1b — Apple `daily_sleep` from sleep-analysis intervals:
    * asleep-vs-inbed split sums, quality = asleep/inbed clipped 0-100.
    * Contract: date, sleep_hours, sleep_quality_score,
    * total_sleep_minutes (`src/etl/stage_csv_aggregation.py:162-215`). */
  def appleDailySleep(records: DataFrame): DataFrame = {
    // wall-clock dates, NO positive-duration filter — both per the
    // reference (`aggregate_sleep` keeps zero/negative intervals and
    // local dates; parity-pinned in appleSleepDailyExact)
    val iv = records
      .filter(col("record_type") === SleepType)
      .withColumn("mins",
        (unix_timestamp(col("end_ts")) - unix_timestamp(col("start_ts"))) / 60.0)
      .filter(col("start_ts").isNotNull && col("end_ts").isNotNull)
    iv.groupBy(col("wall_date").as("date"))
      .agg(
        round(sum(when(col("value").contains("Asleep"), col("mins")).otherwise(0.0)), 6)
          .as("asleep_min"),
        round(sum(when(col("value").contains("InBed"), col("mins")).otherwise(0.0)), 6)
          .as("inbed_min"))
      .select(
        col("date"),
        round(col("asleep_min") / 60.0, 6).as("sleep_hours"),
        round(when(col("inbed_min") > 0,
          least(greatest(col("asleep_min") / col("inbed_min") * 100.0, lit(0.0)),
            lit(100.0))), 6).as("sleep_quality_score"),
        col("asleep_min").as("total_sleep_minutes"))
  }

  /** Stage 1c — Apple `daily_activity`: sums of steps/distance/energy.
    * Contract: date, total_steps, total_distance, total_active_energy. */
  def appleDailyActivity(records: DataFrame): DataFrame =
    records
      .filter(col("record_type").isin(StepsType, DistanceType, EnergyType))
      .withColumn("v", col("value").try_cast("double"))
      .filter(col("v").isNotNull)
      .groupBy(col("wall_date").as("date"))
      .agg(
        round(sum(when(col("record_type") === StepsType, col("v")).otherwise(0.0)), 6)
          .as("total_steps"),
        round(sum(when(col("record_type") === DistanceType, col("v")).otherwise(0.0)), 6)
          .as("total_distance"),
        round(sum(when(col("record_type") === EnergyType, col("v")).otherwise(0.0)), 6)
          .as("total_active_energy"))

  /** Stage 1d — Zepp daily cardio from HEARTRATE CSVs (sample std —
    * the reference's pandas default at this call site, SURVEY A2 note). */
  def zeppDailyCardio(csv: DataFrame): DataFrame = {
    val parsed = csv
      .withColumn("ts", TimeParse.parseTimestamp(col("time")))
      .withColumn("v", col("heartRate").try_cast("double"))
      .filter(col("ts").isNotNull && col("v").isNotNull)
    DailyAgg.outlierFilter(parsed, "v", 30, 220)
      .groupBy(to_date(col("ts")).as("date"))
      .agg(
        round(avg("v"), 6).as("hr_mean"), min("v").as("hr_min"),
        max("v").as("hr_max"), round(stddev_samp("v"), 6).as("hr_std"),
        count(lit(1)).as("hr_samples"))
  }

  /** `_maybe_col` (`src/domains/parse_zepp_export.py:96,218,246`): the
    * first candidate name present in the frame's columns. */
  def maybeCol(df: DataFrame, candidates: Seq[String]): Option[String] =
    candidates.find(df.columns.contains)

  private def emptyDaily(spark: org.apache.spark.sql.SparkSession,
                         cols: Seq[String]): DataFrame =
    spark.sql(("SELECT CAST(NULL AS DATE) AS date" +
      cols.map(c => s", CAST(NULL AS DOUBLE) AS $c").mkString).trim).limit(0)

  /** Zepp BODY daily (`parse_zepp_export.py:211-235`): first-present
    * timestamp / weight / bodyfat candidates, local wall-clock date via
    * the TZ cutover, daily means -> `zepp_weight_kg` /
    * `zepp_bodyfat_pct`. Missing timestamp or both value columns yields
    * the reference's empty default frame. */
  def zeppBodyDaily(body: DataFrame, cutover: String, tzBefore: String,
                    tzAfter: String): DataFrame = {
    val ts = maybeCol(body, Seq("timestamp", "time", "dateTime", "measureTime",
      "startTime", "date"))
    val w = maybeCol(body, Seq("weight", "weight_kg", "body_weight"))
    val bf = maybeCol(body, Seq("bodyfat", "body_fat", "bodyfat_pct", "fat_rate"))
    if (ts.isEmpty || (w.isEmpty && bf.isEmpty))
      emptyDaily(body.sparkSession, Seq("zepp_weight_kg", "zepp_bodyfat_pct"))
    else {
      val localDate = to_date(TimeParse.tzCutover(
        TimeParse.parseTimestamp(col(ts.get).cast("string")), cutover, tzBefore, tzAfter))
      val aggs =
        w.map(c => avg(TimeParse.toNumeric(col(c))).as("zepp_weight_kg")).toSeq ++
          bf.map(c => avg(TimeParse.toNumeric(col(c))).as("zepp_bodyfat_pct")).toSeq
      body.groupBy(localDate.as("date")).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Zepp HEALTH_DATA daily (`parse_zepp_export.py:237-291`): spo2 / temp
    * / stress daily means (`zepp_spo2_mean`, `zepp_temp_mean`,
    * `zepp_stress_mean`). The reference groups each present metric
    * separately and outer-merges the pieces — over the same source rows
    * that is exactly one grouped aggregation, so it is computed as one
    * (absent metrics contribute no column, as in the reference). */
  def zeppHealthDaily(hdata: DataFrame, cutover: String, tzBefore: String,
                      tzAfter: String): DataFrame = {
    val ts = maybeCol(hdata, Seq("timestamp", "time", "dateTime", "startTime",
      "measureTime", "date"))
    val metrics = Seq(
      "zepp_spo2_mean" -> maybeCol(hdata,
        Seq("spo2", "blood_oxygen", "oxygensaturation", "saturation")),
      "zepp_temp_mean" -> maybeCol(hdata,
        Seq("temp", "temperature", "skin_temp", "skin_temperature",
          "body_temperature")),
      "zepp_stress_mean" -> maybeCol(hdata,
        Seq("stress", "stress_score", "mental_stress")))
      .collect { case (out, Some(src)) => out -> src }
    if (ts.isEmpty || metrics.isEmpty)
      emptyDaily(hdata.sparkSession,
        Seq("zepp_spo2_mean", "zepp_temp_mean", "zepp_stress_mean"))
    else {
      val localDate = to_date(TimeParse.tzCutover(
        TimeParse.parseTimestamp(col(ts.get).cast("string")), cutover, tzBefore, tzAfter))
      val aggs = metrics.map { case (out, src) =>
        avg(TimeParse.toNumeric(col(src))).as(out)
      }
      hdata.groupBy(localDate.as("date")).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The legacy Zepp consolidation (`parse_zepp_export.py:293-305`,
    * `src/domains/zepp_join.py:33-44` `_merge_on_date`): progressive
    * outer merge of the per-domain daily frames on `date` — HR, sleep,
    * activity, BODY and HEALTH all fold here. Inputs are daily-unique
    * (each is a groupBy-date aggregate), so the spine + left joins is
    * exactly the reference's outer-merge + last-wins dedup. Empty frames
    * are skipped as the reference does. */
  def zeppDailyFeatures(frames: Seq[DataFrame]): DataFrame = {
    val nonEmpty = frames.filter(_.head(1).nonEmpty)
    require(nonEmpty.nonEmpty, "zeppDailyFeatures: no non-empty domain frames")
    Unify.unifyAll(nonEmpty)
  }

  /** Stage 2 — unify: date spine over domains, left joins, Apple>Zepp
    * cardio coalesce-merge with provenance, missing flags.
    * Contract shape: `features_daily_unified`
    * (`src/etl/stage_unify_daily.py:418-490`). */
  def unifyDaily(appleCardio: DataFrame, zeppCardio: DataFrame, sleep: DataFrame,
                 activity: DataFrame): DataFrame = {
    val cardio = Unify.coalesceMerge(
      appleCardio.select("date", "hr_mean", "hr_std", "hr_samples"),
      zeppCardio.select("date", "hr_mean", "hr_std", "hr_samples"),
      Seq("hr_mean", "hr_std", "hr_samples"), "cardio")
    val unified = Unify.unifyAll(Seq(
      cardio, sleep.select("date", "sleep_hours", "sleep_quality_score"),
      activity.select("date", "total_steps", "total_active_energy")))
    unified
      .withColumn("missing_sleep", when(col("sleep_hours").isNull, 1).otherwise(0))
      .withColumn("missing_activity", when(col("total_steps").isNull, 1).otherwise(0))
  }

  /** Stage 3+4 — segment + PBSI label. Proxies mirror the reference's
    * `_normalize_column_names_for_pbsi` (hrv ≈ 2*hr_std, exercise ≈
    * kcal/5, `src/etl/stage_apply_labels.py:84-165`). Output adds
    * segment_id, z_*, subscores, pbsi_score, label_3cls/2cls,
    * pbsi_quality. */
  def labelDaily(unified: DataFrame): DataFrame = {
    val participant = lit("P000001")
    val withProxies = unified
      .withColumn("pid", participant)
      .withColumn("hrv_proxy", col("hr_std") * 2.0)
      .withColumn("exercise_proxy", col("total_active_energy") / 5.0)
    val segmented = Segmentation.segmentDays(withProxies, "pid", "date")
    val z = Labels.groupZScores(segmented, Seq("pid", "segment_id"),
      Seq("sleep_hours", "sleep_quality_score", "hr_mean", "hrv_proxy",
        "total_steps", "exercise_proxy"))
    val composite = Labels.weightedComposite(z,
      Map(
        "sleep_sub" -> Seq("z_sleep_hours" -> 0.6, "z_sleep_quality_score" -> 0.4),
        "cardio_sub" -> Seq("z_hr_mean" -> -0.5, "z_hrv_proxy" -> 0.6),
        "activity_sub" -> Seq("z_total_steps" -> 0.7, "z_exercise_proxy" -> 0.3)),
      Seq("sleep_sub" -> 0.40, "cardio_sub" -> 0.35, "activity_sub" -> 0.25),
      "pbsi_score")
    val labeled = Labels.twoPassPercentileLabel(composite, "pbsi_score", 0.25, 0.75)
    labeled.withColumn("pbsi_quality",
      round(Labels.qualityFactor(Seq(
        col("missing_sleep") === 1,
        col("source_cardio") === "none",
        col("missing_activity") === 1)), 6))
  }

  /** AutoExport meds daily (`load_autoexport_meds_daily`,
    * `src/domains/meds/meds_from_extracted.py:244-343`): parse mixed-offset
    * Date to a UTC date string, keep date <= snapshot, Status == "Taken",
    * Dosage coerced (null -> 0), then the daily rollup contract
    * (med_any, med_event_count, med_dose_total, med_names, med_sources).
    * Checked 1:1 against the reference implementation by
    * tools/reference_parity.py. */
  def medsDaily(meds: DataFrame, snapshot: String): DataFrame =
    meds
      .withColumn("date",
        date_format(TimeParse.parseTimestamp(col("Date")), "yyyy-MM-dd"))
      .filter(col("date").isNotNull && col("date") <= snapshot)
      .filter(col("Status") === "Taken")
      .withColumn("dosage", coalesce(col("Dosage").try_cast("double"), lit(0.0)))
      .groupBy("date")
      .agg(
        count(col("Medication")).as("med_event_count"),
        sum(col("dosage")).as("med_dose_total"),
        array_join(array_sort(collect_set(col("Medication"))), ", ").as("med_names"))
      .select(col("date"), lit(1).as("med_any"), col("med_event_count"),
        col("med_dose_total"), col("med_names"), lit("AutoExport").as("med_sources"))

  /** AutoExport State-of-Mind daily (`SoMAggregator.aggregate_daily`,
    * `src/domains/som/som_from_autoexport.py:308-392`). Semantics pinned
    * per call site: SoM keeps LOCAL WALL-CLOCK time (the reference's
    * parse_timestamp DROPS the offset — unlike meds, which converts to
    * UTC); mean/last over non-null valence (last by timestamp); dominant
    * Kind = most frequent with ties to the earliest first occurrence
    * (Counter insertion order); pipe-split label/association unions,
    * sorted, ", "-joined; 3-class on the UNROUNDED mean at ±0.25.
    * Checked 1:1 against the reference by tools/reference_parity.py. */
  def somDaily(som: DataFrame, snapshot: Option[String]): DataFrame = {
    val naive = regexp_replace(col("Start"), "\\s*[+-]\\d{2}:?\\d{2}$", "")
    val parsed = coalesce(
      try_to_timestamp(naive, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(naive, lit("yyyy-MM-dd'T'HH:mm:ss")))
    val withTs = som.withColumn("_ts", parsed)
      .filter(col("_ts").isNotNull)
      .withColumn("date", date_format(col("_ts"), "yyyy-MM-dd"))
    val cut = snapshot.fold(withTs)(s => withTs.filter(col("date") <= s))
      .withColumn("_v", col("Valence").try_cast("double"))

    val main = cut.groupBy("date").agg(
      avg(col("_v")).as("_mean_raw"),
      max_by(col("_v"), when(col("_v").isNotNull, col("_ts"))).as("som_last_score_raw"),
      count(lit(1)).as("som_n_entries"))
    val kinds = cut.filter(col("Kind").isNotNull)
      .groupBy("date", "Kind")
      .agg(count(lit(1)).as("kcnt"), min("_ts").as("kfirst"))
      .groupBy("date")
      .agg(max_by(col("Kind"),
        struct(col("kcnt"), lit(0L) - unix_timestamp(col("kfirst"))))
        .as("som_kind_dominant"))
    def union(colName: String, out: String) = cut
      .select(col("date"), explode_outer(split(col(colName), "\\|")).as("item"))
      .withColumn("item", trim(col("item")))
      .filter(col("item").isNotNull && col("item") =!= "")
      .groupBy("date")
      .agg(array_join(array_sort(collect_set(col("item"))), ", ").as(out))

    main
      .join(kinds, Seq("date"), "left")
      .join(union("Labels", "som_labels"), Seq("date"), "left")
      .join(union("Associations", "som_associations"), Seq("date"), "left")
      .select(
        col("date"),
        round(col("_mean_raw"), 6).as("som_mean_score"),
        round(col("som_last_score_raw"), 6).as("som_last_score"),
        col("som_n_entries"),
        when(col("_mean_raw").isNull, 0)
          .when(col("_mean_raw") <= -0.25, -1)
          .when(col("_mean_raw") >= 0.25, 1)
          .otherwise(0).as("som_category_3class"),
        coalesce(col("som_kind_dominant"), lit("")).as("som_kind_dominant"),
        coalesce(col("som_labels"), lit("")).as("som_labels"),
        coalesce(col("som_associations"), lit("")).as("som_associations"))
  }

  // ---------------------------------------------------------------------
  // Stage 2 full — the `DailyUnifier.unify_all` contract
  // (`src/etl/stage_unify_daily.py:56-490`): per-domain vendor fusion
  // (sleep prefer-by-date, cardio mean-merge + Apple-only HRV re-join,
  // activity sum-merge, meds static-priority vendor, SoM pass-through),
  // then a date spine over ALL five domains with chained left joins —
  // including the med_*/som_* columns stage 5's F7 filter reads.
  // ---------------------------------------------------------------------

  private val HrCols = Seq("hr_mean", "hr_min", "hr_max", "hr_std", "hr_samples")
  private val HrvCols = Seq("hrv_sdnn_mean", "hrv_sdnn_median", "hrv_sdnn_min",
    "hrv_sdnn_max", "n_hrv_sdnn")

  private def padMissing(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filterNot(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, lit(null).cast("double")))

  /** `unify_sleep` (`stage_unify_daily.py:98-126`): Apple rows win, Zepp
    * fills dates Apple lacks (J3 prefer-by-date), then the 3-column
    * contract. Either side may be absent. */
  def unifySleepDomains(apple: Option[DataFrame], zepp: Option[DataFrame]): Option[DataFrame] = {
    val out = Seq("date", "sleep_hours", "sleep_quality_score")
    val merged = (apple, zepp) match {
      case (Some(a), Some(z)) => Some(Unify.preferByDate(
        a.select(out.map(col): _*), z.select(out.map(col): _*)))
      case (a, z) => a.orElse(z).map(_.select(out.map(col): _*))
    }
    merged.map(_.dropDuplicates("date"))
  }

  /** `unify_cardio` (`stage_unify_daily.py:127-197`): HR columns are
    * vendor-averaged per date (both-present days), HRV is Apple-only and
    * re-joined OUTER so HRV-only days survive; absent columns are
    * null-padded for schema consistency. */
  def unifyCardioDomains(apple: Option[DataFrame], zepp: Option[DataFrame]): Option[DataFrame] = {
    def hrPart(df: DataFrame) =
      df.select(("date" +: HrCols.filter(df.columns.contains)).map(col): _*)
    val merged = (apple, zepp) match {
      case (Some(a), Some(z)) =>
        val combined = hrPart(a).unionByName(hrPart(z), allowMissingColumns = true)
        // pandas builds agg_dict only from columns present in the concat
        val present = HrCols.filter(combined.columns.contains)
        val hr = combined.groupBy("date")
          .agg(avg(present.head).as(present.head),
            present.tail.map(c => avg(c).as(c)): _*)
        val hrvPresent = HrvCols.filter(a.columns.contains)
        val withHrv =
          if (hrvPresent.nonEmpty)
            hr.join(a.select(("date" +: hrvPresent).map(col): _*), Seq("date"), "full_outer")
          else hr
        Some(withHrv)
      case (Some(a), None) =>
        Some(a.select(("date" +: (HrCols ++ HrvCols).filter(a.columns.contains)).map(col): _*))
      case (None, Some(z)) => Some(hrPart(z))
      case _ => None
    }
    merged.map(padMissing(_, HrCols ++ HrvCols))
  }

  /** `unify_activity` (`stage_unify_daily.py:199-232`): both-present →
    * concat + per-date SUM (pandas sum treats an all-NaN group as 0.0, so
    * the merged branch coalesces); single vendor passes through. */
  def unifyActivityDomains(apple: Option[DataFrame], zepp: Option[DataFrame]): Option[DataFrame] = {
    val metrics = Seq("total_steps", "total_distance", "total_active_energy")
    val out = "date" +: metrics
    (apple, zepp) match {
      case (Some(a), Some(z)) =>
        Some(a.select(out.map(col): _*)
          .unionByName(z.select(out.map(col): _*))
          .groupBy("date")
          .agg(coalesce(sum(metrics.head), lit(0.0)).as(metrics.head),
            metrics.tail.map(c => coalesce(sum(c), lit(0.0)).as(c)): _*))
      case (a, z) => a.orElse(z).map(_.select(out.map(col): _*))
    }
  }

  /** `unify_meds` (`stage_unify_daily.py:272-357`): J7 static-priority
    * vendor selection (apple_export > apple_autoexport > zepp_cloud,
    * `source_prioritizer.py:29-35`), essential + present-optional columns,
    * `med_vendor` provenance. Candidates are (vendorKey, frame) in any
    * order; priority is imposed here. */
  def unifyMedsDomain(candidates: Seq[(String, DataFrame)]): Option[DataFrame] = {
    val priority = Seq("apple_export", "apple_autoexport", "zepp_cloud")
    val ordered = priority.flatMap(p => candidates.find(_._1 == p))
    Folds.firstNonEmpty(ordered).map { case (vendor, df) =>
      val optional = Seq("med_dose_total", "med_names", "med_sources")
        .filter(df.columns.contains)
      df.select((Seq("date", "med_any", "med_event_count") ++ optional).map(col): _*)
        .withColumn("med_vendor", lit(vendor))
        .dropDuplicates("date")
    }
  }

  /** `unify_som` (`stage_unify_daily.py:358-416`): essential +
    * present-optional columns, vendor pinned to apple_autoexport (the only
    * SoM source). */
  def unifySomDomain(som: Option[DataFrame]): Option[DataFrame] =
    som.filter(_.head(1).nonEmpty).map { df =>
      val optional = Seq("som_kind_dominant", "som_labels", "som_associations")
        .filter(df.columns.contains)
      df.select((Seq("date", "som_mean_score", "som_last_score", "som_n_entries",
        "som_category_3class") ++ optional).map(col): _*)
        .withColumn("som_vendor", lit("apple_autoexport"))
        .dropDuplicates("date")
    }

  /** `unify_all` (`stage_unify_daily.py:418-490`): date spine over EVERY
    * domain's dates (meds + SoM included), chained left joins in the
    * reference's merge order. NaN is preserved (no forward-fill, v4.1.5).
    * Every join is a broadcast-friendly equi-join on the daily grain. */
  def unifyAllDomains(sleep: Option[DataFrame], cardio: Option[DataFrame],
                      activity: Option[DataFrame], meds: Option[DataFrame],
                      som: Option[DataFrame]): DataFrame = {
    val domains = Seq(sleep, cardio, activity, meds, som).flatten
    require(domains.nonEmpty, "unifyAllDomains: no domain frames present")
    Unify.unifyAll(domains)
  }

  /** Stage 5.1/5.2 — ML-prep gate over the (meds+SoM-fused) unified frame
    * (`scripts/run_full_pipeline.py:806-880`): temporal cutoff
    * (date >= `mlCutoff`, the pre-device-era exclusion), F7 SoM validity
    * filter (som_category_3class non-null AND som_vendor ==
    * apple_autoexport when the column exists), `som_binary` derivation
    * (category == -1), then the F11 anti-leak drop of PBSI intermediates.
    * The reference only WARNS below MIN_SOM_DAYS and proceeds — mirrored
    * (no exception). */
  def mlPrep(unified: DataFrame, mlCutoff: String): DataFrame = {
    val temporal = unified.filter(col("date") >= lit(mlCutoff))
    val vendorOk =
      if (unified.columns.contains("som_vendor"))
        col("som_vendor") === "apple_autoexport"
      else lit(true)
    val gated = temporal
      .filter(col("som_category_3class").isNotNull && vendorOk)
      .withColumn("som_binary", (col("som_category_3class") === -1).cast("int"))
    Impute.antiLeakDrop(gated, Seq("pbsi_quality", "sleep_sub", "cardio_sub",
      "activity_sub", "label_3cls", "label_2cls", "label_clinical"))
  }

  /** The reference's ML7 z-scored feature set and prohibited-predictor
    * list (`src/etl/ml7_analysis.py:79-98`). */
  val ml7FeatureCols: Seq[String] = Seq(
    "z_sleep_total_h", "z_sleep_efficiency", "z_hr_mean", "z_hrv_rmssd",
    "z_hr_max", "z_steps", "z_exercise_min")
  val ml7AntiLeakCols: Seq[String] = Seq(
    "pbsi_score", "pbsi_quality", "sleep_sub", "cardio_sub", "activity_sub",
    "label_2cls", "label_clinical")

  /** ML7 dataset preparation (`src/etl/ml7_analysis.py:101-146`): keep
    * (date, the 7 segment-z-scored canonical features, label_3cls) —
    * label_3cls is the TARGET and survives; every pbsi/subscore/derived-
    * label column is excluded. Fails fast when a required z-feature is
    * missing, and asserts the anti-leak exclusion on the output (the
    * reference's LEAK DETECTED assert). */
  def ml7Features(labeled: DataFrame): DataFrame = {
    val missing = ml7FeatureCols.filterNot(labeled.columns.contains)
    require(missing.isEmpty,
      s"ml7Features: missing required z-features: ${missing.mkString(", ")}")
    val out = labeled.select(("date" +: ml7FeatureCols :+ "label_3cls").map(col): _*)
    val leaked = ml7AntiLeakCols.filter(out.columns.contains)
    require(leaked.isEmpty, s"LEAK DETECTED: ${leaked.mkString(", ")}")
    out
  }

  /** PBSI from an already-unified daily frame carrying the reference's
    * canonical feature names + segment_id + missing flags — the
    * `build_pbsi_labels` contract (`src/labels/build_pbsi.py:191-253`)
    * with percentile thresholds. Checked 1:1 against the reference by
    * tools/reference_parity.py. */
  def pbsiFromUnified(unified: DataFrame): DataFrame = {
    val z = Labels.groupZScores(unified, Seq("segment_id"),
      Seq("sleep_total_h", "sleep_efficiency", "hr_mean", "hrv_rmssd",
        "hr_max", "steps", "exercise_min"))
    val composite = Labels.weightedComposite(z,
      Map(
        "sleep_sub" -> Seq("z_sleep_total_h" -> 0.6, "z_sleep_efficiency" -> 0.4),
        "cardio_sub" -> Seq("z_hr_mean" -> -0.5, "z_hrv_rmssd" -> 0.6,
          "z_hr_max" -> -0.2),
        "activity_sub" -> Seq("z_steps" -> 0.7, "z_exercise_min" -> 0.3)),
      Seq("sleep_sub" -> 0.40, "cardio_sub" -> 0.35, "activity_sub" -> 0.25),
      "pbsi_score")
    Labels.twoPassPercentileLabel(composite, "pbsi_score", 0.25, 0.75)
      .withColumn("pbsi_quality",
        graft.functions.Canon.round(Labels.qualityFactor(Seq(
          col("missing_sleep") === 1, col("missing_cardio") === 1,
          col("missing_activity") === 1)), 6))
  }

  /** Zepp cloud sleep daily (`load_zepp_sleep_daily_from_cloud`,
    * `src/domains/sleep/sleep_from_extracted.py:229-293,435-527,579-607`):
    * the daily-summary format (stage minutes with the whole-column
    * minutes→hours heuristic, float32 casts) and the naps-JSON format
    * (any column holding a JSON array of {start,end}, positive durations
    * summed), dates converted UTC → home_tz, both parts combined by a
    * second per-date sum, zero-total days dropped.
    * Inputs carry canonical names `date, deep_min, light_min, rem_min` /
    * `date, <napsCols...>` (alias resolution = RobustCsv.canonicalize).
    * Checked 1:1 against the reference by tools/reference_parity.py. */
  def zeppSleepDaily(daily: DataFrame, naps: DataFrame, homeTz: String,
                     napsCols: Seq[String],
                     intervals: Option[DataFrame] = None): DataFrame = {
    def localDate(c: org.apache.spark.sql.Column) =
      to_date(from_utc_timestamp(to_timestamp(c), homeTz))

    // C4 two-phase unit heuristic: whole-column max decides minutes vs hours
    val stages = Seq("deep_min", "light_min", "rem_min")
    val maxRow = daily.agg(
      max(col("deep_min").try_cast("double")),
      max(col("light_min").try_cast("double")),
      max(col("rem_min").try_cast("double"))).head()
    def hoursCol(i: Int) = {
      val v = coalesce(col(stages(i)).try_cast("double"), lit(0.0))
      val mx = if (maxRow.isNullAt(i)) 0.0 else maxRow.getDouble(i)
      (if (mx > 24) v / 60.0 else v).cast("float")
    }
    val dailyPart = daily.select(
      localDate(col("date")).as("date"),
      hoursCol(0).as("zepp_slp_deep_h"),
      hoursCol(1).as("zepp_slp_light_h"),
      hoursCol(2).as("zepp_slp_rem_h"))
      .withColumn("zepp_slp_total_h",
        (col("zepp_slp_deep_h") + col("zepp_slp_light_h") + col("zepp_slp_rem_h"))
          .cast("float"))

    // naps: sum positive durations across every naps-like column's array
    val napHours = napsCols.map { c =>
      coalesce(aggregate(
        transform(from_json(col(c), Intervals.napsSchema), n =>
          (unix_timestamp(to_timestamp(n.getField("end"), "yyyy-MM-dd HH:mm:ssZ")) -
            unix_timestamp(to_timestamp(n.getField("start"), "yyyy-MM-dd HH:mm:ssZ")))
            / 3600.0),
        lit(0.0), (acc, h) => acc + when(h > 0, h).otherwise(0.0)), lit(0.0))
    }.reduce(_ + _)
    val napsPart = naps.select(
      localDate(col("date")).as("date"),
      napHours.cast("float").as("zepp_slp_total_h"))
      .withColumn("zepp_slp_deep_h", lit(0.0f))
      .withColumn("zepp_slp_light_h", lit(0.0f))
      .withColumn("zepp_slp_rem_h", lit(0.0f))

    // interval format (`_agg_intervals` fallback path): start/stop rows
    // with a stage column — durations summed per (date, normalized stage)
    // and pivoted; "other" stages count toward the total only.
    val intervalPart = intervals.map { iv =>
      val durH = coalesce(
        (unix_timestamp(to_timestamp(col("stop"))) -
          unix_timestamp(to_timestamp(col("start")))) / 3600.0, lit(0.0))
      val stageNorm = when(lower(col("stage")).contains("deep"), "deep")
        .when(lower(col("stage")).contains("rem"), "rem")
        .when(lower(col("stage")).contains("light"), "light")
        .otherwise("other")
      iv.select(localDate(col("start")).as("date"), durH.as("dur_h"),
          stageNorm.as("sn"))
        .groupBy("date")
        .agg(
          sum("dur_h").as("zepp_slp_total_h"),
          sum(when(col("sn") === "deep", col("dur_h")).otherwise(0.0))
            .as("zepp_slp_deep_h"),
          sum(when(col("sn") === "light", col("dur_h")).otherwise(0.0))
            .as("zepp_slp_light_h"),
          sum(when(col("sn") === "rem", col("dur_h")).otherwise(0.0))
            .as("zepp_slp_rem_h"))
        .filter(col("zepp_slp_total_h") > 0)
    }

    val parts = Seq(dailyPart, napsPart) ++ intervalPart.toSeq
    parts.map(p => p.select(col("date"),
        col("zepp_slp_total_h").cast("double").as("zepp_slp_total_h"),
        col("zepp_slp_deep_h").cast("double").as("zepp_slp_deep_h"),
        col("zepp_slp_light_h").cast("double").as("zepp_slp_light_h"),
        col("zepp_slp_rem_h").cast("double").as("zepp_slp_rem_h")))
      .reduce(_ unionByName _)
      .groupBy("date")
      .agg(
        sum("zepp_slp_total_h").cast("float").as("zepp_slp_total_h"),
        sum("zepp_slp_deep_h").cast("float").as("zepp_slp_deep_h"),
        sum("zepp_slp_light_h").cast("float").as("zepp_slp_light_h"),
        sum("zepp_slp_rem_h").cast("float").as("zepp_slp_rem_h"))
      .filter(col("zepp_slp_total_h") > 0)
      .select("date", "zepp_slp_total_h", "zepp_slp_deep_h",
        "zepp_slp_light_h", "zepp_slp_rem_h")
  }

  /** The `merge_apple_zepp` contract (`src/features/unify_daily
    * .py:153-319`): per-date column-wise coalesce Apple > Zepp over
    * canonical metric names, per-domain provenance, and the reference's
    * exact missing-flag semantics — INCLUDING its quirk that when an
    * Apple row exists for a date, `missing_*` reflects the APPLE side
    * only (a Zepp fill does not clear the flag). Inputs carry canonical
    * names (alias resolution is `RobustCsv.canonicalize`'s job).
    * Checked 1:1 against the reference by tools/reference_parity.py. */
  def unifyCanonical(apple: DataFrame, zepp: DataFrame): DataFrame = {
    val metrics = Seq("sleep_total_h", "sleep_efficiency", "hr_mean", "hr_max",
      "hrv_rmssd", "steps", "exercise_min", "stand_hours", "move_kcal")
    def normEff(c: org.apache.spark.sql.Column) =
      when(c > 1.5, c / 100.0).otherwise(c)
    def side(df: DataFrame, p: String) = {
      val pref = metrics.foldLeft(df)((d, m) => d.withColumnRenamed(m, s"$p$m"))
      pref
        .withColumn(s"${p}sleep_efficiency", normEff(col(s"${p}sleep_efficiency")))
        .withColumn(s"${p}exists", lit(1))
    }
    val a = side(apple, "a_")
    val z = side(zepp, "z_")
    val joined = a.join(z, Seq("date"), "full_outer")
    def anyNotNull(p: String, cols: Seq[String]) =
      cols.map(c => col(s"$p$c").isNotNull).reduce(_ || _)
    def domain(cols: Seq[String], name: String) = {
      val srcExpr =
        when(col("a_exists").isNotNull && anyNotNull("a_", cols), "apple")
          .when(col("z_exists").isNotNull && anyNotNull("z_", cols), "zepp")
          .otherwise("none")
      val missExpr =
        when(col("a_exists").isNotNull,
          when(anyNotNull("a_", cols), 0).otherwise(1))
          .otherwise(when(anyNotNull("z_", cols), 0).otherwise(1))
      (srcExpr.as(s"source_$name"), missExpr.as(s"missing_$name"))
    }
    val (srcSleep, missSleep) = domain(Seq("sleep_total_h", "sleep_efficiency"), "sleep")
    val (srcCardio, missCardio) = domain(Seq("hr_mean", "hr_max", "hrv_rmssd"), "cardio")
    val (srcAct, missAct) =
      domain(Seq("steps", "exercise_min", "stand_hours", "move_kcal"), "activity")
    def fused(m: String) = coalesce(col(s"a_$m"), col(s"z_$m"))
    joined.select(
      col("date"),
      fused("sleep_total_h").as("sleep_total_h"),
      fused("sleep_efficiency").as("sleep_efficiency"),
      fused("hr_mean").as("apple_hr_mean"),
      fused("hr_max").as("apple_hr_max"),
      fused("hrv_rmssd").as("apple_hrv_rmssd"),
      fused("steps").as("steps"),
      fused("exercise_min").as("exercise_min"),
      fused("stand_hours").as("stand_hours"),
      fused("move_kcal").as("move_kcal"),
      srcSleep, missSleep, srcCardio, missCardio, srcAct, missAct)
  }

  /** Stage 4 — `segment_autolog` contract: date_start, date_end, reason,
    * count, duration_days (`scripts/run_full_pipeline.py:704-708`). */
  def segmentAutolog(labeled: DataFrame): DataFrame =
    Segmentation.segmentTable(labeled, "pid", "date")
      .select(col("segment_id"), col("date_start"), col("date_end"),
        col("reason"), col("cnt").as("count"), col("duration_days"))
}
