package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.Sessions
import graft.pipeline.ReferencePipeline

/** Dev harness: run a reference-contract operator on a fixture and
  * dump a single CSV for tools/reference_parity.py to diff against the
  * ACTUAL reference implementation's output on the same fixture.
  * Usage: runMain graft.tools.ParityDump <task> <in> <outCsv> [snapshot],
  * where <task> names one of the cases of the match in `main`.
  */
object ParityDump {

  /** One side of `appleDailyCardio` on `xml`: date and `cols`, without
    * the full-outer rows that only the other side has (`cols.last`, the
    * side's sample count, is null there). */
  private def cardioSide(spark: SparkSession, xml: String, cols: String*): DataFrame =
    ReferencePipeline.appleDailyCardio(ReferencePipeline.appleRecords(spark, xml))
      .filter(col(cols.last).isNotNull)
      .select("date", cols: _*)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ParityDump <task> <in> <out> [snapshot] (task: a case of ParityDump.main)")
    val Array(task, in, out) = args.take(3)
    val spark = Sessions.local(Sessions.cpus)
    val df = task match {
      case "meds" =>
        val csv = spark.read.option("header", "true").csv(in)
        ReferencePipeline.medsDaily(csv, args(3))
      case "pbsi" =>
        val csv = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(in)
        ReferencePipeline.pbsiFromUnified(csv)
          .select("date", "sleep_sub", "cardio_sub", "activity_sub",
            "pbsi_score", "label_3cls", "label_2cls", "pbsi_quality")
      case "som" =>
        val csv = spark.read.option("header", "true").csv(in)
        ReferencePipeline.somDaily(csv,
          if (args.length > 3) Some(args(3)) else None)
      case "unify" =>
        // in = "<appleCsv>,<zeppCsv>"; zepp columns carry vendor aliases
        // resolved by RobustCsv.canonicalize (the reference's find_column).
        val Array(applePath, zeppPath) = in.split(",")
        def read(p: String) = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(p)
        val canonical = Map(
          "sleep_total_h" -> Seq("sleep_total_h", "zepp_slp_total_h"),
          "sleep_efficiency" -> Seq("sleep_eff", "sleep_efficiency", "zepp_slp_eff"),
          "hr_mean" -> Seq("apple_hr_mean", "zepp_hr_mean", "hr_mean"),
          "hr_max" -> Seq("apple_hr_max", "hr_max", "zepp_hr_max"),
          "hrv_rmssd" -> Seq("apple_hrv_rmssd", "zepp_hrv_rmssd", "hrv_rmssd"),
          "steps" -> Seq("steps", "zepp_steps"),
          "exercise_min" -> Seq("exercise_min", "zepp_exercise_min"),
          "stand_hours" -> Seq("stand_hours", "zepp_stand_hours"),
          "move_kcal" -> Seq("move_kcal", "zepp_kcal"))
        def canon(df: org.apache.spark.sql.DataFrame) = {
          val out = graft.ingest.RobustCsv.canonicalize(df, canonical)
          // canonicalize pins absent columns as string-null; re-type
          canonical.keys.foldLeft(out)((d, c) =>
            d.withColumn(c, col(c).cast("double")))
        }
        ReferencePipeline.unifyCanonical(canon(read(applePath)), canon(read(zeppPath)))
      case "applehr" =>
        cardioSide(spark, in, "hr_mean", "hr_min", "hr_max", "hr_std", "hr_samples")
      case "applehrv" =>
        cardioSide(spark, in, "hrv_sdnn_mean", "hrv_sdnn_median", "hrv_sdnn_min",
          "hrv_sdnn_max", "n_hrv_sdnn")
      case "applesleep" =>
        ReferencePipeline.appleSleepDailyExact(spark, in)
      case "appleactivity" =>
        ReferencePipeline.appleDailyActivity(ReferencePipeline.appleRecords(spark, in))
      case "zepphr" =>
        val csv = spark.read.option("header", "true")
          .option("inferSchema", "true").csv(in)
        ReferencePipeline.zeppDailyCardio(csv)
      case "zeppsleep" =>
        // in = "<dailyCsv>,<napsCsv>,<intervalsCsv>,<homeTz>"
        val Array(dailyPath, napsPath, intervalsPath, tz) = in.split(",")
        // escape=" : the naps JSON column uses RFC-4180 doubled quotes
        def read(p: String) = spark.read.option("header", "true")
          .option("escape", "\"").csv(p)
        val dailyCanon = graft.ingest.RobustCsv.canonicalize(read(dailyPath), Map(
          "deep_min" -> Seq("deepSleepTime", "deep_minutes"),
          "light_min" -> Seq("shallowSleepTime", "light_minutes"),
          "rem_min" -> Seq("REMTime", "rem_minutes")))
        ReferencePipeline.zeppSleepDaily(dailyCanon, read(napsPath), tz,
          Seq("naps"), Some(read(intervalsPath)))
      case "unifyall" =>
        // in = extracted dir laid out like the reference's canonical paths:
        // <in>/apple/daily_{sleep,cardio,activity}.csv,
        // <in>/zepp/daily_{sleep,cardio,activity}.csv,
        // <in>/apple/daily_meds_autoexport.csv, <in>/apple/daily_som_autoexport.csv
        def readOpt(p: String): Option[org.apache.spark.sql.DataFrame] = {
          val f = new java.io.File(p)
          if (f.exists())
            Some(spark.read.option("header", "true")
              .option("inferSchema", "true").option("nullValue", "").csv(p))
          else None
        }
        val sleep = ReferencePipeline.unifySleepDomains(
          readOpt(s"$in/apple/daily_sleep.csv"), readOpt(s"$in/zepp/daily_sleep.csv"))
        val cardio = ReferencePipeline.unifyCardioDomains(
          readOpt(s"$in/apple/daily_cardio.csv"), readOpt(s"$in/zepp/daily_cardio.csv"))
        val activity = ReferencePipeline.unifyActivityDomains(
          readOpt(s"$in/apple/daily_activity.csv"), readOpt(s"$in/zepp/daily_activity.csv"))
        val meds = ReferencePipeline.unifyMedsDomain(Seq(
          "apple_export" -> readOpt(s"$in/apple/daily_meds_apple.csv"),
          "apple_autoexport" -> readOpt(s"$in/apple/daily_meds_autoexport.csv"))
          .collect { case (v, Some(df)) => v -> df })
        val som = ReferencePipeline.unifySomDomain(
          readOpt(s"$in/apple/daily_som_autoexport.csv"))
        ReferencePipeline.unifyAllDomains(sleep, cardio, activity, meds, som)
      case "appleactivityfull" =>
        // in = "<xmlPath>,<homeTz>"
        val Array(xml, tz) = in.split(",")
        graft.ingest.XmlRecordScan.appleActivityDaily(spark, xml, tz)
      case "screentime" =>
        // in = "<xmlPath>,<cutover>,<tzBefore>,<tzAfter>"
        val Array(xml, cut, tzB, tzA) = in.split(",")
        graft.ingest.XmlRecordScan.screenTimeDaily(spark, xml, cut, tzB, tzA)
      case "cdaprobe" =>
        graft.ingest.XmlRecordScan.cdaProbe(spark, in)
      case "autoseg" =>
        // in = unified-frame CSV with date + biomarker/source/missing cols;
        // the reference is single-participant so the key is a constant.
        val csv = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(in)
          .withColumn("pid", org.apache.spark.sql.functions.lit("P1"))
        graft.operators.Segmentation.autoSegmentFull(csv, "pid", "date")
          .select("date", "segment_id", "reason", "metric")
      case "zeppjoin" =>
        // in = comma-separated per-domain daily CSVs; the legacy
        // zepp_daily_features consolidation (_merge_on_date).
        val frames = in.split(",").toSeq.map(p =>
          spark.read.option("header", "true").option("inferSchema", "true")
            .option("nullValue", "").csv(p))
        ReferencePipeline.zeppDailyFeatures(frames)
      case "ml7prep" =>
        // in = labeled-daily CSV with z-features + pbsi/label extras;
        // the ML7 z-feature selection + anti-leak exclusion.
        val csv = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(in)
        ReferencePipeline.ml7Features(csv)
      case "folds" =>
        // in = labeled-daily CSV (date, label_3cls); M2 exact — the
        // reference's month-based create_calendar_folds summary.
        val csv = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(in)
          .withColumn("date", col("date").cast("date"))
        graft.operators.Folds.calendarFoldsMonthly(csv, "date", "label_3cls",
            nFolds = 6, trainMonths = 4, valMonths = 2, anchorWindowRows = 180)
          .select(col("fold_id"), col("train_start").cast("string"),
            col("train_end").cast("string"), col("val_start").cast("string"),
            col("val_end").cast("string"), col("n_train"), col("n_val"))
      case "instability" =>
        // in = "<featuresCsv>,<segmentsCsv>"; A15 via range-attach + the
        // variance-across-segment-means operator.
        val Array(featPath, segPath) = in.split(",")
        def read(p: String) = spark.read.option("header", "true")
          .option("inferSchema", "true").option("nullValue", "").csv(p)
        val features = Seq("hr_mean", "sleep_h", "steps")
        val segments = read(segPath)
          .select(col("segment_id"), col("date_start").cast("date"),
            col("date_end").cast("date"))
        val attached = graft.operators.Unify.rangeAttach(
            read(featPath).withColumn("date", col("date").cast("date")),
            "date", segments, "date_start", "date_end")
          .filter(col("segment_id").isNotNull)
        graft.operators.Segmentation.instabilityScores(attached, features)
          .select("feature", "instability")
    }
    graft.core.Sinks.atomicCsv(df, out)
    spark.stop()
  }
}
