package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ingest.XmlRecordScan
import graft.pipeline.ReferencePipeline

/** End-to-end stage 1→4 on a reference-shaped fixture: XML + Zepp CSV in,
  * the reference's daily/unified/labeled/segment contracts out. */
class ReferencePipelineSpec extends SparkTestBase {
  import ReferencePipeline._
  import spark.implicits._

  private def record(t: String, v: String, start: String, end: String) =
    s""" <Record type="$t" sourceName="W" value="$v" startDate="$start +0000" endDate="$end +0000"/>"""

  private def writeXml(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-pipe").toFile
    val f = new java.io.File(dir, "export.xml")
    val w = new java.io.PrintWriter(f, "UTF-8")
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  private lazy val xmlPath: String = {
    val days = (1 to 12).map(d => f"2021-05-$d%02d")
    val lines = Seq("""<HealthData>""") ++ days.zipWithIndex.flatMap { case (d, i) =>
      // HR: baseline 60 bpm, last 4 days shifted to 90 (label contrast)
      val base = if (i < 8) 60 else 90
      (0 until 6).map(h => record(HrType, (base + h).toString,
        s"$d 0$h:00:00", s"$d 0$h:00:00")) ++
        Seq(
          record(HrvType, (40 + i).toString, s"$d 04:00:00", s"$d 04:00:00"),
          record(SleepType, "HKCategoryValueSleepAnalysisAsleep",
            s"$d 01:00:00", s"$d 08:00:00"),
          record(SleepType, "HKCategoryValueSleepAnalysisInBed",
            s"$d 00:30:00", s"$d 08:30:00"),
          record(StepsType, (8000 + 100 * i).toString, s"$d 12:00:00", s"$d 12:10:00"),
          record(EnergyType, "500", s"$d 13:00:00", s"$d 13:30:00"))
    } ++ Seq("</HealthData>")
    writeXml(lines)
  }

  private lazy val records = appleRecords(spark, xmlPath)

  private lazy val zeppCsv = Seq(
    ("2021-05-13 08:00:00+0000", "70.0"), // a day Apple doesn't cover
    ("2021-05-13 09:00:00+0000", "74.0"))
    .toDF("time", "heartRate")

  test("stage 1: daily contracts carry the reference schemas and values") {
    val cardio = appleDailyCardio(records)
    assert(cardio.columns.toSeq === Seq("date", "hr_mean", "hr_min", "hr_max",
      "hr_std", "hr_samples", "hrv_sdnn_mean", "hrv_sdnn_median", "hrv_sdnn_min",
      "hrv_sdnn_max", "n_hrv_sdnn"))
    val d1 = cardio.orderBy("date").head()
    assert(d1.getAs[Double]("hr_mean") === 62.5) // mean of 60..65
    assert(d1.getAs[Long]("hr_samples") === 6L)
    val sleep = appleDailySleep(records).orderBy("date").head()
    assert(sleep.getAs[Double]("sleep_hours") === 7.0)
    assert(math.abs(sleep.getAs[Double]("sleep_quality_score") - 420.0 / 480.0 * 100) < 1e-6)
    val act = appleDailyActivity(records).orderBy("date").head()
    assert(act.getAs[Double]("total_steps") === 8000.0)
  }

  test("stage 1 routing: one scan feeds each domain, two elements on one line") {
    // SURVEY §7.5.7: an HR and a sleep element share a physical line; the
    // steps record sits on another day, so a builder that took a foreign
    // record_type would gain a day
    val path = writeXml(Seq("<HealthData>",
      record(HrType, "70", "2021-06-01 09:00:00", "2021-06-01 09:00:00") +
        record(SleepType, "HKCategoryValueSleepAnalysisAsleep",
          "2021-06-01 01:00:00", "2021-06-01 07:00:00"),
      record(HrType, "80", "2021-06-01 10:00:00", "2021-06-01 10:00:00"),
      record(StepsType, "1000", "2021-06-02 12:00:00", "2021-06-02 12:10:00"),
      "</HealthData>"))
    val routed = appleRecords(spark, path)
    for (t <- Seq(HrType, SleepType, StepsType)) {
      val perDomain = XmlRecordScan.records(spark, path, Seq(t))
        .select(routed.columns.map(col): _*).collect().toSet
      assert(perDomain.nonEmpty)
      assert(routed.filter(col("record_type") === t).collect().toSet === perDomain, t)
    }
    val cardio = appleDailyCardio(routed).collect()
    assert(cardio.map(_.getAs[java.sql.Date]("date").toString).toSeq === Seq("2021-06-01"))
    assert(cardio.head.getAs[Double]("hr_mean") === 75.0)
    assert(cardio.head.getAs[Long]("hr_samples") === 2L)
    val sleep = appleDailySleep(routed).collect()
    assert(sleep.map(_.getAs[java.sql.Date]("date").toString).toSeq === Seq("2021-06-01"))
    assert(sleep.head.getAs[Double]("sleep_hours") === 6.0)
    val act = appleDailyActivity(routed).collect()
    assert(act.map(_.getAs[java.sql.Date]("date").toString).toSeq === Seq("2021-06-02"))
    assert(act.head.getAs[Double]("total_steps") === 1000.0)
  }

  test("stage 1 activity: a day whose every activity value is unparsable has no row") {
    // The engine's contract: records whose value fails the double cast
    // are dropped before the daily sums, so a day with no parsable step,
    // distance or energy value yields no daily_activity row (not a row
    // of 0.0 or null totals). What the reference writes for such a day
    // is unverified: no reference-parity fixture has one.
    val path = writeXml(Seq("<HealthData>",
      record(StepsType, "1200", "2021-06-01 12:00:00", "2021-06-01 12:10:00"),
      record(StepsType, "bogus", "2021-06-02 12:00:00", "2021-06-02 12:10:00"),
      record(DistanceType, "n/a", "2021-06-02 12:00:00", "2021-06-02 12:10:00"),
      record(EnergyType, "", "2021-06-02 13:00:00", "2021-06-02 13:30:00"),
      "</HealthData>"))
    val act = appleDailyActivity(appleRecords(spark, path)).collect()
    assert(act.map(_.getAs[java.sql.Date]("date").toString).toSeq === Seq("2021-06-01"))
    assert(act.head.getAs[Double]("total_steps") === 1200.0)
  }

  /** Stage 2 as the snapshot run composes it: per-domain vendor fusion,
    * then `unifyAllDomains`' date spine. */
  private def unified = unifyAllDomains(
    unifySleepDomains(Some(appleDailySleep(records)), None),
    unifyCardioDomains(Some(appleDailyCardio(records)),
      Some(zeppDailyCardio(zeppCsv))),
    unifyActivityDomains(Some(appleDailyActivity(records)), None),
    None, None)

  test("stage 2: unify fuses vendors with provenance and fills Zepp-only days") {
    // the provenance flags are derived by labelDaily, their only reader
    val labeled = labelDaily(unified)
    assert(unified.count() === 13) // 12 Apple days + 1 Zepp-only day
    val day = (d: String) => labeled.filter(col("date") === lit(d).cast("date")).head()
    val zeppDay = day("2021-05-13")
    assert(zeppDay.getAs[String]("source_cardio") === "merged")
    assert(zeppDay.getAs[Double]("hr_mean") === 72.0)
    assert(zeppDay.getAs[Int]("missing_sleep") === 1)
    val appleDay = day("2021-05-01")
    assert(appleDay.getAs[String]("source_cardio") === "merged")
  }

  test("stage 3+4: labels are non-degenerate; HR shift drives the label; segments close") {
    val labeled = labelDaily(unified)
    graft.qc.Audit.assertNonDegenerate(labeled, "label_3cls")
    graft.qc.Audit.assertUniqueKey(labeled, Seq("date"))
    // elevated-HR days have negative cardio subscore => lower pbsi than calm days
    val calm = labeled.filter(col("date") <= lit("2021-05-08").cast("date"))
      .agg(avg("pbsi_score")).head().getDouble(0)
    val elevated = labeled
      .filter(col("date").between(lit("2021-05-09").cast("date"),
        lit("2021-05-12").cast("date")))
      .agg(avg("pbsi_score")).head().getDouble(0)
    assert(elevated < calm, s"elevated $elevated !< calm $calm")
    val segments = segmentAutolog(labeled)
    assert(segments.columns.toSeq === Seq("segment_id", "date_start", "date_end",
      "reason", "count", "duration_days"))
    assert(segments.count() === 1) // contiguous May days, single segment
    assert(segments.head().getAs[Long]("count") === 13L)
  }

  test("Zepp BODY/HEALTH daily: candidate sniffing, tz dates, empty defaults") {
    // BODY with vendor-alias columns: measureTime + weight_kg + fat_rate;
    // 23:30 UTC on Jan 1 is Jan 1 in Dublin (pre-cutover home tz)
    val body = Seq(
      ("2024-01-01 10:00:00", "70.0", "21.0"),
      ("2024-01-01 23:30:00", "72.0", "23.0"),
      ("2024-01-20 23:30:00", "74.0", "25.0")) // post-cutover: NY -> Jan 20
      .toDF("measureTime", "weight_kg", "fat_rate")
    val bd = ReferencePipeline.zeppBodyDaily(body, "2024-01-15",
      "Europe/Dublin", "America/New_York").orderBy("date").collect()
    assert(bd.length === 2)
    assert(bd(0).getAs[java.sql.Date]("date").toString === "2024-01-01")
    assert(bd(0).getAs[Double]("zepp_weight_kg") === 71.0)
    assert(bd(0).getAs[Double]("zepp_bodyfat_pct") === 22.0)
    assert(bd(1).getAs[java.sql.Date]("date").toString === "2024-01-20")

    // missing timestamp column -> reference's empty default frame
    val noTs = Seq(("70.0")).toDF("weight")
    val empty = ReferencePipeline.zeppBodyDaily(noTs, "2024-01-15", "UTC", "UTC")
    assert(empty.columns.toSeq === Seq("date", "zepp_weight_kg", "zepp_bodyfat_pct"))
    assert(empty.count() === 0)

    // HEALTH: only stress present -> only that metric column emitted
    val health = Seq(("2024-01-02 12:00:00", "55.0"), ("2024-01-02 13:00:00", "65.0"))
      .toDF("time", "stress_score")
    val hd = ReferencePipeline.zeppHealthDaily(health, "2024-01-15",
      "Europe/Dublin", "America/New_York").collect()
    assert(hd.length === 1)
    assert(hd(0).getAs[Double]("zepp_stress_mean") === 60.0)
    assert(!hd(0).schema.fieldNames.contains("zepp_spo2_mean"))

    // legacy fold: outer-merge on date keeps union of dates
    val hr = Seq(("2024-01-01", 60.0), ("2024-01-03", 62.0))
      .toDF("date", "zepp_hr_mean").withColumn("date", col("date").cast("date"))
    val folded = ReferencePipeline.zeppDailyFeatures(Seq(
      hr,
      ReferencePipeline.zeppBodyDaily(body, "2024-01-15",
        "Europe/Dublin", "America/New_York")))
    assert(folded.count() === 3) // Jan 1 shared; Jan 3 hr-only; Jan 20 body-only
    assert(folded.filter(col("date") === lit("2024-01-03").cast("date"))
      .head().getAs[Any]("zepp_weight_kg") === null)
  }
}
