package graft.queries

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.ingest.XmlRecordScan
import graft.operators.DailyAgg

/** S5 ingest-throughput benchmark query: scan an Apple-Health-shaped XML
  * export (generated deterministically at reference scale) and aggregate
  * HR records to daily stats — the reference's headline workload
  * (BASELINE.md: 4.68M records / 1.5 GB -> ~68k rec/s single-process).
  *
  * The fixture is seeded from row ids (no RNG), written once per scale
  * under /tmp and reused; sf0.1 generates 2M records (~0.5 GB), so the
  * driver-recorded seconds divide into a rec/s and MB/s figure comparable
  * with BASELINE. The file is not one of the oracle's parquet tables, so
  * the oracle is a pinned expected table; the S5 semantics are pinned by
  * IngestSpec fixtures.
  */
object IngestQueries {

  private val HrType = "HKQuantityTypeIdentifierHeartRate"

  /** Records per scale dir: sf * 20M (sf0.1 -> 2M). */
  private def recordsFor(dir: String): Long = {
    val sf = raw"sf([\d.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.01)
    math.max((sf * 20e6).toLong, 10000L)
  }

  /** Generate (once) a line-per-record XML fixture with Spark itself —
    * parallel writers, deterministic content derived from the row id. */
  def xmlFixture(spark: SparkSession, dir: String): String = {
    val n = recordsFor(dir)
    val path = s"/tmp/graft_xml_$n"
    if (!new File(s"$path/_SUCCESS").exists()) {
      val line = format_string(
        " <Record type=\"" + HrType + "\" sourceName=\"Watch\" unit=\"count/min\"" +
          " value=\"%d\" startDate=\"2021-%02d-%02d %02d:%02d:%02d +0000\"" +
          " endDate=\"2021-%02d-%02d %02d:%02d:%02d +0000\"/>",
        (col("id") % 150 + 40).cast("int"),
        (col("id") % 12 + 1).cast("int"), (col("id") % 28 + 1).cast("int"),
        (col("id") % 24).cast("int"), (col("id") % 60).cast("int"),
        ((col("id") * 7) % 60).cast("int"),
        (col("id") % 12 + 1).cast("int"), (col("id") % 28 + 1).cast("int"),
        (col("id") % 24).cast("int"), (col("id") % 60).cast("int"),
        ((col("id") * 7) % 60).cast("int"))
      spark.range(n).select(line.as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  lazy val queries: Seq[Query] = Seq(
    // S5 at scale: text-scan + regex extract + outlier filter + daily agg.
    Query("s5_xml_scan", (s, dir) => {
      val path = xmlFixture(s, dir)
      val hr = XmlRecordScan.records(s, path, Seq(HrType))
        .withColumn("v", col("value").try_cast("double"))
        .filter(col("v").isNotNull)
      DailyAgg.dailyStats(
          DailyAgg.outlierFilter(hr, "v", 30, 220), "start_ts", "v")
        .select(col("date"), round(col("v_mean"), 6).as("hr_mean"),
          col("n_samples").as("hr_samples"))
    },
      // Pinned: the fixture derives every record from the row id, no RNG;
      // re-pin if the generator changes.
      oracle = Query.pinned("s5_xml_scan", "date, hr_mean, hr_samples")))
}
