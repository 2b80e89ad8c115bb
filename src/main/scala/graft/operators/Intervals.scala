package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import org.apache.spark.sql.types._

/** Interval-table operators (SURVEY §2.4 A10/A11, §1.1 interval tables).
  *
  * Sleep sessions arrive as (start, end[, stage]) rows; the reference
  * collapses them to per-day duration hours keyed by the (tz-converted)
  * start date (`src/domains/sleep/sleep_from_extracted.py:136-158,
  * 373-400`), and parses embedded JSON nap arrays per row
  * (`:435-466`).
  */
object Intervals {

  /** A10 — interval → daily duration sum: hours between start and end,
    * grouped by the start date. Negative/zero durations dropped (F8). */
  def dailyDurations(intervals: DataFrame, startCol: String, endCol: String): DataFrame =
    intervals
      .withColumn("dur_h",
        (unix_timestamp(col(endCol)) - unix_timestamp(col(startCol))) / 3600.0)
      .filter(col("dur_h") > 0)
      .groupBy(to_date(col(startCol)).as("date"))
      .agg(round(sum("dur_h"), 6).as("total_h"), count(lit(1)).as("n_intervals"),
        round(max("dur_h"), 6).as("max_h"))

  /** Schema of the reference's Zepp `naps` JSON column:
    * `[{"start":"2022-01-08 00:33:10+0000","end":"…"}]`. */
  val napsSchema: ArrayType = ArrayType(new StructType()
    .add("start", StringType).add("end", StringType))

  /** A11 — naps-JSON aggregation: parse the array per row with
    * `from_json`, sum positive durations via higher-order functions (no
    * UDTF, no explode — stays in one projection), then group per day. */
  def napsDaily(df: DataFrame, dateCol: String, napsCol: String,
                tsFormat: String = "yyyy-MM-dd HH:mm:ssZ"): DataFrame = {
    val parsed = from_json(col(napsCol), napsSchema)
    val napHours: Column = aggregate(
      transform(parsed, n =>
        (unix_timestamp(to_timestamp(n.getField("end"), tsFormat)) -
          unix_timestamp(to_timestamp(n.getField("start"), tsFormat))) / 3600.0),
      lit(0.0),
      (acc, h) => acc + when(h > 0, h).otherwise(0.0))
    df.withColumn("nap_h", coalesce(napHours, lit(0.0)))
      .groupBy(col(dateCol))
      .agg(round(sum("nap_h"), 6).as("nap_hours"),
        sum(when(col("nap_h") > 0, 1).otherwise(0)).as("days_with_naps"))
  }
}
