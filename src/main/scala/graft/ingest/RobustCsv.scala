package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S7/S8 — defensive CSV ingestion (SURVEY §2.1).
  *
  * The reference reads vendor CSVs with encoding fallbacks and bad-line
  * skipping (`src/etl/stage_csv_aggregation.py:848-871`) and repairs
  * trailing-comma rows whose field count exceeds the header
  * (`src/domains/som/som_from_autoexport.py:236-290`).
  *
  * Spark-native: DROPMALFORMED for the reference's
  * on_bad_lines="skip", and alias resolution as a rename pass so
  * downstream operators see canonical names.
  */
object RobustCsv {

  /** Read a CSV skipping malformed lines (reference on_bad_lines="skip").
    * DROPMALFORMED only rejects field-count mismatches when an explicit
    * schema is enforced, so the header schema is read first.
    * Caveat: a bare `count()` on the result skips field parsing (Spark's
    * count-only CSV fast path) and can overcount — any query that touches
    * columns sees the malformed rows dropped. */
  def readSkipBad(spark: SparkSession, path: String, encoding: String = "UTF-8"): DataFrame = {
    val schema = spark.read
      .option("header", "true").option("encoding", encoding).csv(path).schema
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("encoding", encoding)
      .schema(schema)
      .csv(path)
  }

  /** S8 — trailing-comma repair: drop unnamed phantom columns (`_cN`
    * beyond the real header) produced by rows with extra separators. */
  def dropPhantomColumns(df: DataFrame): DataFrame = {
    val phantom = df.columns.filter(c => c.matches("_c\\d+") || c.trim.isEmpty)
    df.drop(phantom: _*)
  }

  /** Case-insensitive alias resolution (the reference's `pick()` /
    * `_maybe_col` pattern): rename the first matching alias to the
    * canonical name; absent columns become null columns so the output
    * schema is pinned (the "empty well-formed frame" contract). */
  def canonicalize(df: DataFrame, aliases: Map[String, Seq[String]]): DataFrame = {
    val lower = df.columns.map(c => c.toLowerCase -> c).toMap
    aliases.foldLeft(df) { case (d, (canonical, cands)) =>
      cands.map(_.toLowerCase).flatMap(lower.get).headOption match {
        case Some(existing) => d.withColumnRenamed(existing, canonical)
        case None => d.withColumn(canonical, lit(null).cast("string"))
      }
    }
  }
}
