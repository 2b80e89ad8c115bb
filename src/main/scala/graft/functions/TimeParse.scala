package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** C1/C2/C4/C5 — scalar time/number parsing helpers (SURVEY §2.8).
  *
  * The reference hand-rolls multi-format timestamp fallbacks
  * (`src/domains/som/som_from_autoexport.py:149-168`), explicit-offset
  * math (`src/domains/cardiovascular/cardio_from_extracted.py:46-77`), a
  * timezone CUTOVER (different home tz before/after a date,
  * `src/domains/extract_screen_time.py:20-33`), and whole-column unit
  * heuristics (`src/domains/sleep/sleep_from_extracted.py:263-270`).
  * All become null-safe column expressions here — no UDFs.
  */
object TimeParse {

  /** Default format chain: Apple " +0100" offsets, AutoExport variants,
    * bare ISO, and date-only. First match wins; null if none parse. */
  private val defaultFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss Z",
    "yyyy-MM-dd HH:mm:ssZ",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd")

  /** C1 — multi-format timestamp parse: coalesce over try-parses. */
  def parseTimestamp(c: Column, formats: Seq[String] = defaultFormats): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** C2 — timezone cutover: convert a UTC instant to local wall-clock
    * time, where the home timezone switches at `cutoverDate`. */
  def tzCutover(ts: Column, cutoverDate: String, tzBefore: String,
                tzAfter: String): Column =
    when(to_date(ts) < lit(cutoverDate).cast("date"),
      from_utc_timestamp(ts, tzBefore))
      .otherwise(from_utc_timestamp(ts, tzAfter))

  /** C5 — numeric coercion with null on failure (pandas to_numeric
    * errors="coerce"). */
  def toNumeric(c: Column): Column = c.cast("string").try_cast("double")

  /** C4 — data-dependent unit conversion, phase 2: given a driver-side
    * decision scalar (e.g. the column max from phase 1), convert or pass
    * through. The two-phase split is deliberate — the decision must be a
    * WHOLE-COLUMN property, never per-partition (SURVEY §7.5.5). */
  def convertIf(c: Column, decision: Boolean, factor: Double): Column =
    if (decision) c * lit(factor) else c
}
