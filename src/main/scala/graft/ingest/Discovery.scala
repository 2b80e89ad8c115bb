package graft.ingest

import java.time.LocalDate
import scala.util.Try

/** S1/S2/S9/S10/O3 — deterministic input discovery (SURVEY §2.1).
  *
  * The reference selects input archives reproducibly: parse a date out of
  * the filename (`HealthAutoExport-YYYY-MM-DD…`), keep candidates dated at
  * or before the snapshot, latest wins; Zepp archives use mtime with the
  * same rule (`scripts/run_full_pipeline.py:265-418`,
  * `src/domains/common/autoexport_discovery.py:69-232`). Pure driver-side
  * logic over file metadata — deliberately NOT a Spark job (listing a few
  * hundred archive names needs no cluster), but deterministic and total.
  */
object Discovery {

  private val datePattern = raw"(\d{4}-\d{2}-\d{2})".r

  /** Parse the first YYYY-MM-DD occurring in a filename. */
  private def filenameDate(name: String): Option[LocalDate] =
    datePattern.findFirstIn(name).flatMap(s => Try(LocalDate.parse(s)).toOption)

  /** S1/O3 — deterministic selection by filename date: among candidates
    * whose embedded date is <= snapshot, take the latest; ties broken by
    * name (lexicographically last, matching "latest wins" on re-exports). */
  def selectByFilenameDate(names: Seq[String], snapshot: LocalDate): Option[String] =
    names
      .flatMap(n => filenameDate(n).map(d => (d, n)))
      .filter(_._1.compareTo(snapshot) <= 0)
      .sortBy { case (d, n) => (d.toEpochDay, n) }
      .lastOption.map(_._2)

  /** S2 — same rule over (name, mtimeEpochSeconds) pairs. */
  def selectByMtime(files: Seq[(String, Long)], snapshotEpoch: Long): Option[String] =
    files
      .filter(_._2 <= snapshotEpoch)
      .sortBy { case (n, t) => (t, n) }
      .lastOption.map(_._1)

  /** S9 — Zepp table discovery: domain -> glob under the extracted cloud
    * dir; pass the result straight to `spark.read.csv(paths: _*)`. */
  private val zeppDomains: Seq[String] = Seq(
    "ACTIVITY", "ACTIVITY_MINUTE", "ACTIVITY_STAGE", "HEARTRATE",
    "HEARTRATE_AUTO", "SLEEP", "SPORT", "HEALTH_DATA", "BODY", "USER")

  def zeppGlobs(extractedRoot: String): Map[String, String] =
    zeppDomains.map(d => d -> s"$extractedRoot/zepp/cloud/$d/*.csv").toMap

  /** S10 — AutoExport discovery: filter filenames to the snapshot range. */
  def autoExportInRange(names: Seq[String], from: LocalDate, to: LocalDate): Seq[String] =
    names.filter(n => filenameDate(n).exists(d =>
      d.compareTo(from) >= 0 && d.compareTo(to) <= 0)).sorted
}
