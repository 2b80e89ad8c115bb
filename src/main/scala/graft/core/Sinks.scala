package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** S13 — sinks with the reference's safety conventions (SURVEY §2.1):
  * atomic tmp-file writes and a `.prev` backup rename of the previous
  * output (`src/lib/io_guards.py:69-137`,
  * `src/etl/stage_csv_aggregation.py:1176-1186`).
  *
  * Contract outputs (small daily tables) are written as a SINGLE file to
  * preserve the reference's file-per-table layout.
  */
object Sinks {

  /** Atomic single-file CSV with `.prev` backup: write to a temp dir,
    * back up any existing target, then rename into place. The rename is a
    * filesystem metadata operation — the visible file is never partial. */
  def atomicCsv(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    // resolve the fs FROM the target path (FileSystem.get would bind the
    // default fs and silently fail cross-fs renames)
    val tgt = new Path(target)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDir = new Path(target + ".__tmp__")
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(tmpDir.toString)
    val part = fs.globStatus(new Path(tmpDir, "part-*"))(0).getPath
    backupAndRename(fs, part, tgt)
    fs.delete(tmpDir, true)
  }

  /** Shared: back up any existing target as `.prev`, then rename the
    * fresh file into place — CHECKING each rename (Hadoop rename reports
    * failure by boolean, not exception; ignoring it can silently leave
    * no target at all after the backup step moved the live file away). */
  private def backupAndRename(fs: FileSystem, fresh: Path, tgt: Path): Unit = {
    if (fs.exists(tgt)) {
      val prev = new Path(tgt.toString + ".prev")
      if (fs.exists(prev)) fs.delete(prev, false)
      require(fs.rename(tgt, prev), s"backup rename failed: $tgt -> $prev")
    }
    require(fs.rename(fresh, tgt), s"rename failed: $fresh -> $tgt")
  }

  /** Atomic small-text artifact sink (cv_summary.json / RUN_REPORT.md —
    * the stage 6-9 report contract, `scripts/run_full_pipeline.py:
    * 1357-1359,2220-2228`): write a temp file, back up any previous
    * target as `.prev`, rename into place. */
  def atomicText(spark: org.apache.spark.sql.SparkSession, target: String,
                 content: String): Unit = {
    val tgt = new Path(target)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target + ".__tmp__")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    backupAndRename(fs, tmp, tgt)
  }

  /** Write-guard (the reference's data/ai protection): refuse targets
    * under protected prefixes. */
  def guardedWrite(df: DataFrame, target: String, protectedPrefixes: Seq[String])
                  (write: (DataFrame, String) => Unit): Unit = {
    require(!protectedPrefixes.exists(target.startsWith),
      s"write to protected path refused: $target")
    write(df, target)
  }
}
