package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Concurrency, Sinks}
import graft.ingest.{Discovery, EncryptedZip, RobustCsv, ZipExtract}
import graft.ml.Models
import graft.operators.{Folds, Impute}

/** The end-to-end snapshot orchestrator — the engine's analog of the
  * reference's primary entry point `python -m scripts.run_full_pipeline
  * --participant --snapshot` (`scripts/run_full_pipeline.py:2231`, stage
  * functions `:420-2228`): raw ZIPs in, `RUN_REPORT.md` + the full
  * artifact tree out.
  *
  * Stage map (reference stage → engine call):
  *  - 0 ingest: S1/S2 deterministic ZIP selection (filename date, mtime
  *    fallback; Zepp optionally password-protected) + S3 extraction
  *  - 1 aggregate: S5 — one `export.xml` scan, materialized and routed by
  *    record type to the cardio, sleep and activity builders — + S7/S8
  *    robust CSVs → daily_* frames. One branch per output, all
  *    concurrently: each builds, materializes and writes its frame, and
  *    the CSV branches run beside the XML scan. A failing branch ends the
  *    run with a `failed` stage-1 log naming the output and its cause,
  *    after its siblings finish
  *  - 2 unify: the five-domain `unify_all` (J11)
  *  - 3 label: segment z-scores → PBSI composite → percentile labels
  *  - 4 segment: `segment_autolog` table. Stages 2 and 3 each write their
  *    artifact beside the next stage's work (`daily_unified.csv` beside
  *    the label frame's materialization, `daily_labeled.csv` beside stage
  *    4) and join the write before that stage returns
  *  - 5 ML prep: temporal gate + anti-leak drop (ML7 exclusions) +
  *    median impute (M1 fallback path — deterministic)
  *  - 6 ML6: LogisticRegression (the reference's stage-6 model) and the
  *    ML6-extended families (RF / GBT / LinearSVC), each fit once per fold
  *    and all four concurrently. The logistic fit thread writes the
  *    primary artifacts as soon as its predictions are materialized; the
  *    extended table comes from one metrics pass sliced by model once all
  *    four are done
  *  - 7/8 LSTM + TFLite: out of engine scope per SURVEY (external libs)
  *  - 9 report: `Reports.writeArtifacts` tree (cv_summary.json,
  *    confusion matrices, per-class CSVs, RUN_REPORT.md)
  *
  * Every stage is the already-parity-checked library operator; this
  * object only sequences them and lays out files. All frames stay
  * distributed — the only collects are fold boundaries (a handful of
  * rows) and the report rendering the reference also does driver-side.
  * A frame read by more than one later job (the XML records, the stage-1
  * daily frames, `unified`, `labeled`) is materialized once with an eager
  * `localCheckpoint`, so no job replays its lineage back to the scan.
  * Every Spark job carries the description `stage <n> <name> …` of the
  * stage that submitted it; work on a pool thread adds what it builds
  * (`stage 1 aggregate apple/daily_cardio`, `stage 6 ml6-fit rf`).
  */
object RunPipeline {

  final case class StageLog(stage: Int, name: String, status: String,
                            detail: String)

  /** Stage 1's outputs under `joined/`, in the order its log lists them. */
  private val Stage1Outputs = Seq("apple/daily_cardio", "apple/daily_sleep",
    "apple/daily_activity", "apple/daily_meds_autoexport",
    "apple/daily_som_autoexport", "zepp/daily_cardio", "zepp/daily_sleep",
    "zepp/zepp_daily_features")

  /** A stage-1 branch that failed, named by the output it was building. */
  private final class BranchFailed(output: String, cause: Throwable)
      extends RuntimeException(s"$output: " + Option(cause.getMessage)
        .flatMap(_.linesIterator.nextOption()).getOrElse(cause.toString), cause)

  /** Participant/site configuration the reference reads from its config
    * files; defaults match the parity fixtures. */
  final case class Config(
      homeTz: String = "Europe/Dublin",
      tzCutover: String = "2024-01-15",
      tzBefore: String = "Europe/Dublin",
      tzAfter: String = "America/New_York",
      mlCutoff: String = "0001-01-01",
      foldsMonthly: Boolean = true,
      trainDays: Int = 28, valDays: Int = 14, nFolds: Int = 4,
      zeppPassword: Option[String] = None)

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.pipeline.RunPipeline <rawRoot> <participant> <snapshot:YYYY-MM-DD> <outDir> [zeppPassword]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val logs = run(spark, args(0), args(1), args(2), args(3),
      Config(zeppPassword = args.lift(4)))
    logs.foreach(l =>
      println(f"[stage ${l.stage}%d] ${l.name}%-10s ${l.status}%-8s ${l.detail}"))
    spark.stop()
  }

  // ---- filesystem helpers (driver-side, stage-0 scale: a few files) ----

  private def listWithSuffix(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.toLowerCase.endsWith(suffix))
        .toSeq.sortBy(_.getFileName.toString)
    }

  private def findFirst(root: String, name: String): Option[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) None
    else scala.util.Using.resource(Files.walk(r)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString == name)
        .toSeq.sortBy(_.toString).headOption.map(_.toString)
    }
  }

  private def globFiles(pattern: String): Seq[String] = {
    // pattern shape: <dir>/*.csv (Discovery.zeppGlobs)
    val slash = pattern.lastIndexOf('/')
    val (dir, glob) = (pattern.substring(0, slash), pattern.substring(slash + 1))
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val m = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$glob")
      scala.util.Using.resource(Files.list(d)) { s =>
        s.iterator().asScala
          .filter(p => m.matches(p.getFileName)).toSeq.sortBy(_.toString)
          .map(_.toString)
      }
    }
  }

  private def readCsv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("nullValue", "").csv(paths: _*)

  // ---- the pipeline ----

  def run(spark: SparkSession, rawRoot: String, participant: String,
          snapshot: String, outDir: String,
          cfg: Config = Config()): Seq[StageLog] =
    try runStages(spark, rawRoot, participant, snapshot, outDir, cfg)
    finally spark.sparkContext.setJobDescription(null)

  private def runStages(spark: SparkSession, rawRoot: String,
                        participant: String, snapshot: String, outDir: String,
                        cfg: Config): Seq[StageLog] = {
    val logs = scala.collection.mutable.ArrayBuffer[StageLog]()
    // labels the jobs the calling thread submits from here on
    def stage(n: Int, name: String): Unit =
      spark.sparkContext.setJobDescription(s"stage $n $name")
    val snapDate = java.time.LocalDate.parse(snapshot)
    val extracted = s"$outDir/extracted"
    val joined = s"$outDir/joined"
    // Writes `df` to joined/<file>.csv while `next` (the following stage's
    // work) runs beside it; returns `next`'s result once both are done.
    def writeAlongside[A](n: Int, name: String, df: DataFrame, file: String)
                         (next: => A): A =
      Concurrency.inParallel[Option[A]](s"stage$n-write", Seq(
        () => {
          stage(n, s"$name $file")
          Sinks.atomicCsv(df, s"$joined/$file.csv")
          None
        },
        () => Some(next))).last.get

    // ---------- stage 0: ingest ----------
    stage(0, "ingest")
    val appleDir = Paths.get(rawRoot, participant, "apple", "export")
    val appleZips = listWithSuffix(appleDir, ".zip")
    val appleChosen = Discovery
      .selectByFilenameDate(appleZips.map(_.getFileName.toString), snapDate)
      .orElse(Discovery.selectByMtime(
        appleZips.map(p => p.getFileName.toString ->
          Files.getLastModifiedTime(p).toMillis),
        snapDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli))
    appleChosen.foreach { name =>
      ZipExtract.extract(appleDir.resolve(name).toString, s"$extracted/apple")
    }
    val zeppDir = Paths.get(rawRoot, participant, "zepp")
    val zeppZips = listWithSuffix(zeppDir, ".zip")
    val zeppChosen = Discovery.selectByMtime(
      zeppZips.map(p => p.getFileName.toString ->
        Files.getLastModifiedTime(p).toMillis),
      snapDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli)
    val zeppExtracted = zeppChosen match {
      case Some(name) =>
        val zp = zeppDir.resolve(name).toString
        cfg.zeppPassword match {
          case Some(pwd) =>
            EncryptedZip.extract(zp, s"$extracted/zepp/cloud", pwd); true
          case None =>
            // reference stage 0: encrypted Zepp without a password is a
            // non-fatal skip (apple-only mode keeps ML6 reproducible)
            try { ZipExtract.extract(zp, s"$extracted/zepp/cloud"); true }
            catch { case _: Exception => false }
        }
      case None => false
    }
    logs += StageLog(0, "ingest",
      if (appleChosen.isDefined) "success" else "skipped",
      s"apple=${appleChosen.getOrElse("-")} zepp=" +
        s"${if (zeppExtracted) zeppChosen.getOrElse("-") else "skipped"}")

    // ---------- stage 1: aggregate ----------
    stage(1, "aggregate")
    // One branch per output, all concurrently: the per-domain builders are
    // independent, so each builds its daily frame, materializes it once
    // (unify reads it again) and writes it without waiting for the others.
    // The Apple branch scans export.xml once and fans the materialized
    // records out to its three builders; the CSV branches never wait for
    // that scan.
    def branch[T](name: String)(body: => T): T = {
      stage(1, s"aggregate $name")
      try body catch { case NonFatal(e) => throw new BranchFailed(name, e) }
    }
    def written(name: String)(build: => DataFrame): (String, DataFrame) =
      branch(name) {
        val df = build.localCheckpoint(true)
        Sinks.atomicCsv(df, s"$joined/$name.csv")
        name -> df
      }
    val appleXml = findFirst(s"$extracted/apple", "export.xml")
    val medsCsv = findFirst(s"$extracted/apple", "Medications.csv")
    val somCsv = findFirst(s"$extracted/apple", "StateOfMind.csv")
    val globs = Discovery.zeppGlobs(extracted)
    def zeppFiles(key: String): Seq[String] =
      if (zeppExtracted) globFiles(globs(key)) else Nil
    val zeppCardioFiles = zeppFiles("HEARTRATE") ++ zeppFiles("HEARTRATE_AUTO")
    val zeppBodyFiles = zeppFiles("BODY")
    val zeppHealthFiles = zeppFiles("HEALTH_DATA")
    // the reference keeps SLEEP_NAPS_*/SLEEP_INTERVALS_* files inside the
    // SLEEP dir — split the one glob by filename
    val sleepAll = zeppFiles("SLEEP")
    val napsFiles = sleepAll.filter(_.toUpperCase.contains("NAPS"))
    val intervalFiles = sleepAll.filter(_.toUpperCase.contains("INTERVALS"))
    val sleepDailyFiles = sleepAll.diff(napsFiles).diff(intervalFiles)
    val branches: Seq[() => Seq[(String, DataFrame)]] = Seq(
      appleXml.map(x => () => {
        val records = branch("apple/export.xml")(
          ReferencePipeline.appleRecords(spark, x).localCheckpoint(true))
        Concurrency.inParallel("stage1-apple", Seq(
          "apple/daily_cardio" -> ReferencePipeline.appleDailyCardio _,
          "apple/daily_sleep" -> ReferencePipeline.appleDailySleep _,
          "apple/daily_activity" -> ReferencePipeline.appleDailyActivity _)
          .map { case (name, build) => () => written(name)(build(records)) })
      }),
      medsCsv.map(p => () => Seq(written("apple/daily_meds_autoexport")(
        ReferencePipeline.medsDaily(
          spark.read.option("header", "true").csv(p), snapshot)))),
      somCsv.map(p => () => Seq(written("apple/daily_som_autoexport")(
        ReferencePipeline.somDaily(
          spark.read.option("header", "true").csv(p), Some(snapshot))))),
      // the Zepp cardio frame feeds both its own file and the legacy
      // zepp_daily_features consolidation (_merge_on_date)
      Option.when((zeppCardioFiles ++ zeppBodyFiles ++ zeppHealthFiles)
          .nonEmpty)(() => {
          val cardio = Some(zeppCardioFiles).filter(_.nonEmpty).map(fs =>
            written("zepp/daily_cardio")(
              ReferencePipeline.zeppDailyCardio(readCsv(spark, fs))))
          cardio.toSeq :+ written("zepp/zepp_daily_features")(
            ReferencePipeline.zeppDailyFeatures(cardio.map(_._2).toSeq ++
              Some(zeppBodyFiles).filter(_.nonEmpty).map(fs =>
                ReferencePipeline.zeppBodyDaily(readCsv(spark, fs),
                  cfg.tzCutover, cfg.tzBefore, cfg.tzAfter)) ++
              Some(zeppHealthFiles).filter(_.nonEmpty).map(fs =>
                ReferencePipeline.zeppHealthDaily(readCsv(spark, fs),
                  cfg.tzCutover, cfg.tzBefore, cfg.tzAfter))))
        }),
      Some(sleepDailyFiles).filter(_.nonEmpty).map(fs => () => Seq(
        written("zepp/daily_sleep") {
          val daily = RobustCsv.canonicalize(
            spark.read.option("header", "true").option("escape", "\"")
              .csv(fs: _*),
            Map("deep_min" -> Seq("deepSleepTime", "deep_minutes"),
              "light_min" -> Seq("shallowSleepTime", "light_minutes"),
              "rem_min" -> Seq("REMTime", "rem_minutes")))
          val naps = Some(napsFiles).filter(_.nonEmpty)
            .map(n => spark.read.option("header", "true")
              .option("escape", "\"").csv(n: _*))
            .getOrElse(spark.range(0)
              .select(lit(null).cast("string").as("date"),
                lit(null).cast("string").as("naps")))
          val intervals = Some(intervalFiles).filter(_.nonEmpty)
            .map(i => spark.read.option("header", "true")
              .option("escape", "\"").csv(i: _*))
          ReferencePipeline.zeppSleepDaily(daily, naps, cfg.homeTz,
            Seq("naps"), intervals)
        }))).flatten
    val stage1 =
      try Concurrency.inParallel("stage1", branches).flatten.toMap
      catch {
        case f: BranchFailed =>
          logs += StageLog(1, "aggregate", "failed", f.getMessage)
          return logs.toSeq
      }
    logs += StageLog(1, "aggregate",
      if (stage1.nonEmpty) "success" else "failed",
      Stage1Outputs.filter(stage1.contains).mkString(", "))
    if (stage1.isEmpty) return logs.toSeq

    // ---------- stage 2: unify ----------
    stage(2, "unify")
    val unified = ReferencePipeline.unifyAllDomains(
      ReferencePipeline.unifySleepDomains(stage1.get("apple/daily_sleep"),
        stage1.get("zepp/daily_sleep")),
      ReferencePipeline.unifyCardioDomains(stage1.get("apple/daily_cardio"),
        stage1.get("zepp/daily_cardio")),
      ReferencePipeline.unifyActivityDomains(
        stage1.get("apple/daily_activity"), None),
      ReferencePipeline.unifyMedsDomain(
        stage1.get("apple/daily_meds_autoexport")
          .map("apple_autoexport" -> _).toSeq),
      ReferencePipeline.unifySomDomain(stage1.get("apple/daily_som_autoexport")))
      .localCheckpoint(true) // written, then read by every label job

    // ---------- stage 3: label ----------
    // unify_all's frame carries no provenance flags; labelDaily's quality
    // factor reads the canonical form's missing_/source_ columns. Derive
    // them with the same any-non-null rule unifyCanonical applies.
    def haveAny(names: String*): org.apache.spark.sql.Column =
      names.filter(unified.columns.contains).map(col(_).isNotNull)
        .reduceOption(_ || _).getOrElse(lit(false))
    val withProvenance = unified
      .withColumn("missing_sleep",
        (!haveAny("sleep_hours", "sleep_quality_score")).cast("int"))
      .withColumn("source_cardio",
        when(haveAny("hr_mean", "hr_min", "hr_max", "hr_std"), lit("merged"))
          .otherwise(lit("none")))
      .withColumn("missing_activity",
        (!haveAny("total_steps", "total_distance", "total_active_energy"))
          .cast("int"))
    val labeled = writeAlongside(2, "unify", unified, "daily_unified") {
      stage(3, "label")
      // consumed by stages 4, 5, 6 and the report
      ReferencePipeline.labelDaily(withProvenance).localCheckpoint(true)
    }
    logs += StageLog(2, "unify", "success",
      s"${unified.columns.length} cols")
    logs += StageLog(3, "label", "success", "pbsi labels attached")

    // ---------- stage 4: segment ----------
    writeAlongside(3, "label", labeled, "daily_labeled") {
      stage(4, "segment")
      Sinks.atomicCsv(ReferencePipeline.segmentAutolog(labeled),
        s"$joined/segment_autolog.csv")
    }
    logs += StageLog(4, "segment", "success", "segment_autolog written")

    // ---------- stage 5: ML prep ----------
    stage(5, "ml-prep")
    val generatedAt = java.time.Instant.now().toString
    if (!labeled.columns.contains("som_category_3class")) {
      logs += StageLog(5, "ml-prep", "skipped", "no SoM domain in snapshot")
      stage(9, "report")
      Sinks.atomicText(spark, s"$outDir/RUN_REPORT.md",
        Reports.runReportMd(labeled, participant, snapshot, "0-4",
          generatedAt, None))
      logs += StageLog(9, "report", "success", s"$outDir/RUN_REPORT.md")
      return logs.toSeq
    }
    val features = Seq("sleep_hours", "sleep_quality_score", "hr_mean",
      "hr_std", "total_steps", "total_active_energy")
      .filter(labeled.columns.contains)
    val prepped = Impute.medianImpute(
      ReferencePipeline.mlPrep(labeled, cfg.mlCutoff),
      Seq("segment_id"), features)
    logs += StageLog(5, "ml-prep", "success",
      s"${features.size} features, median-imputed per segment")

    // ---------- stage 6: ML6 + extended families ----------
    stage(6, "ml6")
    // Both fold branches land on the same summary shape. The monthly
    // frame's bounds mirror the reference's build_month_windows: a
    // BOUNDED train window [train_start, val_start) and an EXCLUSIVE
    // val_end. The day-based branch summarizes actual role dates, so its
    // val_end is an inclusive max date — flagged per row so the fold
    // slicing applies the right comparison.
    val foldFrame =
      if (cfg.foldsMonthly)
        Folds.calendarFoldsMonthly(prepped, "date", "som_binary")
          .select(col("fold_id"), col("train_start"), col("val_start"),
            col("val_end"), col("n_train"),
            lit(false).as("val_end_inclusive"))
      else
        Folds.calendarFolds(prepped, "date", cfg.trainDays, cfg.valDays,
          cfg.nFolds, cfg.valDays)
          .groupBy("fold_id")
          .agg(
            min(when(col("role") === "train", col("date"))).as("train_start"),
            min(when(col("role") === "val", col("date"))).as("val_start"),
            max(when(col("role") === "val", col("date"))).as("val_end"),
            sum(when(col("role") === "train", 1L).otherwise(0L)).as("n_train"))
          .filter(col("val_start").isNotNull)
          .withColumn("val_end_inclusive", lit(true))
    val foldRows = foldFrame
      .select("fold_id", "train_start", "val_start", "val_end", "n_train",
        "val_end_inclusive").collect()
    if (foldRows.isEmpty) {
      logs += StageLog(6, "ml6", "skipped", "no usable calendar folds")
      stage(9, "report")
      Sinks.atomicText(spark, s"$outDir/RUN_REPORT.md",
        Reports.runReportMd(labeled, participant, snapshot, "0-5",
          generatedAt, None))
      logs += StageLog(9, "report", "success", s"$outDir/RUN_REPORT.md")
      return logs.toSeq
    }
    val families: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "logreg_balanced" -> ((tr, va) =>
        Models.logisticRegression(tr, va, features, "som_binary")),
      "rf" -> ((tr, va) => Models.randomForest(tr, va, features,
        "som_binary", numTrees = 50, maxDepth = 6)),
      "gbt" -> ((tr, va) => Models.gbt(tr, va, features, "som_binary",
        maxIter = 20, maxDepth = 4)),
      "svc" -> ((tr, va) => Models.linearSvc(tr, va, features, "som_binary",
        maxIter = 30)))
    val typed = prepped.withColumn("som_binary",
      col("som_binary").cast("double"))
    // Per-fold train/val slices and the single-class fit guard, computed
    // ONCE and shared by all four families: each MLlib iteration rescans
    // its training frame and the class-count guard is a Spark job, so
    // leaving them inside each family's fit would replay both per family.
    val foldData = foldRows.toSeq.map { r =>
      val (fid, ts, vs, ve) =
        (r.getInt(0), r.getDate(1), r.getDate(2), r.getDate(3))
      val veInclusive = r.getBoolean(5)
      val train =
        (if (ts == null) typed.filter(lit(false))
         else typed.filter(col("date") >= lit(ts) && col("date") < lit(vs)))
          .localCheckpoint(true)
      val valD = typed.filter(col("date") >= lit(vs) &&
          (if (veInclusive) col("date") <= lit(ve) else col("date") < lit(ve)))
        .localCheckpoint(true)
      // folds whose train side is single-class can't fit — skip, as the
      // reference's fold guard does
      val fittable = train.select("som_binary").na.drop().distinct().count() >= 2 &&
        !valD.isEmpty
      (fid, train, valD, fittable)
    }.collect { case (fid, train, valD, true) => (fid, train, valD) }
    val classes = Seq("0", "1")
    // Actual per-fold training-set sizes (the bounded windows the folds
    // really train on), so published artifacts don't fall back to the
    // total-minus-val identity that no longer matches.
    val trainCounts = {
      import spark.implicits._
      foldRows.toSeq.map(r => (r.getInt(0), r.getLong(4)))
        .toDF("fold_id", "n_train")
    }
    // Each family is fit once per fold, all four concurrently: a fit is a
    // chain of small MLlib jobs bound by driver and scheduling latency, not
    // compute, so overlapping them leaves about the slowest family. Each
    // family's fold predictions are materialized once. The primary
    // artifacts need only the logistic predictions, so its fit thread
    // writes them while the slower families are still fitting; the
    // extended table reads every family's predictions.
    val primary = families.head._1
    val fits =
      if (foldData.isEmpty) Nil
      else Concurrency.inParallel("ml6-fits", families.map { case (name, fit) =>
        () => {
          // pool threads start with the submitting thread's description
          stage(6, s"ml6-fit $name")
          val pred = foldData.map { case (fid, train, valD) =>
            fit(train, valD).select(lit(name).as("model"),
              lit(fid).as("fold_id"), col("date"),
              col("som_binary").cast("int").cast("string").as("y_true"),
              col("y_pred").cast("int").cast("string").as("y_pred_s"))
          }.reduce(_ unionByName _).localCheckpoint(true)
          val summary = Option.when(name == primary) {
            stage(6, "ml6")
            Reports.writeArtifacts(labeled, pred.drop("model"),
              "fold_id", "y_true", "y_pred_s", "date", classes,
              model = primary, featureSet = "FS-B",
              target = "som_binary", nFeatures = features.size,
              participant = participant, snapshot = snapshot,
              stagesExecuted = "0-9", generatedAt = generatedAt,
              outDir = outDir, trainCounts = Some(trainCounts))
          }
          (pred, summary)
        }
      })
    fits.headOption.flatMap(_._2) match {
      case Some(summary) =>
        logs += StageLog(6, "ml6", "success",
          s"${summary.folds.size} folds, $primary")
        // ML6-extended: per-fold metric rows for every family, one pass
        stage(6, "ml6-ext")
        Sinks.atomicCsv(Reports.perFoldMetrics(
            fits.map(_._1).reduce(_ unionByName _),
            "fold_id", "y_true", "y_pred_s", "date", classes,
            Some(trainCounts), sliceCols = Seq("model"))
          .select("model", "fold_id", "val_start", "val_end", "n_train",
            "n_val", "f1_macro", "balanced_accuracy", "cohen_kappa"),
          s"$outDir/metrics/ml6_extended_summary.csv")
        logs += StageLog(6, "ml6-ext", "success", s"${fits.size} families")
      case None =>
        logs += StageLog(6, "ml6", "skipped", "all folds single-class")
    }
    logs += StageLog(7, "ml7-lstm", "skipped", "out of engine scope (SURVEY M5)")
    logs += StageLog(8, "tflite", "skipped", "out of engine scope (SURVEY M5)")
    if (fits.isEmpty) {
      stage(9, "report")
      Sinks.atomicText(spark, s"$outDir/RUN_REPORT.md",
        Reports.runReportMd(labeled, participant, snapshot, "0-6",
          generatedAt, None))
    }
    logs += StageLog(9, "report", "success", s"$outDir/RUN_REPORT.md")
    logs.toSeq
  }
}
