package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, LocalFileSystem, Path}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.ml.Models
import graft.pipeline.RunPipeline

/** `file://` that counts the bytes read per path. */
class ReadCountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    val n = ReadCountingFileSystem.bytes
      .computeIfAbsent(f.toUri.getPath, _ => new LongAdder)
    new FSDataInputStream(new FSInputStream {
      override def read(): Int = { val b = in.read(); if (b >= 0) n.increment(); b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = in.read(b, off, len); if (r > 0) n.add(r); r
      }
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
      override def close(): Unit = in.close()
    })
  }
}

object ReadCountingFileSystem {
  val bytes = new ConcurrentHashMap[String, LongAdder]()

  /** Runs `body` with every `file://` read of `spark`'s queries counted;
    * returns its result and the bytes read per path. Filesystem instances
    * are not cached meanwhile, so the counting class serves every read. */
  def counting[T](spark: SparkSession)(body: => T): (T, Map[String, Long]) = {
    bytes.clear()
    spark.conf.set("fs.file.impl", classOf[ReadCountingFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val out = body
      (out, bytes.asScala.map { case (k, v) => k -> v.sum() }.toMap)
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}

/** A job as a listener sees it: its `spark.job.description` ("" when
  * unset), the call sites of its stages, its start and end times (epoch
  * ms; the end is the start for a job that never reported one), whether
  * a SQL execution submitted it, and the `spark.sql.codegen.factoryMode`
  * that execution propagated (set only when the session sets it). */
final case class JobSeen(description: String, callSites: String,
                         start: Long, end: Long, sql: Boolean,
                         factoryMode: Option[String]) {
  def overlaps(o: JobSeen): Boolean = start < o.end && o.start < end
}

object JobsSeen {
  /** Runs `body` and returns its result and every Spark job it submitted. */
  def recording[T](spark: SparkSession)(body: => T): (T, Seq[JobSeen]) = {
    val started = new ConcurrentHashMap[Int, JobSeen]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        started.put(e.jobId, JobSeen(
          prop("spark.job.description").getOrElse(""),
          e.stageInfos.map(_.details).mkString("\n"), e.time, e.time,
          prop("spark.sql.execution.id").isDefined,
          prop(CodegenConfs.keys.last)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, started.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        Option(ended.get(id)).fold(j)(t => j.copy(end = t))
      })
    } finally sc.removeSparkListener(listener)
  }
}

/** The two session confs `RunPipeline` sets around stages 2-9. */
object CodegenConfs {
  val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  /** Each conf as explicitly set on `spark`'s session (None: unset). */
  def of(spark: SparkSession): Seq[Option[String]] = {
    val set = spark.conf.getAll
    keys.map(set.get)
  }
}

/** End-to-end snapshot orchestration: raw ZIP in → artifact tree out.
  * The fixture is a reference-shaped snapshot (HealthAutoExport ZIP with
  * export.xml + Medications.csv + StateOfMind.csv; no Zepp ZIP, so the
  * apple-only non-fatal path is the one exercised), spanning eight
  * months so the reference's monthly calendar folds produce real
  * train/val splits. Stage functions themselves are parity-pinned by
  * tools/reference_parity.py; this spec pins the COMPOSITION — stage
  * order, file layout, skip semantics, and the report tree. */
class RunPipelineSpec extends SparkTestBase {

  /** `medsDate` names the Medications.csv date column, so a spec can
    * drift the header. */
  private def buildFixture(medsDate: String = "Date",
                           zeppSleep: Boolean = false): (String, String) = {
    val root = Files.createTempDirectory("graft-runpipe").toString
    val rawDir = Paths.get(root, "raw", "P000001", "apple", "export")
    Files.createDirectories(rawDir)

    val days = (0 until 244).map(java.time.LocalDate.of(2024, 1, 1).plusDays(_))
    val xml = new StringBuilder
    xml ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<HealthData locale=\"en_US\">\n"
    days.zipWithIndex.foreach { case (d, i) =>
      val hr = 60 + i % 40
      val hrv = 30 + (i * 7) % 50
      val steps = 4000 + (i * 131) % 6000
      val asleepMin = 330 + (i * 17) % 120
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRate" value="$hr" startDate="$d 08:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRate" value="${hr + 12}" startDate="$d 18:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRateVariabilitySDNN" value="$hrv" startDate="$d 07:30:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisInBed" startDate="$d 22:00:00 +0000" endDate="${d.plusDays(1)} 06:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisAsleep" startDate="$d 23:00:00 +0000" endDate="$d 23:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisAsleep" startDate="${d.plusDays(1)} 00:00:00 +0000" endDate="${d.plusDays(1)} 0${asleepMin / 60}:${f"${asleepMin % 60}%02d"}:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierStepCount" value="$steps" startDate="$d 12:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierDistanceWalkingRunning" value="${steps / 1300.0}" startDate="$d 12:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierActiveEnergyBurned" value="${200 + i % 300}" startDate="$d 13:00:00 +0000"/>\n"""
    }
    xml ++= "</HealthData>\n"

    val meds = new StringBuilder
    meds ++= s"$medsDate,Medication,Nickname,Dosage,Unit,Status,Archived,Codings\n"
    days.zipWithIndex.foreach { case (d, i) =>
      if (i % 2 == 0)
        meds ++= s"$d 09:00:00 +0000,Sertraline,,50,mg,Taken,No,\n"
    }

    val som = new StringBuilder
    som ++= "Start,End,Kind,Labels,Associations,Valence,Valence Classification\n"
    days.zipWithIndex.foreach { case (d, i) =>
      val valence = if (i % 3 == 0) -0.8 else 0.5 // mixes the 3-class label
      som ++= s"$d 10:00:00 +0000,,Daily Mood,Calm,Work,$valence,\n"
    }

    val zipPath = rawDir.resolve("HealthAutoExport-2024-08-31.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.toString.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("apple_health_export/export.xml", xml.toString)
    put("apple_health_export/Medications.csv", meds.toString)
    put("apple_health_export/StateOfMind.csv", som.toString)
    zos.close()

    if (zeppSleep) {
      // an unencrypted Zepp cloud ZIP with one daily SLEEP CSV, last
      // modified on the snapshot day so stage 0 selects it
      val zeppDir = Paths.get(root, "raw", "P000001", "zepp")
      Files.createDirectories(zeppDir)
      val zeppZip = zeppDir.resolve("3075021620_1725105600000.zip")
      val zz = new ZipOutputStream(Files.newOutputStream(zeppZip))
      zz.putNextEntry(new ZipEntry("SLEEP/SLEEP_1725105600000.csv"))
      zz.write(("date,deepSleepTime,shallowSleepTime,REMTime\n" +
        days.takeRight(60).zipWithIndex.map { case (d, i) =>
          s"$d,${60 + i % 30},${200 + i % 50},${70 + i % 20}\n"
        }.mkString).getBytes("UTF-8"))
      zz.closeEntry()
      zz.close()
      Files.setLastModifiedTime(zeppZip, java.nio.file.attribute.FileTime
        .from(java.time.Instant.parse("2024-08-31T12:00:00Z")))
    }

    (s"$root/raw", s"$root/out")
  }

  /** Every job carries the `stage <n> <name>` label of its stage. */
  private def assertStageLabelled(jobs: Seq[JobSeen]): Unit = {
    val unlabelled = jobs.filterNot(_.description.startsWith("stage "))
    assert(jobs.nonEmpty && unlabelled.isEmpty,
      s"${unlabelled.size} of ${jobs.size} jobs without a stage label, e.g. " +
        unlabelled.headOption)
  }

  /** Stages 2-9 run without generated code and stages 0-1 with it: every
    * SQL job labelled `stage 2`-`stage 9` carries factoryMode NO_CODEGEN,
    * and no `stage 0`/`stage 1` job does. */
  private def assertInterpretedAfterStage1(jobs: Seq[JobSeen]): Unit = {
    val (early, late) = jobs.filter(_.sql)
      .partition(_.description.matches("stage [01] .*"))
    val interpreted = early.filter(_.factoryMode.contains("NO_CODEGEN"))
    assert(early.nonEmpty && interpreted.isEmpty,
      s"${interpreted.size} of ${early.size} stage 0-1 SQL jobs interpreted: " +
        interpreted.map(_.description).distinct)
    val compiled = late.filterNot(_.factoryMode.contains("NO_CODEGEN"))
    assert(late.nonEmpty && compiled.isEmpty,
      s"${compiled.size} of ${late.size} stage 2-9 SQL jobs not interpreted: " +
        compiled.map(j => s"${j.description} (${j.factoryMode})").distinct)
  }

  /** Runs `body` with both codegen confs set to sentinel values (Spark's
    * defaults, set explicitly, so "restored" differs from "unset"), asserts
    * that `body` leaves them as it found them, then unsets them. */
  private def withSentinelConfs[T](body: => T): T = {
    val sentinel = Seq("true", "FALLBACK")
    CodegenConfs.keys.zip(sentinel).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = body
      assert(CodegenConfs.of(spark) === sentinel.map(Some(_)))
      out
    } finally CodegenConfs.keys.foreach(spark.conf.unset)
  }

  test("RunPipeline: snapshot ZIP in -> full artifact tree out, stages 0-9") {
    val (rawRoot, outDir) = buildFixture()
    val ((logs, readBytes), jobs) = withSentinelConfs {
      JobsSeen.recording(spark) {
        ReadCountingFileSystem.counting(spark) {
          RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
        }
      }
    }
    val byStage = logs.map(l => (l.stage, l.name) -> l.status).toMap
    assert(byStage((0, "ingest")) === "success", logs.mkString("\n"))
    assert(byStage((1, "aggregate")) === "success", logs.mkString("\n"))
    assert(byStage((2, "unify")) === "success")
    assert(byStage((3, "label")) === "success")
    assert(byStage((4, "segment")) === "success")
    assert(byStage((5, "ml-prep")) === "success", logs.mkString("\n"))
    assert(byStage((6, "ml6")) === "success", logs.mkString("\n"))
    assert(byStage((7, "ml7-lstm")) === "skipped")
    assert(byStage((8, "tflite")) === "skipped")
    assert(byStage((9, "report")) === "success")

    // the artifact tree the reference's stages 1-9 leave behind
    def exists(p: String) = Files.exists(Paths.get(p))
    for (f <- Seq(
        s"$outDir/joined/apple/daily_cardio.csv",
        s"$outDir/joined/apple/daily_sleep.csv",
        s"$outDir/joined/apple/daily_activity.csv",
        s"$outDir/joined/apple/daily_meds_autoexport.csv",
        s"$outDir/joined/apple/daily_som_autoexport.csv",
        s"$outDir/joined/daily_unified.csv",
        s"$outDir/joined/daily_labeled.csv",
        s"$outDir/joined/segment_autolog.csv",
        s"$outDir/cv_summary.json",
        s"$outDir/confusion_matrices/cm_logreg_balanced_som_binary.json",
        s"$outDir/metrics/per_class_logreg_balanced_som_binary.csv",
        s"$outDir/metrics/ml6_extended_summary.csv",
        s"$outDir/RUN_REPORT.md"))
      assert(exists(f), s"missing artifact: $f\n${logs.mkString("\n")}")

    // cv_summary carries the reference's summary fields
    val cv = new String(Files.readAllBytes(Paths.get(s"$outDir/cv_summary.json")), "UTF-8")
    assert(cv.contains("\"model\": \"logreg_balanced\""))
    assert(cv.contains("\"target\": \"som_binary\""))
    assert(cv.contains("\"folds\""))

    // the extended frame has per-fold rows for all four families
    val ext = scala.io.Source.fromFile(s"$outDir/metrics/ml6_extended_summary.csv")
      .getLines().toSeq
    val models = ext.drop(1).map(_.split(",")(0)).distinct.sorted
    assert(models === Seq("gbt", "logreg_balanced", "rf", "svc"),
      s"extended families: $models")

    // published n_train must be the BOUNDED monthly train window the
    // folds actually train on (4 calendar months = at most 123 days),
    // not the all-non-val identity (~213 days on this 244-day fixture)
    val header = ext.head.split(",").zipWithIndex.toMap
    val nTrains = ext.drop(1).map(_.split(",")(header("n_train")).toLong)
    assert(nTrains.forall(n => n > 0 && n <= 123),
      s"n_train not bounded-window sized: $nTrains")

    // unified carries all five domains
    val unifiedHeader = scala.io.Source
      .fromFile(s"$outDir/joined/daily_unified.csv").getLines().next()
    for (c <- Seq("sleep_hours", "hr_mean", "total_steps", "med_any",
        "som_category_3class"))
      assert(unifiedHeader.contains(c), s"unified missing $c")

    val report = new String(Files.readAllBytes(Paths.get(s"$outDir/RUN_REPORT.md")), "UTF-8")
    assert(report.contains("P000001") && report.contains("2024-08-31"))

    // stage 1 reads export.xml in one pass and no later job rescans it
    val xmlRead = readBytes.collect { case (p, n) if p.endsWith("/export.xml") => n }.sum
    val passes = xmlRead.toDouble / Files.size(
      Paths.get(s"$outDir/extracted/apple/apple_health_export/export.xml"))
    assert(xmlRead > 0 && passes <= 2.0,
      f"export.xml read $passes%.2f times ($xmlRead bytes): $readBytes")

    // cv_summary's folds and the extended table's logreg_balanced rows
    // come from one prediction frame, so their metrics agree
    val cvFolds = ("\"fold\": (\\d+),[^}]*\"f1_macro\": ([^,]+), " +
        "\"balanced_accuracy\": ([^,]+), \"cohen_kappa\": ([^,}]+)").r
      .findAllMatchIn(cv)
      .map(m => m.group(1).toInt -> (2 to 4).map(i => m.group(i).toDouble))
      .toMap
    val extLogreg = ext.drop(1).map(_.split(","))
      .filter(_(header("model")) == "logreg_balanced")
      .map(r => r(header("fold_id")).toInt ->
        Seq("f1_macro", "balanced_accuracy", "cohen_kappa")
          .map(c => r(header(c)).toDouble))
      .toMap
    assert(cvFolds.nonEmpty && cvFolds == extLogreg,
      s"cv_summary folds $cvFolds vs extended logreg_balanced rows $extLogreg")

    // logistic regression is fit once per fittable fold: the jobs whose
    // call site runs through it are one direct fit's worth per fold
    val lrFrame = "graft.ml.Models$.logisticRegression"
    val oneFit = {
      import spark.implicits._
      val tiny = (0 until 40).map(i => (i % 2.0, i * 0.5, (i * 7 % 11).toDouble))
        .toDF("som_binary", "f1", "f2")
      JobsSeen.recording(spark) {
        Models.logisticRegression(tiny, tiny, Seq("f1", "f2"), "som_binary")
      }._2.count(_.callSites.contains(lrFrame))
    }
    val lrJobs = jobs.count(_.callSites.contains(lrFrame))
    assert(oneFit > 0 && lrJobs == oneFit * cvFolds.size,
      s"$lrJobs logistic-regression jobs for ${cvFolds.size} fold(s); " +
        s"one fit submits $oneFit")

    assertStageLabelled(jobs)
    assertInterpretedAfterStage1(jobs)

    // stage 1 runs one branch per output concurrently, so jobs building
    // two different outputs overlap in time
    val stage1Jobs = jobs.filter(_.description.startsWith("stage 1 "))
    assert(stage1Jobs.exists(a => stage1Jobs.exists(b =>
        a.description != b.description && a.overlaps(b))),
      "no two stage-1 outputs overlap: " +
        stage1Jobs.map(j => s"${j.description} [${j.start}, ${j.end}]"))
  }

  test("RunPipeline: a failing stage-1 branch is a named stage failure") {
    // Medications.csv's header drifted: `When` where `Date` was
    val (rawRoot, outDir) = buildFixture(medsDate = "When")
    val (logs, jobs) = withSentinelConfs {
      JobsSeen.recording(spark) {
        RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
      }
    }
    val last = logs.last
    assert((last.stage, last.name, last.status) === ((1, "aggregate", "failed")),
      logs.mkString("\n"))
    assert(last.detail.startsWith("apple/daily_meds_autoexport: ") &&
      last.detail.contains("`Date`") && !last.detail.contains("\n"), last.detail)
    // stage 2 never starts
    assert(logs.forall(_.stage <= 1), logs.mkString("\n"))
    assert(!jobs.exists(_.description.startsWith("stage 2")))
    assertStageLabelled(jobs)
    // the sibling branches finished their writes first, and no write was
    // left half done
    val files = scala.util.Using.resource(
      Files.walk(Paths.get(outDir, "joined")))(_.iterator().asScala.map(_.toString).toSeq)
    for (f <- Seq("apple/daily_cardio", "apple/daily_sleep",
        "apple/daily_activity", "apple/daily_som_autoexport"))
      assert(files.contains(s"$outDir/joined/$f.csv"), s"missing $f: $files")
    assert(!files.exists(_.endsWith("daily_meds_autoexport.csv")), files)
    assert(!files.exists(_.endsWith(".__tmp__")), files)
  }

  test("RunPipeline: a failing stage 2-9 is a named stage failure") {
    // A Zepp daily SLEEP CSV reaches stage 2, whose sleep unify reads the
    // Apple sleep contract (sleep_hours, sleep_quality_score) that the
    // Zepp frame does not carry yet. Once the Zepp columns are mapped,
    // this case needs another stage-2 schema fault.
    val (rawRoot, outDir) = buildFixture(zeppSleep = true)
    val (logs, jobs) = withSentinelConfs {
      JobsSeen.recording(spark) {
        RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
      }
    }
    val byStage = logs.map(l => (l.stage, l.name) -> l).toMap
    assert(byStage((1, "aggregate")).status === "success", logs.mkString("\n"))
    assert(byStage((1, "aggregate")).detail.contains("zepp/daily_sleep"),
      logs.mkString("\n"))
    val last = logs.last
    assert((last.stage, last.name, last.status) === ((2, "unify", "failed")),
      logs.mkString("\n"))
    assert(last.detail.contains("sleep_hours") && !last.detail.contains("\n"),
      last.detail)
    assert(!jobs.exists(_.description.matches("stage [3-9] .*")),
      jobs.map(_.description).distinct)
    assertStageLabelled(jobs)
  }

  /** Replaces the fixture's Apple ZIP with `bytes`. */
  private def replaceAppleZip(rawRoot: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(rawRoot, "P000001", "apple", "export",
      "HealthAutoExport-2024-08-31.zip"), bytes)

  /** Rewrites the fixture's Apple ZIP, passing each entry's name and
    * content through `edit` (None drops the entry). */
  private def editAppleZip(rawRoot: String)(
      edit: (String, Array[Byte]) => Option[Array[Byte]]): Unit = {
    val zin = new java.util.zip.ZipInputStream(Files.newInputStream(Paths.get(
      rawRoot, "P000001", "apple", "export", "HealthAutoExport-2024-08-31.zip")))
    val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zin.readAllBytes()).toList
    zin.close()
    val bytes = new java.io.ByteArrayOutputStream
    val zos = new ZipOutputStream(bytes)
    for ((name, content) <- entries; kept <- edit(name, content)) {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(kept)
      zos.closeEntry()
    }
    zos.close()
    replaceAppleZip(rawRoot, bytes.toByteArray)
  }

  test("RunPipeline: a failing stage 0 is a named stage failure") {
    // a zip-slip entry: its path escapes the extraction directory
    val (rawRoot, outDir) = buildFixture()
    val bytes = new java.io.ByteArrayOutputStream
    val zos = new ZipOutputStream(bytes)
    zos.putNextEntry(new ZipEntry("../../escaped.txt"))
    zos.write("x".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    replaceAppleZip(rawRoot, bytes.toByteArray)
    val (logs, jobs) = JobsSeen.recording(spark) {
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
    }
    assert(logs.size === 1, logs.mkString("\n"))
    val l = logs.head
    assert((l.stage, l.name, l.status) === ((0, "ingest", "failed")), l)
    assert(l.detail.contains("escapes destination") && !l.detail.contains("\n"),
      l.detail)
    assert(!jobs.exists(_.description.startsWith("stage 1")),
      jobs.map(_.description).distinct)
    assert(!Files.exists(Paths.get(outDir).resolve("escaped.txt")))
  }

  test("RunPipeline: a wrong Zepp password is a named stage-0 failure") {
    // SURVEY records no reference behaviour here: the run stops at stage 0
    // with the decryptor's cause
    val zipBin = new java.io.File("/usr/bin/zip")
    assume(zipBin.exists(), "system zip not available")
    val (rawRoot, outDir) = buildFixture()
    val zeppDir = Paths.get(rawRoot, "P000001", "zepp")
    Files.createDirectories(zeppDir)
    val csv = Files.createTempDirectory("graft-zepp").resolve("HEARTRATE_1725105600000.csv")
    Files.write(csv, "time,heartRate\n2024-08-30 10:00:00,64\n".getBytes("UTF-8"))
    val zeppZip = zeppDir.resolve("3075021620_1725105600000.zip")
    val p = new ProcessBuilder("/usr/bin/zip", "-j", "-e", "-P", "s3cret!",
      zeppZip.toString, csv.toString).redirectErrorStream(true).start()
    assert(p.waitFor() == 0, "zip -e failed")
    // stage 0 selects only a Zepp ZIP modified before the snapshot's end
    Files.setLastModifiedTime(zeppZip, java.nio.file.attribute.FileTime
      .from(java.time.Instant.parse("2024-08-31T12:00:00Z")))
    val (logs, jobs) = JobsSeen.recording(spark) {
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir,
        RunPipeline.Config(zeppPassword = Some("wrong")))
    }
    assert(logs.size === 1, logs.mkString("\n"))
    val l = logs.head
    assert((l.stage, l.name, l.status) === ((0, "ingest", "failed")), l)
    assert(l.detail.contains("wrong password") && !l.detail.contains("\n"), l.detail)
    assert(!jobs.exists(_.description.startsWith("stage 1")),
      jobs.map(_.description).distinct)
  }

  test("RunPipeline: an Apple ZIP with no entries names the missing inputs") {
    // ZipInputStream reads no entry from bytes that are not an archive
    val (rawRoot, outDir) = buildFixture()
    replaceAppleZip(rawRoot, "not a zip archive".getBytes("UTF-8"))
    val logs = RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
    assert(logs.map(l => (l.stage, l.status)) === Seq(0 -> "success", 1 -> "failed"),
      logs.mkString("\n"))
    assert(logs.last.detail.contains("export.xml") &&
      logs.last.detail.contains("HealthAutoExport-2024-08-31.zip"), logs.last.detail)
  }

  test("RunPipeline: a truncated export.xml fails stage 1's Apple scan") {
    // the Apple ZIP's export.xml ends inside the last HR record's
    // startDate attribute, with no closing </HealthData>: that record's
    // wall_date is to_date(""), which the ANSI default rejects
    val (rawRoot, outDir) = buildFixture()
    editAppleZip(rawRoot) { (name, content) =>
      if (!name.endsWith("export.xml")) Some(content) else {
        val xml = new String(content, "UTF-8")
        val lastHr = xml.lastIndexOf("type=\"HKQuantityTypeIdentifierHeartRate\"")
        val cut = xml.indexOf("startDate=\"", lastHr) + "startDate=\"2024-08".length
        Some(xml.substring(0, cut).getBytes("UTF-8"))
      }
    }
    val (logs, jobs) = JobsSeen.recording(spark) {
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
    }
    val last = logs.last
    assert((last.stage, last.name, last.status) === ((1, "aggregate", "failed")),
      logs.mkString("\n"))
    assert(last.detail.startsWith("apple/export.xml: ") &&
      last.detail.contains("CAST_INVALID_INPUT") &&
      !last.detail.contains("\n"), last.detail)
    assert(!jobs.exists(_.description.startsWith("stage 2")),
      jobs.map(_.description).distinct)
  }

  test("RunPipeline: SoM-less snapshot degrades to stages 0-4 + report") {
    val (rawRoot, outDir) = buildFixture()
    // strip StateOfMind from the fixture by rebuilding the zip without it
    editAppleZip(rawRoot)((name, content) =>
      Option.when(!name.contains("StateOfMind"))(content))

    val out2 = s"$outDir-nosom"
    val (logs, jobs) = JobsSeen.recording(spark) {
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", out2)
    }
    val byStage = logs.map(l => (l.stage, l.name) -> l.status).toMap
    assert(byStage((4, "segment")) === "success")
    assert(byStage((5, "ml-prep")) === "skipped")
    assert(byStage((9, "report")) === "success")
    assert(Files.exists(Paths.get(s"$out2/RUN_REPORT.md")))
    assert(!Files.exists(Paths.get(s"$out2/cv_summary.json")))
    assertStageLabelled(jobs)
    assertInterpretedAfterStage1(jobs)
    // confs unset before the run are unset after it
    assert(CodegenConfs.of(spark) === Seq(None, None))
  }
}
