package graft

import org.apache.spark.sql.functions._
import graft.core.Sinks
import graft.operators.{Folds, Segmentation}

/** S13 sinks, J7 vendor priority, M2 calendar folds, M4 ablation, W9
  * auto-segmentation rules. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("S13: atomic CSV write with .prev backup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val target = s"$dir/daily.csv"
    Sinks.atomicCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), target)
    assert(new java.io.File(target).exists())
    Sinks.atomicCsv(Seq((3, "c")).toDF("id", "v"), target)
    assert(new java.io.File(target + ".prev").exists())
    val current = scala.io.Source.fromFile(target).getLines().toSeq
    assert(current.contains("3,c"))
    val prev = scala.io.Source.fromFile(target + ".prev").getLines().toSeq
    assert(prev.contains("1,a"))
  }

  test("S13: write guard refuses protected prefixes") {
    val df = Seq(1).toDF("x")
    intercept[IllegalArgumentException] {
      Sinks.guardedWrite(df, "/protected/data/ai/out.csv", Seq("/protected/data/ai")) {
        (_, _) => fail("should not be called")
      }
    }
  }

  test("J7: first non-empty candidate wins, provenance attached") {
    val empty = spark.emptyDataFrame.withColumn("v", lit(1)).filter(lit(false))
    val apple = Seq(1, 2).toDF("v")
    val zepp = Seq(3).toDF("v")
    val picked = Folds.firstNonEmpty(Seq(
      "apple_export" -> empty, "apple_autoexport" -> apple, "zepp_cloud" -> zepp))
    assert(picked.isDefined)
    assert(picked.get._1 === "apple_autoexport")
    assert(picked.get._2.select("vendor").head().getString(0) === "apple_autoexport")
  }

  test("M2 exact: month-end clamping, anchor scan, and fold skip rules") {
    // 600 days from a month-END anchor; labels mix immediately, so the
    // anchor stays at 2023-10-31 and every month-add clamps:
    // +4mo -> 2024-02-29 (leap), +2mo -> 2024-04-29, fold 1 start
    // 2024-04-30 (+6mo composed) — parity-verified vs the reference
    val daily = (0 until 600).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2023, 10, 31).plusDays(i)),
        i % 3 - 1)
    }.toDF("date", "label_3cls")
    val out = Folds.calendarFoldsMonthly(daily, "date", "label_3cls")
      .orderBy("fold_id").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    assert(out(0).getDate(1).toString === "2023-10-31")
    assert(out(0).getDate(2).toString === "2024-02-29") // clamped leap day
    assert(out(0).getDate(4).toString === "2024-04-29")
    assert(out(1).getDate(1).toString === "2024-04-30") // composed clamp
    // 200-day single-class prefix: anchor scan (180-row window) advances
    // to the first row whose window reaches the mixed region
    val prefixed = (0 until 600).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2023, 10, 31).plusDays(i)),
        if (i < 200) 0 else i % 3 - 1)
    }.toDF("date", "label_3cls")
    val anchored = Folds.calendarFoldsMonthly(prefixed, "date", "label_3cls")
      .orderBy("fold_id").collect()
    // anchor = row 21 (2023-11-21): first 180-row window reaching the
    // mixed region. Fold 0's train (anchor..+4mo) is still single-class
    // -> skipped WITHOUT renumbering; the survivor is fold 1 at
    // anchor+6mo (parity-verified against the reference's skip log).
    assert(anchored.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(anchored(0).getDate(1).toString === "2024-05-21")
    // pandas .unique() counts NaN as a class: a {0, null} window/train
    // split has TWO classes. Nulls start at day 100, so the very first
    // 180-row window already mixes 0 and null (anchor stays at the
    // minimum date) and fold 0's train (days 0..121) mixes them too —
    // both checks must treat null as a class for the fold to survive.
    val withNulls = (0 until 600).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2023, 10, 31).plusDays(i)),
        if (i < 100) Some(0) else None)
    }.toDF("date", "label_3cls")
    val nf = Folds.calendarFoldsMonthly(withNulls, "date", "label_3cls")
      .orderBy("fold_id").collect()
    // folds 1/2 train all-null -> single class -> skipped
    assert(nf.map(_.getInt(0)).toSeq === Seq(0))
    assert(nf(0).getDate(1).toString === "2023-10-31")
  }

  test("M4: ablation projects feature sets; best config is deterministic") {
    val df = Seq((1, 1.0, 2.0, 3.0)).toDF("k", "f1", "f2", "f3")
    val sets = Folds.ablation(df, Seq("k"),
      Map("FS-A" -> Seq("f1"), "FS-B" -> Seq("f1", "f2")))
    assert(sets("FS-A").columns.toSeq === Seq("k", "f1"))
    assert(sets("FS-B").columns.toSeq === Seq("k", "f1", "f2"))
    val metrics = Seq(("FS-A", 0.7), ("FS-B", 0.9), ("FS-C", 0.9))
      .toDF("config", "macro_f1")
    // tie between B and C at 0.9 -> lexicographically first wins
    assert(Folds.bestConfig(metrics, "config", "macro_f1") === "FS-B")
  }

  test("W9: delta-shift rule fires on a level change, gap rule wins first") {
    val daily = ((0 until 10).map(i => ("u", f"2024-01-${i + 1}%02d", 10.0)) ++
      (12 until 20).map(i => ("u", f"2024-01-${i + 1}%02d", 50.0)))
      .toDF("u", "d", "x").withColumn("d", col("d").cast("date"))
    val seg = Segmentation.autoSegment(daily, "u", "d", "x",
      k = 3, deltaThreshold = 5.0, minDensity = 0.5, gapDays = 1)
    val reasons = seg.filter(col("seg_reason").isNotNull)
      .orderBy("d").select("seg_reason").collect().map(_.getString(0))
    assert(reasons.head === "initial")
    assert(reasons.contains("gap_recovery")) // the jump is also a date gap
    assert(seg.agg(max("segment_id")).head().getLong(0) >= 2L)
  }
}
