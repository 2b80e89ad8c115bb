package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5 — distributed XML record scan (SURVEY §2.1).
  *
  * The reference streams a 1.5 GB Apple Health `export.xml` through a
  * byte-regex, matching `<Record type="…" value="…" startDate="…"/>`
  * elements one per physical line (HR: `src/etl/stage_csv_aggregation
  * .py:283-366`; cardio variant: `src/domains/cardiovascular/
  * cardio_from_extracted.py:80-266`).
  *
  * Spark-native: `spark.read.text` splits the file across executors (the
  * one-record-per-line layout makes line splits safe), a `contains` filter
  * drops non-matching lines BEFORE any regex work (the reference's
  * "compile the type into the scan" trick — Catalyst orders the cheap
  * filter first for free), and `regexp_extract` pulls the attributes.
  * Unlike the reference, this parallelizes across the file's byte ranges —
  * the single-file RAM wall (SURVEY §4) disappears.
  */
object XmlRecordScan {

  /** Extract an XML attribute value from a record line. */
  def attr(line: Column, name: String): Column =
    regexp_extract(line, s"""$name="([^"]*)"""", 1)

  /** Scan `path` for `<Record>` lines of the given `types`. Returns
    * (record_type, value, start_ts, end_ts, wall_date, source_name) with
    * the Apple timestamp format `yyyy-MM-dd HH:mm:ss Z` parsed tz-aware.
    * `value` stays a string — sleep records carry categorical values
    * (`HKCategoryValueSleepAnalysisAsleep`); numeric callers `try_cast`.
    * A missing `startDate`/`endDate` gives a null timestamp (point samples
    * such as HR may omit `endDate`).
    *
    * One scan serves many consumers: pass every type they need, then route
    * rows by `record_type`. The snapshot pipeline reads `export.xml` once
    * this way (`ReferencePipeline.appleRecords`) and materializes the
    * result, instead of one file pass per domain. */
  def records(spark: SparkSession, path: String, types: Seq[String]): DataFrame = {
    val lines = spark.read.text(path)
    val typePred = types.map(t => col("value").contains(s"""type="$t"""")).reduce(_ || _)
    lines
      .filter(col("value").contains("<Record ") && typePred)
      // tolerate multiple <Record/> elements on one physical line (SURVEY
      // §7.5.7 risk): lookahead-split the line, one row per element. For
      // the canonical one-record-per-line layout this is a single-element
      // array — no row-count change, negligible cost.
      .select(explode(split(col("value"), "(?=<Record )")).as("value"))
      .filter(col("value").contains("<Record ") && typePred)
      .select(
        attr(col("value"), "type").as("record_type"),
        attr(col("value"), "value").as("value"),
        // a record without the attribute gets a null timestamp; a present
        // but malformed one still fails the parse
        to_timestamp(attrOpt(col("value"), "startDate"), "yyyy-MM-dd HH:mm:ss Z")
          .as("start_ts"),
        to_timestamp(attrOpt(col("value"), "endDate"), "yyyy-MM-dd HH:mm:ss Z")
          .as("end_ts"),
        // the reference's `_get_date_from_dt` keeps the record's LOCAL
        // wall-clock date (offset preserved, not converted to UTC) — the
        // first 10 chars of the raw attribute ARE that date.
        to_date(substring(attr(col("value"), "startDate"), 1, 10)).as("wall_date"),
        attr(col("value"), "sourceName").as("source_name"))
  }

  /** S6-lite — `<ActivitySummary dateComponents=… activeEnergyBurned=…/>`
    * attribute rows (`src/domains/activity/activity_from_extracted
    * .py:139-173`). */
  def activitySummaries(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(col("value").contains("<ActivitySummary "))
      .select(
        to_date(attr(col("value"), "dateComponents")).as("date"),
        attr(col("value"), "activeEnergyBurned").cast("double").as("active_energy"),
        attr(col("value"), "appleExerciseTime").cast("double").as("exercise_min"),
        attr(col("value"), "appleStandHours").cast("double").as("stand_hours"))

  /** Missing-attribute-safe extraction: empty string -> null before cast. */
  private def attrOpt(line: Column, name: String): Column = {
    val raw = attr(line, name)
    when(raw === "", lit(null)).otherwise(raw)
  }

  /** Aggregate: last NON-NULL value in `__ord` (document) order — pandas
    * dict-assignment semantics for repeated per-date summaries. */
  private def lastAssigned(c: String): Column =
    max_by(col(c), when(col(c).isNotNull, col("__ord"))).as(c)

  /** S6 — the full `load_apple_daily` export.xml contract
    * (`src/domains/activity/activity_from_extracted.py:123-280`):
    * Record/Workout elements with activity-relevant types are routed by
    * the reference's substring priority (Step > Distance > ActiveEnergy >
    * ExerciseTime > Stand) and summed per LOCAL day (UTC -> `homeTz`,
    * unlike HR records which keep wall-clock dates); ActivitySummary
    * elements carry the kcal/exercise/stand totals, goals, and ring-close
    * flags. Where a date has both, the summary ASSIGNMENT wins over the
    * record-accumulated sum — the canonical export.xml layout puts
    * ActivitySummary blocks after all Records, so the reference's loop
    * overwrites; records after a summary would re-accumulate, a layout
    * Apple exports do not produce.
    * Steps add `int(value)` (truncation toward zero), distance stays
    * meters. Checked 1:1 against the reference by
    * tools/reference_parity.py. */
  def appleActivityDaily(spark: SparkSession, path: String,
                         homeTz: String): DataFrame = {
    // same multi-element-per-line guard as records() (SURVEY §7.5.7):
    // lookahead-split so a line carrying several elements yields one row
    // per element instead of silently dropping all but the first
    val lines = spark.read.text(path)
      .select(explode(split(col("value"),
        "(?=<Record )|(?=<Workout )|(?=<ActivitySummary )")).as("value"))

    // ---- Record / Workout branch ----
    val recs = lines
      .filter(col("value").contains("<Record ") || col("value").contains("<Workout "))
      .select(
        attr(col("value"), "type").as("t"),
        attrOpt(col("value"), "value").try_cast("double").as("v"),
        coalesce(attrOpt(col("value"), "startDate"),
          attrOpt(col("value"), "creationDate")).as("sdt"))
      .filter(col("v").isNotNull && col("sdt").isNotNull)
      .withColumn("date",
        to_date(from_utc_timestamp(
          to_timestamp(col("sdt"), "yyyy-MM-dd HH:mm:ss Z"), homeTz)))
      .filter(col("date").isNotNull)
    val isStep = col("t").contains("StepCount") || col("t").contains("stepCount") ||
      col("t").contains("Step")
    val isDist = col("t").contains("Distance")
    val isKcal = col("t").contains("ActiveEnergy")
    val isExer = col("t").contains("ExerciseTime") || col("t").contains("AppleExerciseTime")
    val isStand = col("t").contains("StandHours") || col("t").contains("StandHour") ||
      col("t").contains("Stand")
    val cat = when(isStep, "steps").when(isDist, "dist").when(isKcal, "kcal")
      .when(isExer, "exer").when(isStand, "stand")
    val recDaily = recs
      .withColumn("cat", cat).filter(col("cat").isNotNull)
      .groupBy("date")
      .agg(
        sum(when(col("cat") === "steps",
          col("v").cast("long").cast("double"))).as("rec_steps"),
        sum(when(col("cat") === "dist", col("v"))).as("rec_dist"),
        sum(when(col("cat") === "kcal", col("v"))).as("rec_kcal"),
        sum(when(col("cat") === "exer", col("v"))).as("rec_exer"),
        sum(when(col("cat") === "stand", col("v"))).as("rec_stand"))

    // ---- ActivitySummary branch ----
    // the reference's dict ASSIGNMENT means the LAST summary in document
    // order wins for a duplicated date; file position (split offset +
    // row order) reproduces document order for a single export
    val ringClose = (c: Column) => when(c.isNull, lit(null))
      .otherwise(when(c.isin("1", "true", "True"), 1).otherwise(0))
    val sums = lines
      .filter(col("value").contains("<ActivitySummary "))
      .withColumn("__ord", monotonically_increasing_id())
      .select(col("__ord") +: Seq(
        to_date(coalesce(attrOpt(col("value"), "dateComponents"),
          attrOpt(col("value"), "date"),
          substring(attrOpt(col("value"), "startDate"), 1, 10))).as("date"),
        attrOpt(col("value"), "activeEnergyBurned").cast("double").as("sum_kcal"),
        attrOpt(col("value"), "appleExerciseTime").cast("double").as("sum_exer"),
        attrOpt(col("value"), "appleStandHours").cast("double").as("sum_stand"),
        attrOpt(col("value"), "activeEnergyBurnedGoal").cast("double")
          .as("apple_move_goal_kcal"),
        attrOpt(col("value"), "appleExerciseTimeGoal").cast("double")
          .as("apple_exercise_goal_min"),
        attrOpt(col("value"), "appleStandHoursGoal").cast("double")
          .as("apple_stand_goal_hours"),
        ringClose(attrOpt(col("value"), "move")).as("apple_rings_close_move"),
        ringClose(attrOpt(col("value"), "exercise")).as("apple_rings_close_exercise"),
        ringClose(attrOpt(col("value"), "stand")).as("apple_rings_close_stand")): _*)
      .filter(col("date").isNotNull)
      .groupBy("date")
      .agg(
        // per-field LAST non-null assignment (dict overwrite semantics,
        // skipping summaries that lack the attribute)
        lastAssigned("sum_kcal"), lastAssigned("sum_exer"),
        lastAssigned("sum_stand"), lastAssigned("apple_move_goal_kcal"),
        lastAssigned("apple_exercise_goal_min"),
        lastAssigned("apple_stand_goal_hours"),
        lastAssigned("apple_rings_close_move"),
        lastAssigned("apple_rings_close_exercise"),
        lastAssigned("apple_rings_close_stand"))

    recDaily.join(sums, Seq("date"), "full_outer")
      .select(
        col("date"),
        col("rec_steps").as("apple_steps"),
        col("rec_dist").as("apple_distance_m"),
        coalesce(col("sum_kcal"), col("rec_kcal")).as("apple_active_kcal"),
        coalesce(col("sum_exer"), col("rec_exer")).as("apple_exercise_min"),
        coalesce(col("sum_stand"), col("rec_stand")).as("apple_stand_hours"),
        col("apple_move_goal_kcal"), col("apple_exercise_goal_min"),
        col("apple_stand_goal_hours"), col("apple_rings_close_move"),
        col("apple_rings_close_exercise"), col("apple_rings_close_stand"))
  }

  /** S6 — CDA document probe (`src/domains/cda/parse_cda.py:26-120`):
    * streaming counts of section elements, observation elements, and
    * per-observation code counts (first `<code>` child's `code` attr,
    * falling back to `displayName`, then "unknown"; observations with no
    * code child count toward n_observation only).
    *
    * Distributed shape: the file is split on `<observation` boundaries
    * (`lineSep` text read — byte-range splittable, so a multi-GB CDA
    * export parallelizes), each chunk carrying one observation's subtree
    * prefix. Tag-name continuations (`observationMedia`, `observationRange`)
    * are excluded the same way the reference's endswith("observation")
    * tag test excludes them. Returns (key, cnt) rows: n_section,
    * n_observation, and code_<c> per code. Checked 1:1 against the
    * reference by tools/reference_parity.py. */
  def cdaProbe(spark: SparkSession, path: String): DataFrame = {
    // namespace-prefixed <v3:observation> tags survive the literal lineSep
    // split; a secondary lookahead split catches them so both forms count
    val chunks = spark.read.option("lineSep", "<observation").text(path)
      .select(explode(split(col("value"),
        "(?=<\\w+:observation[\\s/>])")).as("value"))
    val secPat = "(?i)<(?:\\w+:)?section[\\s/>]"
    // a true <observation ...> split point resumes with whitespace, '>' or
    // '/' (lineSep form) or with the prefixed tag itself (secondary form);
    // observationMedia/-Range resume with a letter; the preamble with '<'
    val obs = chunks.filter(col("value").rlike("^[\\s/>]") ||
        col("value").rlike("^<\\w+:observation[\\s/>]"))
      .withColumn("own",
        element_at(split(col("value"), "</(?:\\w+:)?observation"), 1))
      .withColumn("code_tag",
        regexp_extract(col("own"), "(?i)(<(?:\\w+:)?code\\b[^>]*)", 1))
    def nonEmpty(c: Column) = when(c === "", lit(null)).otherwise(c)
    val withCode = obs.withColumn("code",
      when(col("code_tag") === "", lit(null)).otherwise(
        coalesce(
          nonEmpty(regexp_extract(col("code_tag"), "\\scode=\"([^\"]*)\"", 1)),
          nonEmpty(regexp_extract(col("code_tag"), "displayName=\"([^\"]*)\"", 1)),
          lit("unknown"))))
    val secRow = chunks
      .agg(coalesce(sum(regexp_count(col("value"), lit(secPat))), lit(0L))
        .cast("long").as("cnt"))
      .select(lit("n_section").as("key"), col("cnt"))
    val obsRow = withCode.agg(count(lit(1)).as("cnt"))
      .select(lit("n_observation").as("key"), col("cnt"))
    val codeRows = withCode.filter(col("code").isNotNull)
      .groupBy("code").agg(count(lit(1)).as("cnt"))
      .select(concat(lit("code_"), col("code")).as("key"), col("cnt"))
    secRow.unionByName(obsRow).unionByName(codeRows)
  }

  /** S6 — Apple screen-time extraction
    * (`src/domains/extract_screen_time.py:20-95`): Record elements whose
    * type contains "screentime" (case-insensitive); seconds come from the
    * value attribute with the reference's PER-RECORD ms heuristic
    * (> 36 h -> /1000), falling back to end - start; days are the START
    * timestamp's local date under the C2 timezone CUTOVER (target tz
    * decided by the record's UTC date vs `cutover`). Output:
    * (date, screen_time_min, source). Checked 1:1 against the reference
    * by tools/reference_parity.py. */
  def screenTimeDaily(spark: SparkSession, path: String, cutover: String,
                      tzBefore: String, tzAfter: String): DataFrame = {
    // multi-element-per-line guard, as in records()/appleActivityDaily
    val lines = spark.read.text(path)
      .select(explode(split(col("value"), "(?=<Record )")).as("value"))
    val startUtc = to_timestamp(attrOpt(col("value"), "startDate"),
      "yyyy-MM-dd HH:mm:ss Z")
    val endUtc = to_timestamp(attrOpt(col("value"), "endDate"),
      "yyyy-MM-dd HH:mm:ss Z")
    val targetTz = when(to_date(startUtc) < lit(cutover).cast("date"), tzBefore)
      .otherwise(tzAfter)
    val rawSec = attrOpt(col("value"), "value").try_cast("double")
    val valSec = when(rawSec > 36 * 3600, rawSec / 1000.0).otherwise(rawSec)
    val spanSec = greatest(
      (unix_timestamp(endUtc) - unix_timestamp(startUtc)).cast("double"), lit(0.0))
    lines
      .filter(col("value").contains("<Record ") &&
        lower(attr(col("value"), "type")).contains("screentime"))
      .select(startUtc.as("start_utc"),
        coalesce(valSec, when(endUtc.isNotNull, spanSec)).as("seconds"),
        targetTz.as("tz"))
      .filter(col("start_utc").isNotNull && col("seconds").isNotNull)
      .groupBy(to_date(from_utc_timestamp(col("start_utc"), col("tz"))).as("date"))
      .agg((sum("seconds") / 60.0).as("screen_time_min"))
      .withColumn("source", lit("AppleHealth"))
  }
}
