package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round

/** Q1 — domain audit job (SURVEY §2.11).
  *
  * The reference's `src/etl/etl_audit.py` (1.9k LoC) loads each domain's
  * outputs and emits per-check rows (CRITICAL/WARNING + counts) plus a
  * PASS/FAIL verdict. Spark-native: every check is one aggregation over
  * the audited table; checks union into a single issues DataFrame. The
  * whole audit is a single pass (one multi-aggregate per table) — at
  * 100 TB the audit costs one scan, not one scan per check.
  */
object Audit {

  /** One audit rule: a named predicate counted over the table; rows where
    * `violation` is true count against the rule. */
  case class Rule(name: String, severity: String, violation: Column)

  /** Range-check rule builder (reference value-range checks). */
  def rangeRule(colName: String, lo: Double, hi: Double,
                severity: String = "CRITICAL"): Rule =
    Rule(s"${colName}_range", severity,
      col(colName).isNotNull && !col(colName).between(lo, hi))

  /** Null-fraction rule: fires per-row on nulls; the threshold is applied
    * by the caller on the resulting fraction. */
  def nullRule(colName: String, severity: String = "WARNING"): Rule =
    Rule(s"${colName}_null", severity, col(colName).isNull)

  /** Run all rules in ONE aggregation pass; returns
    * (rule, severity, n_violations, n_rows, violation_pct). */
  def run(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val aggs = rules.map(r =>
      sum(when(r.violation, 1).otherwise(0)).as(r.name)) :+
      count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // explode the single agg row rather than unioning per-rule selects:
    // a union of N selects over the agg re-executes the scan N times
    val structs = rules.map(r =>
      struct(lit(r.name).as("rule"), lit(r.severity).as("severity"),
        col(r.name).as("n_violations"), col("__n").as("n_rows")))
    row.select(explode(array(structs: _*)).as("r")).select("r.*")
      .withColumn("violation_pct",
        round(col("n_violations") * 100.0 / col("n_rows"), 6))
  }

  /** One referential-integrity edge: `child.childKey` must resolve in
    * `parent.parentKey`. */
  case class FkEdge(name: String, child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String)

  /** Q6/Q7 — cross-table referential-integrity audit over arbitrary FK
    * edges: orphan foreign keys via left-anti equi-joins (plain hash
    * shuffles at any scale), one row per edge with total child rows and
    * orphan count. Parameterized so the same audit runs on the TPC-H FK
    * chain and on pipeline-derived corpus tables (chunk/signature/cluster
    * doc_id integrity). Each orphan count is a 1-row frame broadcast into
    * the per-edge result (the global-stat pattern); the union is bounded
    * by the edge list, not the data. */
  def refIntegrity(edges: Seq[FkEdge]): DataFrame = {
    require(edges.nonEmpty, "refIntegrity: no edges")
    edges.map { e =>
      // alias the parent key so same-named FK columns (doc_id -> doc_id
      // on derived corpus tables) don't make the equi-condition ambiguous
      val orphans = e.child.select(col(e.childKey))
        .join(e.parent.select(col(e.parentKey).as("__parent_key")),
          col(e.childKey) === col("__parent_key"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val total = e.child.agg(count(lit(1)).as("n_child"))
      total.crossJoin(broadcast(orphans))
        .select(lit(e.name).as("fk_edge"), col("n_child"), col("n_orphans"),
          (col("n_orphans") === 0).cast("int").as("ok"))
    }.reduce(_ unionByName _)
  }

  /** Q3 — degenerate-label assertion: a label column must carry more than
    * one distinct value (`src/labels/build_pbsi.py:276-277`). */
  def assertNonDegenerate(df: DataFrame, labelCol: String): Unit = {
    val n = df.select(countDistinct(col(labelCol))).head().getLong(0)
    require(n > 1, s"degenerate labels: $labelCol has $n distinct value(s)")
  }

  /** Q3 — duplicate-key assertion (`src/features/unify_daily.py:332`). */
  def assertUniqueKey(df: DataFrame, keyCols: Seq[String]): Unit = {
    val dups = df.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dups == 0, s"duplicate keys on (${keyCols.mkString(", ")})")
  }
}
