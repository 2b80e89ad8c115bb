package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventQueries, IngestQueries, MlQueries, Query, RelationalQueries, TextQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps every implemented SURVEY §2 operator (plus the
  * training-data-pipeline extensions) to a deterministic query over the
  * driver testdata; `oracleSql` holds the DuckDB twin of each. Both are
  * derived from one list of [[graft.queries.Query]] records, so every
  * query has exactly one oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The PBSI end-to-end slice: per-user daily features -> per-segment
    * z-scores -> weighted clipped composite -> two-pass percentile labels
    * (SURVEY §7.3). */
  def entry(spark: SparkSession): DataFrame =
    queries("a13_pbsi")(spark, "/root/testdata/sf0.001")

  /** Every query record, names unique. */
  private[graft] lazy val all: Seq[Query] = distinctNames(EventQueries.queries ++
    RelationalQueries.queries ++ TextQueries.queries ++ MlQueries.queries ++
    IngestQueries.queries)

  /** `qs`, after checking that no two records share a name. */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every `round(x, s)` is rewritten to the
    * canonical epsilon-shifted rounding (see [[graft.functions.Canon]])
    * to match the Spark side. */
  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> graft.functions.Canon.epsifySql(q.oracle)).toMap
}
