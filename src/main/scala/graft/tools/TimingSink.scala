package graft.tools

import org.apache.spark.sql.DataFrame

/** The timing sink `Bench` consumes a query through, and the one
  * `PlanAudit`'s `loj_agg` column points hand-rolled timers to.
  *
  * `df.count()` is NOT a valid timing sink: it wraps the plan in a new
  * count aggregate and re-optimizes, and the optimizer is then free to
  * DELETE work the query would do for a real consumer — most acutely
  * left-outer joins whose right side is an aggregate keyed on the join
  * columns (unique keys, only left-side output referenced -> the join
  * is eliminated wholesale, SPARK-36194). The ExactSubstr dedup family
  * ends in exactly that shape (docs LEFT JOIN per-doc aggregate), so a
  * count()-sink "measurement" of dd24/dd26 timed a bare parquet scan:
  * 20M docs in 0.35 s, with every window hash, occurrence aggregation,
  * and reassembly join optimized out. Discovered when the round-11
  * production-window probe returned fourth-scale rows faster than the
  * first-decade ones.
  *
  * `queryExecution.toRdd` executes the dataframe's OWN physical plan —
  * no count rewrite, every output column materialized (UnsafeRow), the
  * plan a real consumer (parquet sink, downstream stage) would pay.
  * Counting that RDD is the honest "run the query, discard the rows"
  * sink. The cost delta vs count() for non-eliminable queries is the
  * final projection of output columns, which a real consumer also pays.
  */
object TimingSink {
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
