package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-source daily fusion operators (SURVEY.md §2.3 J1-J11, §2.7 U1-U2).
  *
  * The reference unifier (`src/etl/stage_unify_daily.py:418-490`) builds a
  * date spine as the union of every domain's dates, then left-joins each
  * domain and fuses vendors (Apple > Zepp) column-wise. All joins are
  * equi-joins on the daily grain: at scale the daily tables are tiny
  * relative to event tables, so every join here is broadcast-friendly —
  * callers joining a daily table onto an event table should wrap the daily
  * side in `broadcast(...)`.
  */
object Unify {

  /** J2/U2 — date spine: distinct union of the `date` columns of every
    * input, the canonical grain for all downstream joins.
    * Reference: `src/etl/stage_unify_daily.py:440-460`. */
  private def dateSpine(domains: Seq[DataFrame]): DataFrame =
    domains.map(_.select(col("date"))).reduce(_ union _).distinct()

  /** J2 — spine + chained left joins of each domain.
    * Reference: `src/etl/stage_unify_daily.py:440-460`. */
  def unifyAll(domains: Seq[DataFrame]): DataFrame =
    domains.foldLeft(dateSpine(domains))((spine, d) => spine.join(d, Seq("date"), "left"))

  /** J3 — fill-missing-dates preference merge: all rows of `preferred`,
    * plus only those rows of `fallback` whose date is absent from
    * `preferred` (a left-anti join + union).
    * Reference: `src/etl/stage_unify_daily.py:104-110`. */
  def preferByDate(preferred: DataFrame, fallback: DataFrame): DataFrame =
    preferred.unionByName(
      fallback.join(preferred.select("date"), Seq("date"), "left_anti"),
      allowMissingColumns = true)

  /** J4/J5 — union + grouped fusion: concat vendor frames (schema-aligned
    * by name, missing columns null-padded like pandas concat sort=False)
    * then one aggregate per date. `aggs` decides mean-vs-sum per column.
    * Reference: `src/etl/stage_unify_daily.py:152-163` (mean, cardio),
    * `:206-215` (sum, activity). */
  def unionFuse(frames: Seq[DataFrame], aggs: Seq[Column]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
      .groupBy("date")
      .agg(aggs.head, aggs.tail: _*)

  /** J6 — column-wise coalesce merge with provenance: full-outer join on
    * date, take the preferred vendor's value per column, and record which
    * vendor supplied each row ("a", "b", or "none") plus a missing flag.
    * Reference: `src/features/unify_daily.py:251-319`. */
  def coalesceMerge(a: DataFrame, b: DataFrame, valueCols: Seq[String],
                    sourceName: String): DataFrame = {
    val ap = valueCols.foldLeft(a)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val bp = valueCols.foldLeft(b)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val joined = ap.join(bp, Seq("date"), "full_outer")
    val fused = valueCols.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(s"a_$c"), col(s"b_$c"))))
    val anyA = valueCols.map(c => col(s"a_$c").isNotNull).reduce(_ || _)
    val anyB = valueCols.map(c => col(s"b_$c").isNotNull).reduce(_ || _)
    fused
      .withColumn(s"source_$sourceName",
        when(anyA, "a").when(anyB, "b").otherwise("none"))
      .withColumn(s"missing_$sourceName",
        when(valueCols.map(c => col(c).isNull).reduce(_ && _), 1).otherwise(0))
      .drop(valueCols.flatMap(c => Seq(s"a_$c", s"b_$c")): _*)
  }

  /** J8 — attach a segment id via a range predicate
    * (`seg.start <= d <= seg.end`). The segment table is tiny, so force a
    * broadcast: a non-equi join otherwise degenerates to a cartesian
    * BroadcastNestedLoopJoin anyway — making the small side explicit keeps
    * it one pass over the fact table at any scale.
    * Reference: `src/utils/temporal_instability.py:36-64`. */
  def rangeAttach(facts: DataFrame, dateCol: String, segments: DataFrame,
                  startCol: String, endCol: String): DataFrame =
    facts.join(
      broadcast(segments),
      col(dateCol) >= col(startCol) && col(dateCol) <= col(endCol),
      "left")

  /** J13 — interval overlap join: all (a, b) pairs whose time intervals
    * `[aStart, aEnd]` and `[bStart, bEnd]` overlap (inclusive ends).
    * Spark has no native interval join — the naive `ON a.s <= b.e AND
    * b.s <= a.e` is a nested-loop product over the whole input. This is
    * the bucketed formulation instead: every interval replicates to the
    * fixed-width time buckets it spans, candidates meet in a bucket
    * EQUI-join, the exact overlap predicate filters them, and each
    * qualifying pair is kept only in its "responsibility bucket" —
    * `floor(max(aStart, bStart) / W)`, the first bucket where both are
    * present — so no pair ever emits twice and no distinct shuffle is
    * needed.
    *
    * Scale contract: replication per interval is `len/W + 1` buckets —
    * pick `bucketSecs` near the typical interval length (the classic
    * binned spatial-join sizing); candidate volume per bucket is governed
    * by interval density per bucket, never the table sizes. Timestamps
    * are compared on floored epoch seconds (`cast long`), matching a SQL
    * twin's `epoch_us(ts) // 1000000` arithmetic exactly.
    */
  def intervalJoin(a: DataFrame, b: DataFrame,
                   aStart: String, aEnd: String,
                   bStart: String, bEnd: String,
                   bucketSecs: Long): DataFrame = {
    require(bucketSecs > 0, "bucketSecs must be positive")
    val clashes = (a.columns.toSet ++ b.columns.toSet)
      .intersect(Set("__ij_bkt", "__ij_bkt_b"))
    require(clashes.isEmpty,
      s"intervalJoin: input columns collide with reserved names: " +
        s"${clashes.toSeq.sorted.mkString(", ")}")
    def bucketed(df: DataFrame, s: String, e: String): DataFrame = {
      val lo = floor(col(s).cast("long") / bucketSecs)
      val hi = floor(col(e).cast("long") / bucketSecs)
      df.withColumn("__ij_bkt", explode(sequence(lo, hi)))
    }
    val ab = bucketed(a, aStart, aEnd)
    val bb = bucketed(b, bStart, bEnd)
      .withColumnRenamed("__ij_bkt", "__ij_bkt_b")
    ab.join(bb, col("__ij_bkt") === col("__ij_bkt_b"))
      .filter(col(aStart).cast("long") <= col(bEnd).cast("long") &&
        col(bStart).cast("long") <= col(aEnd).cast("long"))
      .filter(col("__ij_bkt") ===
        floor(greatest(col(aStart).cast("long"), col(bStart).cast("long")) /
          bucketSecs))
      .drop("__ij_bkt", "__ij_bkt_b")
  }

  /** J12 — as-of join: for every `left` row attach the `right` row with the
    * same key and the nearest `rightTs` at-or-before `leftTs` ("backward",
    * the default) or at-or-after it ("forward"), optionally only when the
    * match is within `toleranceSecs` (measured on floored epoch seconds, so
    * a SQL twin using `epoch_us(ts) // 1000000` agrees exactly).
    *
    * Spark has no native as-of join and the naive range-join formulation
    * (`l.key = r.key AND l.ts >= r.ts` + rank) explodes into a per-key
    * cartesian before the rank prunes it. This is the scale-safe
    * union-merge plan instead: tag both sides, union, and take
    * `last(payload, ignoreNulls)` over a (key, ts, side) window — ONE
    * shuffle on the key columns, per-row state O(1), no pair blowup
    * regardless of how many right rows precede a left row. At equal
    * timestamps the right row sorts before the left row, so the match is
    * inclusive (DuckDB `ASOF JOIN ... ON l.ts >= r.ts` semantics).
    *
    * `right` must be unique per (keys, rightTs) — pre-aggregate otherwise
    * (ties would make the attachment order-dependent). Output: all `left`
    * columns, then `valueCols` from the matched right row (null when no
    * match), then the matched right timestamp as `matchedTsCol`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, valueCols: Seq[String],
               toleranceSecs: Option[Long] = None,
               direction: String = "backward",
               matchedTsCol: String = "asof_ts"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val ordCol = "__asof_ord"; val sideCol = "__asof_side"; val payCol = "__asof_pay"
    val reserved = Set(ordCol, sideCol, payCol, matchedTsCol) ++ valueCols
    val clashes = left.columns.toSet.intersect(reserved)
    require(clashes.isEmpty,
      s"asofJoin: left columns collide with reserved/output names: " +
        s"${clashes.toSeq.sorted.mkString(", ")} — rename before joining")
    val payload = struct(
      col(rightTs).as(matchedTsCol) +: valueCols.map(col): _*)
    val rSel = right.select(
      keys.map(col) ++ Seq(col(rightTs).as(ordCol), lit(0).as(sideCol),
        payload.as(payCol)): _*)
    val payType = rSel.schema(payCol).dataType
    val lSel = left
      .withColumn(ordCol, col(leftTs))
      .withColumn(sideCol, lit(1))
      .withColumn(payCol, lit(null).cast(payType))
    val ordering =
      if (direction == "backward") Seq(col(ordCol).asc, col(sideCol).asc)
      else Seq(col(ordCol).desc, col(sideCol).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attached = lSel.unionByName(rSel, allowMissingColumns = true)
      .withColumn(payCol, last(col(payCol), ignoreNulls = true).over(w))
      .filter(col(sideCol) === 1)
    val gated = toleranceSecs match {
      case None => attached
      case Some(t) =>
        val m = col(payCol).getField(matchedTsCol).cast("long")
        val l = col(leftTs).cast("long")
        val delta = if (direction == "backward") l - m else m - l
        attached.withColumn(payCol, when(delta <= t, col(payCol)))
    }
    gated.select(
      left.columns.map(col).toIndexedSeq ++
        valueCols.map(v => col(payCol).getField(v).as(v)) :+
        col(payCol).getField(matchedTsCol).as(matchedTsCol): _*)
  }

  /** Type-2 slowly-changing-dimension build: turn a change log (one row
    * per (keys, ts) — pre-deduplicate upstream, e.g. groupBy+max as the
    * j14 query does) into validity intervals [valid_from, valid_to) with
    * the open
    * current row flagged — the standard warehouse dimension shape. Each
    * interval closes at the NEXT change's timestamp (lead window), so
    * intervals partition time per key and a point-in-time lookup has
    * exactly one match; the PIT attach itself should go through
    * [[asofJoin]] (backward match ≡ containing interval — no range
    * join needed). One window pass, one exchange on the key. */
  def scd2Build(changes: DataFrame, keys: Seq[String], tsCol: String,
                valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val out = changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", when(col("valid_to").isNull, 1).otherwise(0))
      .withColumnRenamed(tsCol, "valid_from")
    out.select((keys.map(col) ++ valueCols.map(col) ++
      Seq(col("valid_from"), col("valid_to"), col("is_current"))): _*)
  }
}
