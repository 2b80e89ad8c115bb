package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan audit over every `SparkEntry` query — the 100-TB
  * scale-plan review as a committed artifact instead of a by-hand
  * `.explain` pass.
  *
  * For each query: execute at the given SF (small — the point is the
  * PLAN, not the timing) so AQE settles on its FINAL adaptive plan, then
  * count the operators that decide whether the plan survives a 100×
  * scale-up. Each query runs twice (see [[auditTwice]]); one whose two
  * final plans differ is marked `unstable`. The counts:
  *
  *  - `shuffles` — `Exchange` nodes (hash/range/single-partition): each
  *    is a full-data network pass at scale;
  *  - `bcast` — `BroadcastExchange` nodes: fine iff the broadcast side
  *    is genuinely bounded;
  *  - `sorts` — `Sort` nodes (global or per-partition);
  *  - `nlj` — `CartesianProduct` + `BroadcastNestedLoopJoin`: all-pairs
  *    shapes. The invariant is NOT zero — a nested-loop whose broadcast
  *    side is a 1-row scalar frame (global z-score stats, fold
  *    boundaries, corpus totals) is exactly the right plan for a
  *    scalar attach, and stays right at any scale. The invariant is
  *    "no nested-loop join where BOTH sides grow with the corpus":
  *    every nlj occurrence must be in the allowlist below with its
  *    boundedness argument, or the audit exits nonzero;
  *  - `wscg` — WholeStageCodegen spans (bigger spans = more of the
  *    query in generated code).
  *
  * Single-partition Exchanges are listed separately (`1part`): a
  * deliberate driver-bounded collect point (fold boundaries, report
  * frames) is fine; one on a corpus-sized frame is a scale bug.
  *
  * Usage: `sbt "runMain graft.tools.PlanAudit [sfDir] [outPath]"`;
  * writes a markdown table (default `PLANS.md`) sorted by query name
  * for diff-stability, and exits nonzero on any nested-loop join so the
  * audit can gate.
  */
object PlanAudit {

  /** Queries whose final plan legitimately contains nested-loop joins,
    * with the boundedness argument for each (max nlj count -> why the
    * non-equi/broadcast side cannot grow with the corpus). Anything
    * else with an nlj fails the audit. */
  val allowedNlj: Map[String, (Int, String)] = Map(
    "w2_global_zscore" -> (1 -> "1-row global mean/std frame broadcast (scalar attach)"),
    "w6_interpolate" -> (1 -> "1-row global min/max-date frame for edge fill"),
    "w8_baselines" -> (1 -> "1-row majority-label frame broadcast"),
    "m1_impute" -> (4 -> "per-column 1-row median frames (one attach per imputed column)"),
    "m3_scale" -> (1 -> "1-row train-fold mean/std frame (anti-leak scaling constants)"),
    "m2_folds_monthly" -> (1 -> "1-row anchor-date frame (fold-boundary scan)"),
    "t12_mixture" -> (1 -> "1-row corpus token-total frame (mixture budgets)"),
    "j8_range_attach" -> (1 -> "segment table broadcast: segments are O(study length), bounded (non-equi range join by design)"),
    "sim1_knn" -> (1 -> "documented O(Q*N) exact baseline; query side bounded by contract"),
    "sim8_mips" -> (1 -> "documented O(Q*N) exact MIPS baseline (sim1 shape); scale path is augmentForMips + LSH"),
    "e2e_corpus_assembly" -> (1 -> "t12's 1-row corpus token-total frame (mixture budgets) inside the composed pipeline"),
    "sim_recall" -> (2 -> "contains sim1's exact baseline twice (LSH recall + IVF recall)"),
    "sim_recall_build" -> (1 -> "contains sim1's exact baseline once (KMeans-build IVF recall)"),
    "sim6_pq_adc" -> (1 -> "exhaustive ADC scan: query side bounded by contract (sim1 pattern); at corpus scale compose with ivfAssign cells (IVFADC)"),
    "t16_heavy_hitters" -> (1 -> "1-row corpus token-total frame (threshold stays in the plan, t12 pattern)"),
    "m7_calibration" -> (1 -> "1-row ECE aggregate over <= 10 bin rows (global-stat broadcast pattern)"),
    "e7_rfm" -> (3 -> "1-row corpus-max-date (appears twice: under the quartile agg and under the final attach) + 1-row quartile-boundary frame (global-stat broadcast pattern)"),
    "dd18_lsh_quality" -> (3 -> "three 1-row count frames (cand/true/found) joined into the summary row; the all-pairs ground-truth stage is a salted equi-join bounded by the SHA-sample contract"),
    "t18_zipf" -> (1 -> "1-row vocab/token-total frame joined to the 1-row regression frame (global-stat broadcast pattern)"),
    "d5_psi" -> (2 -> "1-row train-decile frame + 1-row bin-total frame (global-stat broadcast pattern)"),
    "m9_learning_curve" -> (3 -> "one 1-row train-count frame per learning-curve arm (3 arms, global-stat broadcast pattern)"),
    "t19_source_overlap" -> (3 -> "bounded-dimension expansions: mask frame x sources^2 pair dimension, mask frame x source dimension, and the sources x sources pair-dimension build — every non-equi side bounded by source cardinality, not the corpus"),
    "q6_ref_integrity" -> (4 -> "one 1-row orphan-count frame per FK edge (4 edges, global-stat broadcast pattern); the anti-joins themselves are hash-shuffle equi-joins"),
    "q7_corpus_integrity" -> (3 -> "one 1-row orphan-count frame per FK edge (3 corpus edges, global-stat broadcast pattern); the anti-joins themselves are hash-shuffle equi-joins"),
    "e9_survival" -> (3 -> "1-row corpus-end-date frame (appears twice: under the total-leavers agg and under the main chain) + 1-row total-leavers frame (global-stat broadcast pattern); risk table bounded by observation-span days"),
    "e12_time_to_convert" -> (1 -> "1-row viewer-count frame joined to the 1-row latency-percentile frame (global-stat broadcast pattern)"),
    "t29_hll_overlap" -> (1 -> "sources x sources pair-dimension build (t19 pattern: bounded by source cardinality, not the corpus; everything downstream of the checkpointed register table is sources^2 x m rows)"),
    "t25_hll_diversity" -> (1 -> "1-row merged-estimate frame cross-joined to the 1-row exact-ALL frame (global-stat broadcast pattern; replaced the sentinel-key join a review flagged)"),
    "m19_conformal" -> (2 -> "the conformal-threshold frame (qhat + n_cal, aggregated to a guaranteed 1 row) on the global-stat broadcast pattern onto the evaluation fold; an executed filter on assert_true(n_cal IS NOT NULL) fails loudly on an empty calibration fold (referenced in the plan, not prunable)"))

  /** Interpreted-expression classes that are benign ANYWHERE because
    * they cannot sit in a per-row hot path by construction (each entry
    * must say why). Any other `CodegenFallback` expression in a final
    * plan needs a per-query [[allowedFallback]] entry or the audit
    * exits nonzero — the standing gate distilled from the t10 incident,
    * where one interpreted higher-order lambda (transform/sequence,
    * evaluated per BIGRAM) was the whole bench's top cost and went
    * unnoticed until an honest timing sink made it the slowest query. */
  val benignFallback: Map[String, String] = Map(
    // raise_error sits behind a short-circuit `if` guard and evaluates
    // its message only on the failure path (assert_true / loud guards)
    "RaiseError" -> "error-path only: evaluated when the guard fires",
    // constituents of a higher-order call, not independent costs — the
    // enclosing Array*/Map* operator is the unit this audit flags
    "LambdaFunction" -> "lambda body wrapper of the enclosing HOF",
    "NamedLambdaVariable" -> "lambda variable leaf of the enclosing HOF",
    // TypedImperativeAggregates: Spark has NO codegen form for these —
    // the interpreted surface is the agg-buffer update, which is the
    // operation itself, not avoidable dispatch. Group boundedness for
    // the collects is argued at each use site (bounded-group contracts)
    "Percentile" -> "exact percentile: TypedImperativeAggregate, no codegen form exists",
    "PivotFirst" -> "pivot's internal aggregate: no codegen form, column set bounded by the pivot values",
    "CollectList" -> "TypedImperativeAggregate; every use site carries a bounded-group contract",
    "CollectSet" -> "TypedImperativeAggregate; every use site carries a bounded-group contract",
    // Spark's own JSON parser is CodegenFallback by upstream design;
    // the cost is the Jackson parse itself, not expression dispatch
    "JsonToStructs" -> "from_json: Spark's canonical JSON path, interpreted upstream")

  /** Per-query allowlist for `CodegenFallback` expressions that ARE in
    * the final plan but provably off the corpus-per-element hot path —
    * query -> (allowed class names, why the lambda's element count is
    * bounded per row). The t10 criterion: an interpreted lambda is a
    * bug when its element count grows with document/corpus size AND the
    * query is hot; everything here is bounded by a contract (dim,
    * window, spans, study length) with the fused-kernel upgrade path
    * (HashedShingles/RuleKernels/BpeCounts pattern) if it ever tops the
    * bench. */
  val allowedFallback: Map[String, (Set[String], String)] = {
    val substrTail = (Set("ArraySort", "ArrayTransform"),
      "per-doc cut-span reconstruction: the collected span list is " +
        "bounded by substring matches per document; the family is " +
        "honest-sink measured through 20M docs (DEEPDOCS)")
    val simLambda = (Set("ArrayTransform", "ArrayAggregate"),
      "per-row lambda element count bounded by embedding dim / " +
        "centroid / codebook cardinality — the intended O(dim*k) " +
        "assign/ADC math; the inner products already run in the VecDot " +
        "kernel family")
    Map(
      "a11_naps_daily" -> (Set("ArrayTransform", "ArrayAggregate"),
        "per-day parsed naps array, bounded by naps per day"),
      "a7_named_rollup" -> (Set("ArraySort"),
        "sort over the per-day collected label set (label vocabulary)"),
      "a8_label_union" -> (Set("ArraySort"),
        "sort over per-day collected labels (bounded by labels/day)"),
      "d2_ks_boundaries" -> (Set("ArrayTransform", "ArrayAggregate"),
        "pooled KS boundary grid, bounded by the study-window value set"),
      "d2_ks_exact" -> (Set("ArrayTransform", "ArrayAggregate",
        "KsExactPValue"),
        "KS grid as d2_ks_boundaries; KsExactPValue evaluates once on " +
          "the 1-row KS stat frame"),
      "dd16_semantic_dedup" -> (Set("ArrayTransform"),
        "embedding-dim-bounded quantizer-cell mapping"),
      "dd18_lsh_quality" -> (Set("ArraySort"),
        "sample-contract-bounded SHA arrays (ground-truth stage)"),
      "dd19_chunk_dedup" -> substrTail,
      "dd26_substr_cut" -> substrTail,
      "dd27_decontam_cut" -> substrTail,
      "dd28_pii_redact" -> substrTail,
      "e2e_decontam_prep" -> substrTail,
      "dd5_ngram_jaccard" -> (Set("ArraySort"),
        "per-doc shingle arrays (document-bounded)"),
      "e6_session_paths" -> (Set("ArraySort", "ArrayTransform"),
        "per-session collected event paths (session-length-bounded)"),
      "m6_model_families" -> (Set("ArrayAggregate"),
        "dot-product folds over study-length fold frames"),
      "sim10_centroid_drift" -> simLambda,
      "sim3_ann_ivf" -> simLambda,
      "sim3_assign" -> simLambda,
      "sim4_quantize" -> simLambda,
      "sim5_ivf_assign" -> simLambda,
      "sim6_pq_adc" -> simLambda,
      "sim6_pq_encode" -> simLambda,
      "sim9_ivfadc" -> simLambda,
      "sim_recall" -> simLambda,
      "sim_recall_build" -> simLambda,
      "t20_containment" -> (Set("ArraySort"),
        "per-doc sorted shingle sets (document-bounded)"),
      "w11_ewma" -> (Set("ArrayAggregate"),
        "EWMA fold over the collected trailing window (window-bounded)"),
      "w12_rolling_mad" -> (Set("ArraySort", "ArrayTransform"),
        "median-of-window math over the collected trailing window"))
  }

  final case class Counts(shuffles: Int, singlePart: Int, bcast: Int,
                          sorts: Int, nlj: Int, wscg: Int, rows: Long,
                          fallback: Set[String] = Set.empty,
                          lojAgg: Int = 0,
                          err: Option[String] = None)

  /** Every `CodegenFallback` expression class in the FINAL (post-AQE)
    * physical plan — interpreted row-at-a-time eval inside otherwise
    * JIT'd stages (higher-order lambdas, non-codegen custom exprs).
    * Descends into adaptive plans and settled query stages; expression
    * subtrees are walked in full so a fallback nested under a codegen'd
    * parent still surfaces. */
  private[graft] def fallbackClasses(plan: SparkPlan): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        other.expressions.foreach(_.foreach {
          case e: CodegenFallback => out += e.getClass.getSimpleName
          case _ => ()
        })
        // Subquery physical plans (ScalarSubquery / InSubqueryExec) hang
        // off expressions, not `children` — a fallback inside one would
        // otherwise escape the gate.
        other.subqueries.foreach(walk)
        other.children.foreach(walk)
    }
    walk(plan)
    out.toSet
  }

  /** Count of left-outer joins onto an Aggregate in the OPTIMIZED
    * logical plan — the SPARK-36194 shape: if a downstream rewrite
    * stops referencing the aggregate's columns (`df.count()` does
    * exactly that), Catalyst deletes the join and the aggregate
    * wholesale. The plan itself is CORRECT — this column is the
    * standing warning that timing such a query through any counting
    * sink measures a plan with the tail removed (the round-11 incident:
    * 20M-doc ExactSubstr "measurements" that timed a bare scan). All
    * committed timing tools consume through `TimingSink.rows`, which is
    * immune; the column exists so the next hand-rolled probe isn't. */
  private[graft] def lojAggTails(plan: LogicalPlan): Int = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => strip(c)
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    plan.collect {
      case Join(_, right, LeftOuter, _, _)
        if strip(right).isInstanceOf[Aggregate] => 1
    }.sum
  }

  private val treeChars = Set(' ', ':', '+', '-')

  /** Indentation depth of a tree-dump line = index of the first char
    * that is not part of the branch prefix (` `, `:`, `+`, `-`). */
  private def depth(line: String): Int = {
    val i = line.indexWhere(c => !treeChars.contains(c))
    if (i < 0) line.length else i
  }

  /** A finalized `AdaptiveSparkPlan` prints BOTH `== Final Plan ==` and
    * `== Initial Plan ==` subtrees; counting the raw dump would tally
    * every node twice. Drop each Initial-Plan subtree (marker line plus
    * every following line until indentation drops BELOW the marker —
    * section contents print at the marker's own depth, and the only
    * same-depth sibling, `== Final Plan ==`, precedes it). */
  private[graft] def stripInitialPlans(plan: String): String = {
    var skipDepth = -1
    plan.linesIterator.filter { line =>
      val d = depth(line)
      if (skipDepth >= 0 && d >= skipDepth) false
      else if (line.startsWith("== Initial Plan ==", d)) { skipDepth = d; false }
      else { skipDepth = -1; true }
    }.mkString("\n")
  }

  /** Node name of a dump line: branch prefix, then an optional codegen
    * marker `*(n) `, then the operator name. `== Final Plan ==` marker
    * lines match nothing. */
  private val nodeName = raw"^[\s:+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)".r

  /** Count scale-relevant operators in the FINAL (post-AQE) physical
    * plan, line by line. `ReusedExchange` lines echo the reused node's
    * own string and are skipped — the exchange is counted once where it
    * is defined, which is what the at-scale cost model wants. */
  def audit(df: org.apache.spark.sql.DataFrame): Counts = {
    // Execute THIS dataframe's own plan (not a derived count() plan):
    // AQE only settles on its final adaptive plan when this exact
    // queryExecution runs, and codegen span ids are only assigned then.
    // Row counts at the audit SF are small (<= a few thousand).
    val rows = df.collect().length.toLong
    val full = df.queryExecution.executedPlan.toString
    if (full.contains("isFinalPlan=false"))
      System.err.println("[plan-audit] WARN non-final adaptive plan audited")
    var (sh, sp, bc, so, nl) = (0, 0, 0, 0, 0)
    val spans = scala.collection.mutable.Set.empty[String]
    stripInitialPlans(full).linesIterator.foreach { line =>
      raw"\*\((\d+)\)".r.findAllMatchIn(line).foreach(m => spans += m.group(1))
      if (!line.contains("ReusedExchange"))
        nodeName.findFirstMatchIn(line).map(_.group(1)).foreach {
          case "Exchange" =>
            if (line.contains("SinglePartition")) { sh += 1; sp += 1 }
            else if (line.contains("hashpartitioning") ||
              line.contains("rangepartitioning") ||
              // RoundRobinPartitioning (explicit repartition(n)) is a
              // full-data network pass at scale, same as a hash shuffle
              line.contains("RoundRobinPartitioning")) sh += 1
          case "Sort" => so += 1
          case "CartesianProduct" | "BroadcastNestedLoopJoin" => nl += 1
          case "BroadcastExchange" => bc += 1
          case _ => ()
        }
    }
    Counts(sh, sp, bc, so, nl, spans.size, rows,
      fallback = fallbackClasses(df.queryExecution.executedPlan),
      lojAgg = lojAggTails(df.queryExecution.optimizedPlan))
  }

  /** Audits the query `build` returns twice, each time from a fresh
    * DataFrame. AQE re-plans as query stages finish, so the final plan
    * can depend on which stage finishes first, and a loaded host can
    * change that order; two runs whose counts differ mark the query
    * unstable, so timing noise does not pass for a plan change. A query
    * whose first run fails is not run again. */
  def auditTwice(build: () => org.apache.spark.sql.DataFrame): Seq[Counts] = {
    def once(): Counts =
      try audit(build())
      catch {
        case e: Throwable =>
          Counts(0, 0, 0, 0, 0, 0, -1, err = Some(e.getMessage))
      }
    val first = once()
    if (first.err.isDefined) Seq(first) else Seq(first, once())
  }

  /** A query's PLANS.md table row from its runs. An unstable query (runs
    * that differ) is named `name (unstable)`, and each count that differs
    * shows every run's value, `first/second`. */
  private[graft] def tableRow(name: String, runs: Seq[Counts]): String =
    runs.flatMap(_.err).headOption match {
      case Some(m) =>
        s"| $name | ERR: ${String.valueOf(m).takeWhile(_ != '\n').take(60)} |||||||||\n"
      case None =>
        def cell(f: Counts => Any): String = runs.map(f).distinct.mkString("/")
        val fb = cell(c => if (c.fallback.isEmpty) "-"
          else c.fallback.toSeq.sorted.mkString(" "))
        val label = if (runs.distinct.size > 1) s"$name (unstable)" else name
        s"| $label | ${cell(_.shuffles)} | ${cell(_.singlePart)} " +
          s"| ${cell(_.bcast)} | ${cell(_.sorts)} | ${cell(_.nlj)} " +
          s"| ${cell(_.wscg)} | $fb | ${cell(_.lojAgg)} | ${cell(_.rows)} |\n"
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    try graft.queries.IngestQueries.xmlFixture(spark, sfDir)
    catch { case _: Throwable => () }

    val results = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val runs = auditTwice(() => fn(spark, sfDir))
        System.err.println(s"[plan-audit] $name -> ${runs.mkString(" / ")}")
        name -> runs
    }

    val sb = new StringBuilder
    sb ++= "# PLANS — final (post-AQE) physical-plan audit per query\n\n"
    sb ++= s"Generated by `graft.tools.PlanAudit` at `$sfDir`. Each query\n"
    sb ++= "executes twice; counts are over the FINAL adaptive plan of each\n"
    sb ++= "execution. AQE re-plans as query stages finish, so the final\n"
    sb ++= "plan can depend on which stage finishes first: a query whose two\n"
    sb ++= "executions differ is marked `(unstable)`, each differing count\n"
    sb ++= "shown as `first/second`, and its change between two PLANS.md\n"
    sb ++= "files is not evidence of a code change. `nlj`\n"
    sb ++= "(CartesianProduct / BroadcastNestedLoopJoin) must be justified\n"
    sb ++= "in the allowlist below — the invariant is no nested-loop join\n"
    sb ++= "where BOTH sides grow with the corpus; a 1-row scalar-frame\n"
    sb ++= "broadcast is the correct plan at any scale. The audit exits\n"
    sb ++= "nonzero on any unlisted nlj. `1part` = single-partition\n"
    sb ++= "Exchanges (deliberate driver-bounded collect points only —\n"
    sb ++= "fold boundaries, report frames, tiny oracle projections).\n\n"
    sb ++= "Caveat: queries that materialize intermediates via\n"
    sb ++= "`localCheckpoint` (the eager dedup family: dd3/dd7/dd8/dd9/\n"
    sb ++= "dd11/dd13) truncate the visible plan at the checkpoint, so\n"
    sb ++= "their rows here undercount the upstream work; the equi-join-\n"
    sb ++= "only shape of those upstreams is asserted by PlanSpec instead.\n"
    sb ++= "j11_unify_domains' shuffle count is high by design: every\n"
    sb ++= "exchange past the single shared events scan+agg is on a\n"
    sb ++= "daily-grain frame bounded by study length, not corpus size.\n\n"
    sb ++= "## Allowed nested-loop joins\n\n"
    allowedNlj.toSeq.sortBy(_._1).foreach { case (q, (n, why)) =>
      sb ++= s"- `$q` (<= $n): $why\n"
    }
    sb ++= "\n## Per-query operator counts\n\n"
    sb ++= "`fallback` = CodegenFallback (interpreted) expression classes in\n"
    sb ++= "the final plan — the t10 gate: anything outside the benign set\n"
    sb ++= "or a per-query allowlist entry fails the audit (one interpreted\n"
    sb ++= "higher-order lambda was the whole bench's top cost in round 11).\n"
    sb ++= "`lojAgg` = left-outer-join-onto-Aggregate tails in the optimized\n"
    sb ++= "logical plan: the plan is correct, but timing such a query\n"
    sb ++= "through ANY counting sink (df.count()) measures a plan with the\n"
    sb ++= "tail DELETED (SPARK-36194) — use `tools.TimingSink.rows`.\n\n"
    sb ++= "| query | shuffles | 1part | bcast | sorts | nlj | wscg | fallback | lojAgg | rows |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|\n"
    results.foreach { case (name, runs) => sb ++= tableRow(name, runs) }
    // totals count each query's first run
    val totals = results.map(_._2.head)
    val unstable = results.count(_._2.distinct.size > 1)
    // Same subtraction as the `bad` gate below — a query only counts as
    // non-benign if its fallback set survives BOTH the benign set and its
    // per-query allowlist entry; allowlisted queries are reported apart.
    val nonBenign = results.count { case (name, runs) =>
      (runs.head.fallback -- benignFallback.keySet --
        allowedFallback.get(name).map(_._1).getOrElse(Set.empty)).nonEmpty
    }
    val allowlisted = results.count { case (name, runs) =>
      val afterBenign = runs.head.fallback -- benignFallback.keySet
      afterBenign.nonEmpty && (afterBenign --
        allowedFallback.get(name).map(_._1).getOrElse(Set.empty)).isEmpty
    }
    sb ++= s"\nTotals (first executions): ${totals.map(_.shuffles).sum} shuffles, " +
      s"${totals.map(_.bcast).sum} broadcasts, " +
      s"${totals.map(_.nlj).sum} nested-loop joins, " +
      s"$nonBenign queries with non-benign interpreted expressions " +
      s"($allowlisted with allowlisted-only interpreted expressions), " +
      s"${totals.map(_.lojAgg).sum} counting-sink-unsafe join tails over " +
      s"${results.size} queries; $unstable unstable.\n"
    Files.write(Paths.get(outPath),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    val bad = results.flatMap { case (name, runs) =>
      runs.find { c =>
        val unvetted = c.fallback -- benignFallback.keySet --
          allowedFallback.get(name).map(_._1).getOrElse(Set.empty)
        c.err.isDefined ||
          c.nlj > allowedNlj.get(name).map(_._1).getOrElse(0) ||
          unvetted.nonEmpty
      }.map(name -> _)
    }
    bad.foreach { case (n, c) =>
      val unvetted = c.fallback -- benignFallback.keySet --
        allowedFallback.get(n).map(_._1).getOrElse(Set.empty)
      System.err.println(s"[plan-audit] FLAG $n: nlj=${c.nlj} " +
        s"(allowed=${allowedNlj.get(n).map(_._1).getOrElse(0)}) " +
        s"fallback=${unvetted.mkString(",")} err=${c.err}")
    }
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
