package graft

/** Physical-plan shape assertions: the scale properties the engine claims
  * (pushdown, broadcast, partial aggregation) must be visible in the plans
  * Catalyst actually produces — not just intended.
  */
class PlanSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("f10: filters are pushed to the parquet scan") {
    val plan = planOf("f10_pushdown_scan")
    assert(plan.contains("PushedFilters"), "no PushedFilters in scan")
    assert(plan.contains("GreaterThan(l_discount"),
      s"discount filter not pushed:\n${plan.take(800)}")
  }

  test("q5: dimension chain joins are broadcast, not shuffled") {
    val plan = planOf("q5_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), "expected BroadcastHashJoin")
    assert(!plan.contains("SortMergeJoin"), "dimension join degenerated to SMJ")
  }

  test("q1: aggregation is partial+final (map-side combine)") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      "no hash aggregation in plan")
  }

  test("mm3/mm6: the CPU-bound codec pass is round-robin spread, never single-split") {
    // The ImageIO decode kernel is embarrassingly parallel but a
    // single-row-group parquet scan would serialize it into ONE task —
    // the regression behind the round-6 mm timing drift. The plan must
    // show a RoundRobinPartitioning exchange with full parallelism
    // feeding the codec mapPartitions.
    val par = spark.sparkContext.defaultParallelism
    Seq("mm3_pixels", "mm6_image_ahash").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains(s"RoundRobinPartitioning($par)"),
        s"$q: codec input not round-robin spread to $par partitions")
    }
  }

  test("j_anti: anti join on the fact side") {
    val plan = planOf("j_anti_customers")
    assert(plan.contains("LeftAnti"), "expected a left-anti join")
  }

  test("j11: the five-domain unify chain stays broadcast on the daily grain") {
    val plan = planOf("j11_unify_domains")
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast daily joins")
    assert(!plan.contains("CartesianProduct"), "unify degenerated to a cartesian")
  }

  test("incremental dedup: every stage an equi-join, no cartesian, no forced broadcast") {
    import org.apache.spark.sql.functions.col
    // same discipline as the dd5 test: with size-based auto-broadcast
    // off, a FORCED broadcast would still show — the plan must degrade
    // to shuffle joins only
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val docs = graft.core.Tables.documents(spark, dir)
      val plan = graft.operators.Dedup.incrementalDedup(
          docs.filter(col("doc_id") < 40), docs.filter(col("doc_id") >= 40),
          "doc_id", "text", shingleK = 2, numHashes = 4, rowsPerBand = 2,
          minJaccard = 0.5)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"),
        "incremental dedup degenerated to a cartesian")
      assert(!plan.contains("BroadcastHashJoin"),
        "corpus-side broadcast is forced (survives autoBroadcast=-1)")
    } finally spark.conf.set(key, old)
  }

  test("t31: the Gopher rule audit is a pure map — no shuffle at any scale") {
    val plan = planOf("t31_gopher_rules")
    assert(!plan.contains("Exchange"),
      s"t31 introduced a shuffle:\n${plan.take(600)}")
  }

  test("t32: the C4 rule audit is a pure map — no shuffle at any scale") {
    val plan = planOf("t32_c4_rules")
    assert(!plan.contains("Exchange"),
      s"t32 introduced a shuffle:\n${plan.take(600)}")
  }

  test("t13: chunking is a pure per-row generate — no shuffle at all") {
    val plan = planOf("t13_chunks")
    assert(!plan.contains("Exchange"),
      s"chunking introduced a shuffle:\n${plan.take(600)}")
    assert(plan.contains("Generate"), "expected a Generate (explode) node")
  }

  test("dd5: default n-gram Jaccard path has no FORCED corpus broadcast") {
    // at tiny SF Catalyst may auto-broadcast by size — fine and adaptive;
    // the 100-TB property is that nothing FORCES it: with the size-based
    // rule off, the plan must degrade to a shuffle join, not a broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf("dd5_ngram_jaccard")
      assert(!plan.contains("BroadcastHashJoin"),
        "corpus-side broadcast is forced (survives autoBroadcast=-1)")
    } finally spark.conf.set(key, old)
  }

  test("w9 multi-signal: windows are hash-partitioned by the entity key") {
    val plan = planOf("w9_autoseg_multi")
    assert(plan.contains("hashpartitioning(user_id"),
      "window not partitioned by user_id")
    assert(!plan.contains("SinglePartition") ||
      !plan.contains("Window"), "global single-partition window in plan")
  }

  test("d2 boundaries: the segment table attaches via broadcast range join") {
    val plan = planOf("d2_ks_boundaries")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "boundary attach not broadcast")
  }

  test("t5: the vocabulary IDF table attaches via broadcast, term counts never shuffle twice") {
    val plan = graft.operators.TextAnalysis
      .tfIdfTopK(graft.core.Tables.documents(spark, dir), "doc_id", "text", 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"), "IDF attach not broadcast")
    assert(!plan.contains("CartesianProduct"), "tfidf degenerated to a cartesian")
  }

  test("t7: the bench shingle set attaches via a broadcast join") {
    val plan = planOf("t7_contamination")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      "bench shingles not a broadcast left join")
  }

  test("dd3/dd7: the MinHash band join is an equi-join on the band key, never a product") {
    // dd3 and dd7 materialize their candidates through a localCheckpoint,
    // which hides the plan: assert on their lazy blocking stage, the
    // band self-join over a 4-hash signature in 2 bands of 2 rows
    val sig = graft.operators.Dedup.minhashSignature(
      graft.core.Tables.documents(spark, dir), "doc_id", "text", 2, 4)
    val plan = graft.operators.Dedup
      .bandSelfJoin(sig, "doc_id", graft.operators.Dedup.bandKeyExprs(4, 2))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "MinHash band join degenerated to a product join")
    val joinKeys = plan.linesIterator
      .filter(l => l.contains("keys") && l.contains("bk")).mkString("\n")
    assert(joinKeys.nonEmpty, s"band key missing from the equi-join keys:\n$plan")
  }

  test("dd10: the simhash band join is an equi-join, never a product") {
    // assert on the lazy band-join plan (the public operator materializes
    // through a localCheckpoint, which hides the plan): simhashPairs'
    // banding is one 16-bit word in 4 bands
    import org.apache.spark.sql.functions._
    val sigs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.operators.Dedup.simhash(col("text"), 16).as("sig"))
    val plan = graft.operators.Dedup
      .hammingBandJoinWords(sigs, "doc_id", Seq("sig"), 16, 4, 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "simhash band join degenerated to a product join")
    assert(plan.contains("Join") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      "no join in band-join plan")
  }

  test("mm9: the image hamming-band join is an equi-join over distinct signatures") {
    import org.apache.spark.sql.functions._
    // synthetic (sig_hi, sig_lo) frame shaped like aHash64's output —
    // the plan contract is independent of the codec path: band join is
    // an equi-join on the band key, never a product, and the node frame
    // below it is hammingClusters' distinct-signature aggregation
    val sigs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(col("doc_id") * 2654435761L, lit(1L << 32)).as("sig_hi"),
        pmod(col("doc_id") * 40503L, lit(1L << 32)).as("sig_lo"))
      .groupBy("sig_lo", "sig_hi")
      .agg(min("doc_id").as("rid"), count(lit(1)).as("n"))
    val plan = graft.operators.Dedup
      .hammingBandJoinWords(sigs, "rid", Seq("sig_lo", "sig_hi"),
        wordBits = 32, bandsPerWord = 4, maxHamming = 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "image hamming band join degenerated to a product join")
    assert(plan.contains("Join"), "no join in the band-join plan")
    assert(plan.contains("HashAggregate"),
      "distinct-signature aggregation missing below the band join")
  }

  test("mm9_wide/mm11: words band join stays an equi-join, incl. block columns") {
    import org.apache.spark.sql.functions._
    // the generalized N-word banding (mm10's 8x32 image stage) and the
    // block-column form (mm11's window-count blocking) both keep the
    // band-join contract: equi-join, never a product; the block column
    // rides the SAME equi-join keys (a plan that applied it as a
    // post-join filter would still be correct but would pay cross-block
    // candidate traffic)
    val sigs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(col("doc_id") * 2654435761L, lit(1L << 32)).as("sig_lo"),
        pmod(col("doc_id") * 40503L, lit(1L << 32)).as("sig_hi"),
        pmod(col("doc_id"), lit(7)).as("nw"))
      .groupBy("nw", "sig_lo", "sig_hi")
      .agg(min("doc_id").as("rid"), count(lit(1)).as("n"))
    val plan = graft.operators.Dedup
      .hammingBandJoinWords(sigs, "rid", Seq("sig_lo", "sig_hi"),
        wordBits = 32, bandsPerWord = 1, maxHamming = 1, blockCols = Seq("nw"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "words band join degenerated to a product join")
    assert(plan.contains("Join"), "no join in the words band-join plan")
    // the block column is part of the JOIN KEYS, not a post-join filter:
    // the formatted plan's join node lists its key expressions
    val joinKeys = plan.linesIterator
      .filter(l => l.contains("keys") && l.contains("bk")).mkString("\n")
    assert(joinKeys.contains("nw"),
      s"block column missing from the equi-join keys:\n$joinKeys")
  }

  test("dd14: the component graph is the distinct-signature frame, not doc pairs") {
    import org.apache.spark.sql.functions._
    // the sig-domain contract, asserted structurally: the band join that
    // feeds component discovery operates on a DISTINCT signature frame
    // (node id = the smallest member id), so its input cardinality is
    // bounded by min(|docs|, 2^bits) — never the corpus pair set
    val docs = graft.core.Tables.documents(spark, dir)
    val sigs = docs.select(col("doc_id"),
      graft.operators.Dedup.simhash(col("text"), 16).as("sig"))
    val nodes = sigs.groupBy("sig")
      .agg(min("doc_id").as("rid"), count(lit(1)).as("n"))
    val plan = graft.operators.Dedup
      .hammingBandJoinWords(nodes, "rid", Seq("sig"), 16, 4, 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "sig-domain band join degenerated to a product join")
    assert(plan.contains("HashAggregate"),
      "distinct-signature aggregation missing below the band join")
    // the equivalence of the sig-domain composition to the doc-pair form
    // is value-pinned in DupClusterSpec; here we additionally pin that
    // hammingClusters' node count really is the distinct-sig count (the
    // scale bound)
    val n = graft.operators.Dedup
      .hammingClusters(sigs, "doc_id", Seq("sig"), 16, 4, 2).count()
    assert(n === sigs.select("sig").distinct().count() && n <= (1L << 16))
  }

  test("j12: as-of join is the union-merge plan — no join operator, no pair blowup") {
    // The naive as-of formulation is a range join (per-key cartesian +
    // rank). The union-merge plan must contain NO join at all: one window
    // over the unioned sides, hash-partitioned by the key.
    val plan = planOf("j12_asof")
    assert(!plan.contains("Join"),
      s"as-of degenerated to a join:\n${plan.take(800)}")
    assert(plan.contains("Window"), "expected the merge window")
    assert(plan.contains("Union"), "expected the two-sided union")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // one shuffle for the right-side (user, ts) pre-agg + one for the
    // merge window — anything more means the union-merge contract broke
    assert(exchanges <= 2, s"as-of join shuffles $exchanges times:\n${plan.take(800)}")
  }

  test("t16: exact counting runs only over broadcast-semi-joined candidates") {
    val plan = planOf("t16_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate prune is not a broadcast semi-join:\n${plan.take(800)}")
  }

  test("scan prunes columns to the read schema") {
    val plan = planOf("f10_pushdown_scan")
    // only the needed lineitem columns should be read
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_comment"), "unused column in read schema")
    val read = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(!read.contains("l_orderkey"), s"pruning failed: $read")
  }

  test("native expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a projection using ShaPrefixLong and HyperplaneBucket must compile
    // into a WholeStageCodegen span — a silent fallback to interpreted
    // eval (e.g. a doGenCode regression) would cost the hot hash loops
    // their codegen without failing any value check.
    // spark.range (not a local Seq): ConvertToLocalRelation would
    // constant-fold a projection over a LocalRelation at optimization
    // time and leave nothing to codegen.
    val df = spark.range(4).select(
      graft.functions.ShaPrefixLong(concat(lit("t"), col("id")), 7).as("h"),
      graft.functions.HyperplaneBucket(
        array(col("id").cast("float"), lit(0.5f)), 4, 2, 0).as("b"),
      graft.functions.MinHashOverHashed(array(col("id"), col("id") + 3L), 4)
        .as("m"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix is the WholeStageCodegen marker in the simple
    // plan string; an interpreted fallback loses it on the Project node.
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"native expressions fell out of codegen:\n$plan")
    // and the generated code actually runs (no janino compile fallback):
    val row = df.head()
    assert(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2))
  }

  test("dd19: chunk dedup aggregates partially and joins on the content hash only") {
    val plan = planOf("dd19_chunk_dedup")
    // the global-min-occurrence agg must combine map-side (struct min is
    // combinable) — a final-only agg would ship every chunk row
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      "no hash aggregation on the chunk-sha key")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "chunk join degenerated to a product")
  }

  test("t21: the B-row log-ratio table attaches via broadcast") {
    val plan = planOf("t21_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      "ratio spine not broadcast — would shuffle the exploded corpus")
    assert(!plan.contains("CartesianProduct"))
  }

  test("w13/d6: decomposition and CUSUM windows hash-partition on the entity key") {
    for (q <- Seq("w13_seasonal", "d6_cusum")) {
      val plan = planOf(q)
      val parted = """hashpartitioning\(user_id#\d+""".r
      assert(parted.findFirstIn(plan).isDefined,
        s"$q: window not partitioned by the entity key")
      assert(!plan.contains("CartesianProduct"), s"$q: unexpected product")
    }
  }

  test("j14: SCD2 PIT attach is the union-merge window plan, not a range join") {
    val plan = planOf("j14_scd2")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "PIT attach degenerated to a product/range join")
    assert(plan.contains("Window"), "expected the as-of window merge")
  }

  test("t25: HLL builds are hash-aggregated (map-side register merge), no product") {
    val plan = planOf("t25_hll_diversity")
    // the register build must partial-aggregate: the shuffle then carries
    // at most groups x 1024 register rows, not the shingle stream
    assert(plan.contains("HashAggregate"), "register build not hash-aggregated")
    assert(!plan.contains("CartesianProduct"), "unexpected product")
  }

  test("t28: Gumbel top-k is a TakeOrdered, not a global sort") {
    val plan = planOf("t28_dsir_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample degenerated to a global sort:\n${plan.take(600)}")
  }

  test("sim10: drift QC adds only a grouped aggregate over the literal argmin") {
    val plan = planOf("sim10_centroid_drift")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      "assignment must stay the zero-join literal argmin")
    assert(plan.contains("HashAggregate"), "per-cell stats not hash-aggregated")
  }

  test("t24: bigram model and head tables attach via broadcast at fixture vocab") {
    val plan = planOf("t24_bigram_lm")
    assert(plan.contains("BroadcastHashJoin"),
      "bigram model attach not broadcast at fixture size")
    assert(!plan.contains("CartesianProduct"))
  }

  test("dd24/dd26: the ExactSubstr family is equi-joins + hash aggs — no product, no range join") {
    for (q <- Seq("dd24_dup_spans", "dd26_substr_cut", "dd27_decontam_cut")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a product:\n${plan.take(600)}")
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
        s"$q: window-occurrence agg not hash-aggregated")
    }
    // dd24's island merge: the running-max/island windows and the span
    // groupBy all cluster by doc — exactly ONE exchange may carry the
    // doc partitioning (the window sort), not one per stage
    val spans = planOf("dd24_dup_spans")
    val winExchanges = "hashpartitioning\\(doc_id".r
      .findAllIn(spans.toLowerCase).size
    assert(winExchanges <= 2,
      s"dd24 re-partitions by doc per stage ($winExchanges doc exchanges)")
  }

  test("dd27: the eval window set attaches via broadcast — the corpus side never shuffles for it") {
    val plan = planOf("dd27_decontam_cut")
    assert(plan.contains("BroadcastHashJoin"),
      "eval window set not broadcast — would shuffle the full corpus on wh")
  }

  test("production-window ExactSubstr (W=50) keeps the family's plan shapes") {
    // same pins as the W=4 forms — the knob must not change the plan.
    // W = 50 tokens is the window Lee et al. (ACL 2022) dedup a corpus
    // at; the decontam eval split is doc_id % 50 == 7
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val decontam = Dedup.decontamCut(docs.filter(col("doc_id") % 50 =!= 7),
      docs.filter(col("doc_id") % 50 === 7), "doc_id", "text", 50)
    val plans = Seq(
      "duplicatedSpans" -> Dedup.duplicatedSpans(docs, "doc_id", "text", 50),
      "substrCut" -> Dedup.substrCut(docs, "doc_id", "text", 50),
      "decontamCut" -> decontam).map { case (op, df) =>
      op -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    for ((op, plan) <- plans) {
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$op degenerated to a product:\n${plan.take(600)}")
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
        s"$op: window-occurrence agg not hash-aggregated")
    }
    assert(plans.toMap.apply("decontamCut").contains("BroadcastHashJoin"),
      "prod decontam: eval window set not broadcast")
  }

  test("dd28: PII redaction is map + one doc-clustered window/agg chain — no join on the cut path") {
    val plan = planOf("dd28_pii_redact")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dd28 degenerated to a product:\n${plan.take(600)}")
    // redaction is per-document: the span merge + reassembly cluster by
    // doc — at most the window exchange plus the final n_tokens attach
    val docExchanges = "hashpartitioning\\(doc_id".r
      .findAllIn(plan.toLowerCase).size
    assert(docExchanges <= 2,
      s"dd28 re-partitions by doc per stage ($docExchanges doc exchanges)")
  }

  test("dd29: host cap is equi-only; the per-host rank window is hash-partitioned by host") {
    val plan = planOf("dd29_host_cap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dd29 degenerated to a product:\n${plan.take(600)}")
    // capPerGroup ranks in one window hash-partitioned by host
    assert(plan.toLowerCase.contains("hashpartitioning(url_host"),
      "dd29: the per-host rank window is not hash-partitioned by host")
  }

  test("band keys ship as sha60 longs, not concat strings") {
    // the band key is shuffle-join currency: a LongType column (8 bytes
    // per banded row), never the minima concat string (60-80 bytes for
    // 8-hash bands — measured to out-spill the sandbox disk at 20M docs
    // x 16 bands before the hashing). The blocking key type IS the
    // contract; dd21's final plan hides it behind the candidate
    // checkpoint, so pin the column itself.
    import org.apache.spark.sql.functions.col
    val docs = core.Tables.documents(spark, dir)
    val bk = docs.select(
      operators.Dedup.minhashBandKey(col("text"), 3, 4).as("bk"))
    assert(bk.schema("bk").dataType ===
      org.apache.spark.sql.types.LongType,
      "band key is not a hashed long — string keys cost 8x shuffle bytes")
  }
}
