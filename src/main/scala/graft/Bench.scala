package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contention gate: sample the 1-min load BEFORE Spark ramps up. A
    // quiet host sits near 0 here; anything materially above it means
    // another job (sbt compile, a second bench run) shares the
    // machine and the suite's timings will be polluted — the round-8
    // committed bench was exactly such a run (same surface, 145.9 s
    // quiet vs 196.5 s contended, the slower one committed). The run
    // still proceeds (the driver owns the schedule) but the artifact
    // self-identifies via "contended": true so a polluted run can never
    // silently become the round's timing surface again.
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val contended = loadAtStart > 4.0
    if (contended)
      System.err.println(f"[bench] WARNING: load_avg $loadAtStart%.2f at " +
        "start — another job shares this host; timings will be polluted. " +
        "The output JSON carries \"contended\": true.")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    // warm up the session (codegen, file listing, parquet footers) so the
    // first timed query doesn't carry JVM/session startup.
    graft.core.Tables.names.foreach { t =>
      try {
        if (t == "events") graft.core.Tables.events(spark, sfDir).count()
        else graft.core.Tables.load(spark, sfDir, t).count()
      } catch { case _: Throwable => () }
    }
    // materialize the XML ingest fixture so s5_xml_scan times the SCAN,
    // not the one-time fixture generation.
    try graft.queries.IngestQueries.xmlFixture(spark, sfDir)
    catch { case _: Throwable => () }
    // materialize dd13's stored corpus state (digest + signature tables)
    // so the timed window covers the batch-proportional incremental path,
    // not the one-time whole-corpus hash pass production stores.
    try graft.queries.TextQueries.dd13StateFixture(spark, sfDir)
    catch { case _: Throwable => () }
    // min of 2 runs per query: the first execution pays codegen/JIT
    // compilation; the min reflects steady-state engine throughput.
    // Per-query state hygiene: drop any cache entries / localCheckpoint
    // RDDs left by the previous query (the ContextCleaner frees
    // checkpointed blocks once their handles are GC'd) and let the heap
    // settle, so one query's storage/GC pressure can't bleed into the
    // next query's timing.
    // optional comma-separated query-name filter for profiling single
    // queries without paying the full suite (dev loop; driver leaves unset).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // run the first selected query once, untimed: the warm-ups above touch
    // only scans, so the first timed query would otherwise pay the cold
    // JIT of the operator paths every later query finds compiled (its
    // min-of-runs spread 0.66–1.12 s over filtered runs of t20_containment)
    selected.headOption.foreach { case (_, fn) =>
      try graft.tools.TimingSink.rows(fn(spark, sfDir))
      catch { case _: Throwable => () }
    }
    val results = selected.map { case (name, fn) =>
      var failed = false
      def once(): Double = {
        // Per-RUN state hygiene, outside the timed window. clearCache only
        // drops catalog-registered InMemoryRelations. Eager localCheckpoint
        // blocks (the dedup family's deterministic-lifetime
        // materializations) are persistent RDDs freed by the ContextCleaner
        // only AFTER their handles are GC'd — asynchronously, i.e. the
        // block-manager removals race the next timed run. Drop them
        // synchronously before EVERY run, not just per query: a checkpointing
        // query re-run 5 times by the adaptive loop otherwise accumulates 5
        // generations of deserialized blocks on the heap, and the growing GC
        // pressure is exactly the kind of self-inflicted drift that keeps
        // max > 1.5×min forever (the r3 recorded-vs-plan gap).
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        val t0 = System.nanoTime()
        try { graft.tools.TimingSink.rows(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed = true
        }
        (System.nanoTime() - t0) / 1e9
      }
      // min over runs, adaptively extended: two runs establish the
      // baseline; while the warm runs disagree by >1.5x (a GC pause / host
      // contention hit one of them) take another shot, up to 5 total.
      // The min over a widened window reflects plan cost, not whichever
      // transient stall the sandbox delivered during a fixed-2 window.
      // The FIRST run is excluded from the disagreement test (it still
      // counts toward the min): it pays this query's codegen/JIT, so for
      // compilation-heavy queries it exceeds steady state by >1.5x every
      // time and would pin the loop at 5 runs with nothing left to learn.
      val times = scala.collection.mutable.ArrayBuffer(once(), once())
      while (!failed && times.length < 5 &&
          times.drop(1).max > 1.5 * times.min)
        times += once()
      // a failed query must not masquerade as a (near-zero) fast one:
      // publish the -1 sentinel instead of the elapsed-until-exception.
      // JVM-state gauge after each query (stderr diagnostic, not part of
      // the published JSON): JIT code-cache fill is the r3-proven failure
      // mode where late-suite queries silently run interpreted.
      locally {
        import scala.jdk.CollectionConverters._
        val pools = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getName.toLowerCase.contains("code"))
        val cc = pools.map(p => s"${p.getName}=${p.getUsage.getUsed / (1 << 20)}M")
          .mkString(" ")
        val heap = java.lang.management.ManagementFactory.getMemoryMXBean
          .getHeapMemoryUsage
        System.err.println(f"[bench-gauge] $name%-28s ${times.min}%7.2f " +
          f"runs=${times.length} heap=${heap.getUsed / (1 << 20)}%dM $cc")
      }
      name -> (if (failed) -1.0 else times.min, times.length)
    }
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query attempt counts: a query at 5 never converged under the
    // 1.5x agreement rule — its min is still suspect. Diagnostic surface
    // for the recorded-vs-plan audit.
    val runs = results.map { case (k, (_, n)) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // system load average (1-min, sampled at suite end — named load_avg_end
    // so the bench's OWN 32-way work, which this sample includes, can't be
    // misread against "contended": the gate is load_avg_start): a polluted run —
    // Bench sharing the machine with sbt/PlanAudit — self-identifies in
    // the artifact instead of masquerading as a regression (the r6
    // e2e 7s->49s incident). On this 32-cpu host a clean run sits near
    // the suite's own parallelism; anything far above it means contention.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // The published run-count rule (the "runs" dict above): every query
    // gets 2 timed runs; while the warm runs (run 2+) disagree by >1.5x
    // — a GC pause or host-contention hit — it gets another, up to 5
    // total; the published time is the min. A query at runs=5 never
    // converged under the agreement rule and its min is still suspect.
    val policy = "min of runs; 2 base + adaptive to 5 while warm runs disagree >1.5x"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"run_policy":"$policy","sink":"toRdd-rows","load_avg_end":$loadAvg,"load_avg_start":$loadAtStart,"contended":$contended,"sf":"$sfDir"}"""
    // The driver captures only a bounded TAIL of stdout; with 189 queries
    // the full per-query dict is ~9 KB and the line's head (metric/value)
    // is truncated away — BENCH_r07.json recorded "parsed": null. Print a
    // COMPACT final line (total + a fixed headline subset, well under the
    // tail window) so the driver always parses it; the complete per-query
    // line is persisted to BENCH_LOCAL.json / BENCH_HISTORY.jsonl below.
    val headline = Seq("q1_agg", "j2_spine_unify", "a13_pbsi", "w4_sessionize",
      "dd1_exact_dedup", "dd7_lsh_verified", "dd9_dedup_corpus",
      "sim1_knn", "sim9_ivfadc", "t5_tfidf", "t21_dsir_weights",
      "t25_hll_diversity", "e2e_corpus_assembly", "e2e_llm_prep",
      "mm6_image_ahash", "m6_model_families", "s5_xml_scan")
    val headQs = headline.flatMap(k => results.get(k).map(v => (k, v._1)))
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$headQs,"n_queries":${results.size},"queries_file":"BENCH_LOCAL.json","sink":"toRdd-rows","load_avg_end":$loadAvg,"load_avg_start":$loadAtStart,"contended":$contended,"sf":"$sfDir"}""")
    // The driver tail-truncates Bench stdout, which destroyed the per-query
    // timing dict two rounds running (BENCH_r04/r05 "parsed": null). Persist
    // the identical line to a committed file so timing history survives
    // independently of stdout plumbing. Filtered dev runs
    // (SPARK_GRAFT_ONLY) must NOT write: a partial-surface line would
    // silently replace the committed full-surface artifact.
    if (only.nonEmpty) {
      System.err.println("[bench] filtered run — BENCH_LOCAL.json not written")
    } else try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
      // append-only history so per-round timings accumulate in the repo
      // (BENCH_LOCAL.json always holds just the latest line).
      // SCHEMA BOUNDARY for history consumers: lines before round 11
      // (no "sink" key) were timed through df.count(), which let the
      // optimizer DELETE left-join-tailed work (SPARK-36194) — their
      // timings are NOT comparable with "sink":"toRdd-rows" lines for
      // such queries — and carried the load sample as "load_avg"; from
      // round 11 on it is "load_avg_end" (end-of-suite sample) plus
      // "load_avg_start" (the contention gate). Key off "sink" presence
      // to partition the eras.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_HISTORY.jsonl"), line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_LOCAL.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
