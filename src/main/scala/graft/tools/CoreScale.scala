package graft.tools

import org.apache.spark.sql.SparkSession

/** Core-count scaling probe (dev tool, SCALING.md's sibling): run the
  * suite's heaviest queries on the SYNTHESIZED sf1g corpus (50k docs /
  * 20k vectors / 200k events — ScaleCurve's 10x step over the sf0.1
  * shape) at the core count in SPARK_GRAFT_CPUS, and print one JSON
  * line per run. Invoked twice (8 and 32 cpus) by the round's
  * measurement script; the two lines become SCALING_CORES.md.
  *
  * Why this exists: the driver's own 8-vs-32 scaling block runs at
  * sf0.1, where every query except the xml scan sits below the 32-way
  * scheduling floor and the ratio says nothing about operator shape
  * (PERF_r13 "scaling": everything 0.42-1.1). At 10x the data the
  * per-task work is large enough that a core-proportional operator
  * shows it — and one that stays ~1x needs (and gets) a structural
  * explanation.
  *
  * usage: SPARK_GRAFT_CPUS=8|32 runMain graft.tools.CoreScale [out.jsonl]
  */
object CoreScale {

  /** The bench's heavy tail: every query that took >= ~1.5 s in the
    * round-13 committed runs and reads only documents/embeddings/events
    * (so the synthesized corpus feeds it). */
  private val Heavy = Seq(
    "mm10_crossmodal_dedup", "m6_model_families", "e2e_decontam_prep",
    "e2e_corpus_assembly", "t34_quality_clf", "dd21_lsh_wide_bands",
    "t22_centrality", "e2e_c4_prep", "m1_iterative",
    "dd23_incremental_prod", "dd14_simhash_corpus", "e2e_llm_prep",
    "t22_prod", "mm9_wide", "dd13_incremental")

  /** The subset worth timing at the DEEP (sf10g, 500k-doc) scale: the
    * genuinely expensive operators whose per-task work is large enough
    * there for a core ratio to mean something. Excludes
    * t22_centrality (output-superlinear audit form — SCALING.md's
    * structural explanation stands in for a ratio) and the
    * small-at-depth entries. */
  private val DeepHeavy = Seq(
    "mm10_crossmodal_dedup", "dd21_lsh_wide_bands", "dd14_simhash_corpus",
    "e2e_decontam_prep", "e2e_corpus_assembly", "e2e_llm_prep",
    "t22_prod", "mm9_wide", "dd23_incremental_prod", "t34_quality_clf",
    "m6_model_families", "m1_iterative")

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALING_CORES.jsonl")
    val scale = if (args.length > 1) args(1) else "sf1g"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val queries = if (scale == "sf10g") DeepHeavy else Heavy
    // a renamed or removed query must not silently shrink the probe
    val missing = queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"CoreScale: not in SparkEntry.queries: ${missing.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = s"/tmp/graft_scale/$scale"
    scale match {
      case "sf1g" => ScaleCurve.ensureSf1g(spark, dir)
      case "sf10g" => ScaleCurve.ensureSf10g(spark, dir)
      case other => throw new IllegalArgumentException(
        s"CoreScale: unknown scale '$other' (sf1g|sf10g)")
    }
    // out-of-timing warmup: table counts + the incremental-dedup state
    graft.core.Tables.documents(spark, dir).count()
    spark.read.parquet(s"$dir/embeddings.parquet").count()
    graft.core.Tables.events(spark, dir).count()
    graft.queries.TextQueries.dd13StateFixture(spark, dir)
    graft.queries.TextQueries.dd23StateFixture(spark, dir)
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val t0 = System.nanoTime()
      TimingSink.rows(fn(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    val rows = queries.map { name =>
      val fn = graft.SparkEntry.queries(name)
      // untimed warmup (codegen/JIT), then min of 2 timed runs —
      // ScaleCurve's methodology
      once(fn)
      val t = math.min(once(fn), once(fn))
      System.err.println(f"[corescale] $name%-24s $t%7.2f s @ $cpus cpus")
      name -> t
    }
    val qs = rows.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"tool":"CoreScale","cpus":$cpus,"scale":"$scale","dir":"$dir","load_avg_start":$loadStart,"queries":$qs}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      line + "\n", java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
