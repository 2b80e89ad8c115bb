package graft

import org.apache.spark.sql.functions._
import graft.core.{Sinks, Tables}
import graft.operators.Skew

/** Scale-mechanics evidence: partition pruning on partitioned sinks,
  * salted joins/aggs matching their plain equivalents, bucketed joins
  * eliminating the shuffle. */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("partitioned sink + partition pruning in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val daily = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts")).as("date"), col("user_id"))
      .agg(avg("value").as("v"))
      .withColumn("date_str", date_format(col("date"), "yyyy-MM-dd"))
    Sinks.writePartitioned(daily.drop("date"), s"$dir/daily", Seq("date_str"))
    val read = spark.read.parquet(s"$dir/daily")
      .filter(col("date_str") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("date_str"), s"no partition filter:\n${plan.take(500)}")
    assert(read.count() > 0)
    // pruning actually limits files read: only one partition dir touched
    val scanned = read.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(scanned.forall(_.contains("date_str=2024-01-05")))
  }

  test("dd13 stored-state path: value-identical to inline state, reads the stored tables") {
    import graft.operators.Dedup
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sfDir)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val (dig, sig) = graft.queries.TextQueries.dd13StateFixture(spark, sfDir)
    val storedDf = Dedup.incrementalDedup(existing, spark.read.parquet(dig),
      spark.read.parquet(sig), incoming, "doc_id", "text", 2, 4, 2, 0.05)
    val stored = storedDf.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    // stored state must be a drop-in for inline recomputation (the
    // production contract: the corpus hash pass happened at snapshot
    // build, the daily batch only READS it)
    val inline = Dedup.incrementalDedup(existing, incoming,
        "doc_id", "text", 2, 4, 2, 0.05)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(stored === inline)
    assert(stored.nonEmpty)
    // the state source is the stored parquet (the final df's own plan
    // starts at the eagerly-checkpointed stage-1 output, so assert on the
    // state frames the overload was handed): batch-proportionality comes
    // from reading these tables instead of re-deriving them per batch
    assert(new java.io.File(s"$dig/_SUCCESS").exists() &&
      new java.io.File(s"$sig/_SUCCESS").exists())
    val digPlan = spark.read.parquet(dig).queryExecution.executedPlan.toString
    assert(digPlan.contains("graft_dd13") && !digPlan.contains("Exchange"),
      s"state read is not a plain stored-table scan:\n${digPlan.take(400)}")
  }

  test("salted join equals plain join under a hot key") {
    val big = ((1 to 5000).map(i => ("hot", i)) ++ (1 to 100).map(i => ("cold", i)))
      .toDF("k", "v")
    val small = Seq(("hot", 10), ("cold", 20)).toDF("k", "m")
    val plain = big.join(small, Seq("k"))
      .agg(sum(col("v") * col("m"))).head().getLong(0)
    val salted = Skew.saltedJoin(big, small, col("l.k") === col("r.k"),
        salt = xxhash64(col("k"), monotonically_increasing_id()), saltFactor = 8)
      .agg(sum(col("v") * col("m"))).head().getLong(0)
    assert(salted === plain)
  }

  test("bucketed stratum ops equal their single-window forms bit-for-bit") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toIndexedSeq
    // hexLen 1 -> only 16 buckets, so both the per-bucket offset math and
    // the within-bucket window see real multi-row work at this SF
    for (hexLen <- Seq(1, 2)) {
      assert(rows(TextAnalysis.stratifiedSample(docs, "doc_id", "lang", 0.25,
          bucketHexLen = hexLen)) ===
        rows(TextAnalysis.stratifiedSamplePlain(docs, "doc_id", "lang", 0.25)),
        s"stratifiedSample hexLen=$hexLen diverged from single-window form")
      assert(rows(TextAnalysis.packIntoShards(docs, "doc_id", "text", "lang",
          2000L, bucketHexLen = hexLen)
          .select("doc_id", "lang", "n_tokens", "shard_id")) ===
        rows(TextAnalysis.packIntoShardsPlain(docs, "doc_id", "text", "lang",
          2000L).select("doc_id", "lang", "n_tokens", "shard_id")),
        s"packIntoShards hexLen=$hexLen diverged from single-window form")
      val weights = Map(
        "en" -> 0.4, "zh" -> 0.2, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.1)
      assert(rows(TextAnalysis.mixtureSample(docs, "doc_id", "text", "lang",
          weights, 0.5, bucketHexLen = hexLen)) ===
        rows(TextAnalysis.mixtureSamplePlain(docs, "doc_id", "text", "lang",
          weights, 0.5)),
        s"mixtureSample hexLen=$hexLen diverged from single-window form")
    }
  }

  test("dd17 two-phase per-group cap equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.operators.TextAnalysis.qualityColumns(
      Tables.documents(spark, "/root/testdata/sf0.001"), "text")
    // tiny numBuckets so phase-1 buckets hold real multi-row work, and a
    // cap small enough that most sources are actually cut
    for (buckets <- Seq(2, 64)) {
      val twoPhase = graft.operators.Dedup.capPerGroup(docs, "source",
          "doc_id", Seq(col("quality_score").desc), n = 3,
          numBuckets = buckets)
        .select("doc_id", "source", "grp_rank")
        .collect().map(_.toString).sorted.toIndexedSeq
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      val single = docs
        .withColumn("grp_rank", row_number().over(w).cast("long"))
        .filter(col("grp_rank") <= 3)
        .select("doc_id", "source", "grp_rank")
        .collect().map(_.toString).sorted.toIndexedSeq
      assert(twoPhase === single,
        s"two-phase cap (buckets=$buckets) diverged from single window")
    }
  }

  test("vocabulary attach past the broadcast budget: shuffled equi-join, same rows") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toIndexedSeq
    val tfidfSmall = rows(TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 5))
    val lmSmall = rows(TextAnalysis.unigramLogProb(docs, "doc_id", "text"))
    // limit 0 drops the hint; disabling auto-broadcast makes the planner's
    // fallback deterministic so the test really runs the shuffle path
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val tfidf = TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 5,
        broadcastVocabLimit = 0L)
      val lm = TextAnalysis.unigramLogProb(docs, "doc_id", "text",
        broadcastVocabLimit = 0L)
      for ((df, name) <- Seq(tfidf -> "tfIdfTopK", lm -> "unigramLogProb")) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"$name: vocab attach still broadcast past the budget")
      }
      assert(rows(tfidf) === tfidfSmall, "tfIdfTopK diverged on the shuffle path")
      assert(rows(lm) === lmSmall, "unigramLogProb diverged on the shuffle path")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("bucketed tables join without an exchange on the bucketed key") {
    val a = (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "x")
    val b = (1L to 1000L).map(i => (i, s"n$i")).toDF("id", "name")
    // a fresh in-memory catalog doesn't know tables left in the warehouse
    // dir by a previous JVM — clear both catalog entries and locations.
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    a.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("graft_bkt_a")
    b.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("graft_bkt_b")
    val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    // co-bucketed scan-to-scan join: no shuffle exchange on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(800)}")
    assert(joined.count() === 1000)
  }
}
