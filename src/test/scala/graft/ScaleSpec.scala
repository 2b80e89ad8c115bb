package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Skew

/** Scale-mechanics evidence: the stored-state dedup path matching inline
  * state, salted joins matching their plain equivalents, bucketed joins
  * eliminating the shuffle. */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

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
