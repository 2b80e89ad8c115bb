package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join for hot keys (SURVEY §7.6).
  *
  * When one join key carries a disproportionate share of rows (here, the
  * one constant block of an all-pairs verify), a plain shuffle join puts
  * the whole hot key in one task. Salting splits the probe side's rows
  * across `saltFactor` buckets and replicates the build side once per
  * bucket — bounded replication, even distribution, identical results.
  * [[Dedup.ngramJaccardPairs]] (dd18's all-pairs ground truth) and
  * [[Dedup.containmentPairs]] (t20) run their pair verify through
  * [[saltedJoin]] with a salt factor of 32. (AQE's skew-join handles
  * sort-merge cases adaptively; explicit salting covers the joins AQE
  * can't split.)
  */
object Skew {

  /** Fragment-replicate join: each `probe` row gets the salt
    * `pmod(salt, saltFactor)`, each `build` row is replicated once per
    * salt in [0, saltFactor), and `cond` is ANDed with salt equality, so
    * every matching pair meets exactly once, on its probe row's salt.
    * The sides are aliased `l` (probe) and `r` (build) — `cond` refers to
    * their columns through those aliases — and the salt columns are
    * dropped from the output. */
  def saltedJoin(probe: DataFrame, build: DataFrame, cond: Column,
                 salt: Column, saltFactor: Int): DataFrame = {
    val l = probe.withColumn("__salt", pmod(salt, lit(saltFactor))).as("l")
    val r = build.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*))).as("r")
    l.join(r, cond && col("l.__salt") === col("r.__salt"))
      .drop(col("l.__salt")).drop(col("r.__salt"))
  }
}
