package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Distributed, mergeable sketches for corpus-scale statistics.
  *
  * At 100 TB the interesting per-corpus numbers — distinct n-grams,
  * per-term frequencies — are exactly the ones an exact GROUP BY cannot
  * afford (the distinct-shingle key space is Heaps-law unbounded). Both
  * sketches here are one-pass, map-side-combinable aggregates whose merge
  * is associative (register max / cell sum), so a 1000-executor cluster
  * builds them with a single tiny shuffle of fixed size (m registers /
  * depth×width cells), independent of corpus size.
  *
  * Unlike engine-native approximations (`approx_count_distinct`'s
  * HLL++, which is not reproducible outside Spark), these sketches are
  * derived from the portable SHA hashes in [[Hashing]], and the
  * estimator arithmetic is kept in exact-integer domain (sum of
  * power-of-two register weights) until a single final division — so
  * the DuckDB oracle replays them bit-for-bit and the driver's hash
  * gate applies to an *approximate* operator.
  *
  * Reference behavior grounded in the published HyperLogLog (Flajolet
  * et al. 2007) and Count-Min (Cormode & Muthukrishnan 2005) papers;
  * the reference repo has no sketch surface (its pandas passes are
  * exact), so these are beyond-reference scale operators.
  */
object Sketches {

  /** Register-count exponent: m = 2^p = 1024 registers. */
  private val P: Int = 10
  private val M: Int = 1 << P

  /** Bits of the 60-bit [[Hashing.sha60]] hash left after the bucket
    * index is consumed; rho ranges over [1, W + 1]. */
  private val W: Int = 60 - P

  /** 2^(W+1): the fixed-point scale that turns sum(2^-rho) into an
    * exact integer sum (each addend 2^(W+1-rho) is a positive integer,
    * and m * 2^(W+1) < 2^62 cannot overflow). */
  private val Scale: Long = 1L << (W + 1)

  /** alpha_m * m^2 * 2^(W+1) — the raw-estimate numerator, embedded as
    * one double literal (17 significant digits round-trip exactly, so
    * both engines divide the identical numerator by the identical
    * integer denominator). */
  private val RawNumerator: Double =
    0.7213 / (1.0 + 1.079 / M.toDouble) * M.toDouble * M.toDouble * Scale.toDouble
  private val rawNumeratorLit: String = f"$RawNumerator%.17e"

  /** (bucket, rho) register coordinates of a 60-bit hash column. The
    * hash is taken upstream so heavier stages (distinct, shuffle) move
    * longs instead of strings. rho = leading zeros of the W-bit hash
    * suffix + 1 = W + 1 - bitlen(w); length(bin(w)) is the exact integer
    * bitlen in both engines (no float log2 whose boundary rounding could
    * diverge). */
  private def registerColsFromHash(h: Column): (Column, Column) = {
    val w = shiftright(h, P)
    (pmod(h, lit(M.toLong)),
      when(w === 0, lit(W + 1)).otherwise(lit(W + 1) - length(bin(w))))
  }

  /** Register table from a (grp, h) frame of 60-bit hashes. */
  private def hllRegistersFromHash(df: DataFrame): DataFrame = {
    val (bucket, rho) = registerColsFromHash(col("h"))
    df.select(col("grp"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("grp", "bucket").agg(max("rho").as("m_reg"))
  }

  /** HyperLogLog register table for the values of `valueCol` within each
    * group: (group, bucket, m_reg) with m_reg = max rho. This is the
    * mergeable form — registers for a union of groups are the per-bucket
    * MAX of the groups' registers, which [[hllEstimate]] exploits and
    * SketchesSpec pins. */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val (bucket, rho) = registerColsFromHash(Hashing.sha60(col(valueCol)))
    df.select(col(groupCol).as("grp"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("grp", "bucket").agg(max("rho").as("m_reg"))
  }

  /** HLL estimate per group from a register table. All arithmetic before
    * the final division is exact-integer: S = sum 2^(W+1-rho) over used
    * registers + 2^(W+1) per empty register. Small-range (linear
    * counting) correction per the HLL paper; no large-range correction
    * is needed at a 60-bit hash domain. */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame =
    hllEstimateBy(regs, Seq("grp"))

  /** [[hllEstimate]] over an arbitrary composite group key — used by the
    * pairwise overlap so pair identities stay structural columns instead
    * of an in-band concatenated string (which a '|' inside a source name
    * would corrupt). */
  private def hllEstimateBy(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_buckets_used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - m_reg)")).as("s_used"))
      .withColumn("zeros", lit(M.toLong) - col("n_buckets_used"))
      .withColumn("s_total", col("s_used") + col("zeros") * lit(Scale))
      .withColumn("raw",
        expr(s"CAST($rawNumeratorLit AS DOUBLE)") / col("s_total").cast("double"))
      .withColumn("hll_estimate",
        round(when(col("raw") <= lit(2.5 * M) && col("zeros") > 0,
            lit(M.toDouble) * log(lit(M.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw")), 6))
      .select((groupCols.map(col) ++
        Seq(col("n_buckets_used"), col("hll_estimate"))): _*)

  /** The shared HLL preamble — ONE spread + shingle + hash + distinct
    * pass yielding the per-group distinct 60-bit fingerprints,
    * MATERIALIZED (checkpoint):
    *  - round-robin spread first: the driver testdata parquet is a
    *    single row group, so without it the shingle+hash pass runs as
    *    ONE task (the minhashSignature pattern);
    *  - hash BEFORE distinct: the map side reduces each shingle string
    *    to its fingerprint before anything shuffles, so the distinct
    *    exchange moves 8 bytes per row instead of shingle strings;
    *    registers are functions of the hash, and the exact-audit
    *    columns are defined as exact distinct-FINGERPRINT counts
    *    (collision probability ~n²/2^61 — negligible, identical in
    *    both engines by construction);
    *  - checkpoint: the consumers aggregate differently, so after the
    *    distinct-rewrite passes their subtrees no longer canonicalize
    *    equal and ReuseExchange alone would re-explode the corpus per
    *    consumer (measured 4 scan branches). */
  private def distinctShingleHashes(docs: DataFrame, sourceCol: String,
                                    textCol: String, k: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      // fused shingle+sha60 kernel: the exploded rows are already the
      // 60-bit hashes (value-identical to sha60 over the shingle string,
      // HashingSpec-pinned), so no shingle string is ever materialized
      // and the distinct shuffles longs, not strings.
      .select(col(sourceCol).as("grp"),
        explode(graft.functions.HashedShingles(col(textCol), k, 15)).as("h"))
      .distinct().localCheckpoint()

  /** Per-source distinct k-shingle diversity via HLL, plus the merged
    * "ALL" row computed by register-max merge of the per-source register
    * tables (NOT by re-scanning the corpus) — the sketch property that
    * makes corpus-wide distinct counts a fixed-size reduce at 100 TB.
    * The exact distinct-fingerprint counts ride along as the audit
    * column (at scale you would drop them; they are the quantity the
    * sketch replaces). "ALL" is a display label in the output, never a
    * join key. */
  def hllShingleDiversity(docs: DataFrame, sourceCol: String,
                          textCol: String, k: Int): DataFrame = {
    val d = distinctShingleHashes(docs, sourceCol, textCol, k)
    val regsSrc = hllRegistersFromHash(d)
    // the merged row is assembled from two 1-row frames and UNIONED into
    // the result — "ALL" is a display label only, never a join key, so a
    // real source named "ALL" cannot cross-contaminate the join
    def shape(rows: DataFrame): DataFrame = rows
      .select(col("source"), col("n_exact"), col("n_buckets_used"),
        col("hll_estimate"),
        round(abs(col("hll_estimate") - col("n_exact").cast("double")) /
          col("n_exact"), 6).as("rel_error"))
    val exactSrc = d.groupBy("grp").agg(count(lit(1)).as("n_exact"))
    val srcRows = shape(hllEstimate(regsSrc).join(exactSrc, Seq("grp"))
      .withColumnRenamed("grp", "source"))
    val estAll = hllEstimateBy(
      regsSrc.groupBy("bucket").agg(max("m_reg").as("m_reg")), Seq.empty)
    val exactAll = d.select("h").distinct().agg(count(lit(1)).as("n_exact"))
    val allRow = shape(estAll.crossJoin(exactAll)
      .withColumn("source", lit("ALL")))
    srcRows.unionByName(allRow)
  }

  /** DuckDB twin of [[hllShingleDiversity]]. */
  def hllShingleDiversitySql(docsRel: String, sourceCol: String,
                             textExpr: String, k: Int): String = {
    val h = Hashing.sha60Sql("g")
    s"""WITH tok AS (
       |  SELECT $sourceCol AS grp,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk
       |  FROM $docsRel),
       |sh AS (
       |  SELECT grp, unnest(${Dedup.shinglesOverTkSql(k)}) AS g FROM tok),
       |dh AS (SELECT DISTINCT grp, $h AS h FROM sh),
       |rr AS (SELECT grp, h % $M AS bucket, h >> $P AS w FROM dh),
       |rho AS (
       |  SELECT grp, bucket,
       |    CASE WHEN w = 0 THEN ${W + 1} ELSE ${W + 1} - length(bin(w)) END AS rho
       |  FROM rr),
       |regs_src AS (SELECT grp, bucket, max(rho) AS m_reg FROM rho GROUP BY 1, 2),
       |est_src_raw AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_buckets_used,
       |    CAST(sum(1::BIGINT << (${W + 1} - m_reg)) AS BIGINT) AS s_used
       |  FROM regs_src GROUP BY 1),
       |est_all_raw AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_buckets_used,
       |    CAST(sum(1::BIGINT << (${W + 1} - m_reg)) AS BIGINT) AS s_used
       |  FROM (SELECT bucket, max(m_reg) AS m_reg FROM regs_src GROUP BY 1)),
       |est_src AS (
       |  SELECT grp, n_buckets_used,
       |    ${estFinishSql(s"($M - n_buckets_used)")}
       |  FROM est_src_raw),
       |est_all AS (
       |  SELECT n_buckets_used,
       |    ${estFinishSql(s"($M - n_buckets_used)")}
       |  FROM est_all_raw),
       |ex_src AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_exact FROM dh GROUP BY 1),
       |ex_all AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_exact FROM dh)
       |SELECT e.grp AS source, x.n_exact, e.n_buckets_used, e.hll_estimate,
       |  round(abs(e.hll_estimate - CAST(x.n_exact AS DOUBLE)) / x.n_exact, 6)
       |    AS rel_error
       |FROM est_src e JOIN ex_src x ON e.grp = x.grp
       |UNION ALL
       |SELECT 'ALL' AS source, x.n_exact, e.n_buckets_used, e.hll_estimate,
       |  round(abs(e.hll_estimate - CAST(x.n_exact AS DOUBLE)) / x.n_exact, 6)
       |    AS rel_error
       |FROM est_all e CROSS JOIN ex_all x""".stripMargin
  }

  /** Pairwise source-overlap estimates from the per-source HLL registers
    * ALONE — no second corpus pass: |A∩B| ≈ |A| + |B| − |A∪B| by
    * inclusion–exclusion, where the union sketch of any pair is the
    * register-max merge. The whole computation after the one register
    * build is bounded by sources² × m rows (corpus-independent), vs
    * t19's exact overlap whose shingle-mask pass is corpus-sized — this
    * is the form that still works when the corpus is 100 TB and sources
    * number in the thousands. Pair expansion is two broadcast equi-joins
    * against the bounded pair dimension (no non-equi join). Estimates
    * clamp at 0 (inclusion–exclusion can go slightly negative at sketch
    * error). */
  def hllPairwiseOverlap(docs: DataFrame, sourceCol: String,
                         textCol: String, k: Int): DataFrame = {
    // shared preamble, then MATERIALIZE the register table: it is
    // consumed by the single-source estimates and both sides of the
    // pair expansion, and it is fixed-size (sources × m rows) — exactly
    // what a sketch is for. Everything downstream of this checkpoint is
    // corpus-independent.
    val regs = hllRegistersFromHash(
        distinctShingleHashes(docs, sourceCol, textCol, k))
      .localCheckpoint()
    val single = hllEstimate(regs)
      .select(col("grp"), col("hll_estimate"))
    val srcs = regs.select(col("grp")).distinct()
    // sources² pair dimension (t19's bounded-dimension pattern) —
    // checkpointed since three consumers reference it and the build is
    // the one non-equi join in the plan
    val pairDim = srcs.select(col("grp").as("src_a"))
      .crossJoin(srcs.select(col("grp").as("src_b")))
      .filter(col("src_a") < col("src_b"))
      .localCheckpoint()
    val pairRegs = regs.join(broadcast(pairDim), col("grp") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("bucket"), col("m_reg"))
      .unionByName(
        regs.join(broadcast(pairDim), col("grp") === col("src_b"))
          .select(col("src_a"), col("src_b"), col("bucket"), col("m_reg")))
    // pair identities stay structural (src_a, src_b) columns end to end —
    // no concatenated key that a delimiter inside a source name could
    // corrupt
    val unionEst = hllEstimateBy(
        pairRegs.groupBy("src_a", "src_b", "bucket")
          .agg(max("m_reg").as("m_reg")),
        Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("hll_estimate").as("est_union"))
    pairDim
      .join(single.select(col("grp").as("src_a"), col("hll_estimate").as("est_a")),
        Seq("src_a"))
      .join(single.select(col("grp").as("src_b"), col("hll_estimate").as("est_b")),
        Seq("src_b"))
      .join(unionEst, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        round(greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0.0)), 6).as("est_intersect"))
  }

  /** The estimator tail as one SQL column over (n_buckets_used, s_used)
    * — identical arithmetic to [[hllEstimateBy]]: raw = numerator /
    * (s_used + zeros·2^(W+1)), linear counting below 2.5m with zeros
    * left. */
  private def estFinishSql(zeros: String): String =
    s"""round(CASE WHEN CAST($rawNumeratorLit AS DOUBLE) /
       |        CAST(s_used + $zeros * ${Scale}::BIGINT AS DOUBLE) <= ${2.5 * M}
       |        AND $zeros > 0
       |      THEN ${M.toDouble} * ln(${M.toDouble} / CAST($zeros AS DOUBLE))
       |      ELSE CAST($rawNumeratorLit AS DOUBLE) /
       |        CAST(s_used + $zeros * ${Scale}::BIGINT AS DOUBLE) END, 6)
       |      AS hll_estimate""".stripMargin

  /** DuckDB twin of [[hllPairwiseOverlap]]. */
  def hllPairwiseOverlapSql(docsRel: String, sourceCol: String,
                            textExpr: String, k: Int): String = {
    val h = Hashing.sha60Sql("g")
    val estFrom = (src: String) =>
      s"""SELECT grp, CAST(count(*) AS BIGINT) AS n_buckets_used,
         |    CAST(sum(1::BIGINT << (${W + 1} - m_reg)) AS BIGINT) AS s_used
         |  FROM $src GROUP BY 1""".stripMargin
    s"""WITH tok AS (
       |  SELECT $sourceCol AS grp,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk
       |  FROM $docsRel),
       |sh AS (SELECT grp, unnest(${Dedup.shinglesOverTkSql(k)}) AS g FROM tok),
       |rr AS (
       |  SELECT grp, h % $M AS bucket, h >> $P AS w
       |  FROM (SELECT grp, $h AS h FROM sh)),
       |rho AS (
       |  SELECT grp, bucket,
       |    CASE WHEN w = 0 THEN ${W + 1} ELSE ${W + 1} - length(bin(w)) END AS rho
       |  FROM rr),
       |regs AS (SELECT grp, bucket, max(rho) AS m_reg FROM rho GROUP BY 1, 2),
       |pair_dim AS (
       |  SELECT a.grp AS src_a, b.grp AS src_b
       |  FROM (SELECT DISTINCT grp FROM regs) a,
       |       (SELECT DISTINCT grp FROM regs) b
       |  WHERE a.grp < b.grp),
       |pair_regs AS (
       |  SELECT p.src_a, p.src_b, r.bucket, r.m_reg
       |  FROM regs r JOIN pair_dim p ON r.grp = p.src_a
       |  UNION ALL
       |  SELECT p.src_a, p.src_b, r.bucket, r.m_reg
       |  FROM regs r JOIN pair_dim p ON r.grp = p.src_b),
       |union_regs AS (
       |  SELECT src_a, src_b, bucket, max(m_reg) AS m_reg
       |  FROM pair_regs GROUP BY 1, 2, 3),
       |est_single_raw AS (
       |  ${estFrom("regs")}),
       |est_union_raw AS (
       |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_buckets_used,
       |    CAST(sum(1::BIGINT << (${W + 1} - m_reg)) AS BIGINT) AS s_used
       |  FROM union_regs GROUP BY 1, 2),
       |est AS (
       |  SELECT grp,
       |    ${estFinishSql(s"(${M} - n_buckets_used)")}
       |  FROM est_single_raw),
       |est_u AS (
       |  SELECT src_a, src_b,
       |    ${estFinishSql(s"(${M} - n_buckets_used)")}
       |  FROM est_union_raw)
       |SELECT p.src_a, p.src_b,
       |  ea.hll_estimate AS est_a, eb.hll_estimate AS est_b,
       |  eu.hll_estimate AS est_union,
       |  round(greatest(ea.hll_estimate + eb.hll_estimate - eu.hll_estimate,
       |    0.0), 6) AS est_intersect
       |FROM pair_dim p
       |JOIN est ea ON ea.grp = p.src_a
       |JOIN est eb ON eb.grp = p.src_b
       |JOIN est_u eu ON eu.src_a = p.src_a AND eu.src_b = p.src_b""".stripMargin
  }

  /** Count-Min depth (independent hash rows). */
  private val CmDepth: Int = 4

  /** Count-Min width (cells per row). Fixture-sized so collisions are
    * real and the overestimate column is honest; at corpus scale width
    * grows (error ~ 2N/width) while the build stays one fixed-size
    * aggregate. */
  private val CmWidth: Int = 1024

  private def cmCol(i: Int, g: Column): Column =
    pmod(Hashing.sha28(concat(lit(s"cm$i|"), g)), lit(CmWidth.toLong))

  /** The depth (row, col) cells one value hashes into — shared by the
    * build and the probe side. */
  private def cmCellsOf(value: Column): Column =
    array((0 until CmDepth).map(i =>
      struct(lit(i).as("row_i"), cmCol(i, value).as("col_i"))): _*)

  private def cmColSql(i: Int, gExpr: String): String =
    s"${Hashing.sha28Sql(s"'cm$i|' || $gExpr")} % $CmWidth"

  /** Count-Min sketch over the k-shingle stream of a corpus, probed at
    * the exact top-N shingles: returns (shingle, exact occurrence count,
    * CM estimate = min over depth rows, overestimate). CM is linear, so
    * the build pre-aggregates per-shingle counts map-side and adds them
    * into depth×width cells — one pass, shuffle bounded by the sketch
    * size, merge = cell-wise sum. The estimate upper-bounds the true
    * count by construction (SketchesSpec pins est >= exact). */
  def countMinShingles(docs: DataFrame, textCol: String, k: Int,
                       topN: Int): DataFrame = {
    // the vocab-bounded count table is consumed by BOTH the sketch build
    // and the probe ranking — materialize it once (the dd8 checkpoint
    // contract; Bench's per-run unpersist reclaims the blocks) instead
    // of re-exploding the corpus per consumer
    val counts = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(Dedup.shingles(col(textCol), k)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cells = counts
      .select(col("cnt"), explode(cmCellsOf(col("g"))).as("rc"))
      .groupBy(col("rc.row_i").as("row_i"), col("rc.col_i").as("col_i"))
      .agg(sum("cnt").as("cell"))
    // probe set: exact top-N shingles (count desc, shingle asc) — a
    // TakeOrdered over the vocab-bounded count table, not a full sort
    val probes = counts
      .orderBy(col("cnt").desc, col("g")).limit(topN)
    val est = probes
      .select(col("g"), col("cnt"), explode(cmCellsOf(col("g"))).as("rc"))
      .select(col("g"), col("cnt"), col("rc.row_i"), col("rc.col_i"))
      .join(broadcast(cells), Seq("row_i", "col_i"))
      .groupBy("g", "cnt").agg(min("cell").as("cm_estimate"))
    est.select(col("g").as("shingle"), col("cnt").as("exact_cnt"),
      col("cm_estimate"),
      (col("cm_estimate") - col("cnt")).as("overestimate"))
  }

  /** DuckDB twin of [[countMinShingles]]. */
  def countMinShinglesSql(docsRel: String, textExpr: String, k: Int,
                          topN: Int): String = {
    val cols = (0 until CmDepth)
      .map(i => s"SELECT g, cnt, $i AS row_i, ${cmColSql(i, "g")} AS col_i FROM counts")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
       |  SELECT string_split_regex(lower($textExpr), '\\s+') AS tk FROM $docsRel),
       |sh AS (SELECT unnest(${Dedup.shinglesOverTkSql(k)}) AS g FROM tok),
       |counts AS (SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM sh GROUP BY 1),
       |hashed AS (
       |  $cols),
       |cells AS (
       |  SELECT row_i, col_i, CAST(sum(cnt) AS BIGINT) AS cell
       |  FROM hashed GROUP BY 1, 2),
       |probes AS (
       |  SELECT g, cnt FROM counts ORDER BY cnt DESC, g LIMIT $topN),
       |probe_cells AS (
       |  SELECT p.g, p.cnt, h.row_i, h.col_i
       |  FROM probes p JOIN hashed h ON p.g = h.g),
       |est AS (
       |  SELECT pc.g, pc.cnt, min(c.cell) AS cm_estimate
       |  FROM probe_cells pc JOIN cells c
       |    ON pc.row_i = c.row_i AND pc.col_i = c.col_i
       |  GROUP BY 1, 2)
       |SELECT g AS shingle, cnt AS exact_cnt, cm_estimate,
       |  cm_estimate - cnt AS overestimate
       |FROM est""".stripMargin
  }
}
