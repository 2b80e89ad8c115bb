package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.functions.Hashing

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k via a blocked join + window rank —
  * correct at any scale but O(Q*N). Scale path: random-hyperplane LSH
  * bucketing so candidate generation is an equi-join on bucket keys.
  *
  * Dot products use higher-order functions (`zip_with` + `aggregate`) in
  * DOUBLE precision with left-to-right summation — the same order DuckDB's
  * `list_cosine_similarity` uses, keeping engine-vs-oracle drift inside
  * round-off that a round(6) canonicalization absorbs. Ranking ties are
  * broken on (rounded sim DESC, id ASC) so top-k is deterministic in both
  * engines.
  */
object Similarity {

  /** Dot product of two numeric-array columns (left-to-right fold — the
    * same summation order as DuckDB's list_inner_product). Native
    * one-loop kernel ([[graft.functions.VecDot]]), value-identical
    * (HashingSpec-pinned) to the composable
    * `aggregate(zip_with(x, y, p*q), 0.0, +)` form, whose ZipWith /
    * ArrayAggregate lambdas are CodegenFallback and ran interpreted per
    * element per scored pair. */
  private def dot(x: Column, y: Column): Column = graft.functions.VecDot(x, y)

  /** Cosine similarity of two float-array columns, computed in double. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic Achlioptas ±1 sign matrix for [[randomProject]]:
    * sign(i, j) from the parity of SHA-256("rp|i|j") — a fixed function
    * of the coordinates, so the projection is reproducible anywhere and
    * the oracle receives the identical constants as literals. */
  private def randomProjectionSigns(dIn: Int, dOut: Int): Array[Array[Double]] =
    Array.tabulate(dOut, dIn) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      if ((md.digest(s"rp|$i|$j".getBytes("UTF-8"))(0) & 1) == 0) 1.0 else -1.0
    }

  /** Johnson–Lindenstrauss random projection with the Achlioptas ±1
    * scheme: y_j = ⟨x, s_j⟩ / √d', s_j the deterministic sign rows.
    * The embedding-compression step ahead of ANN at corpus scale (4×
    * fewer floats shuffled through every candidate join) — pure per-row
    * column arithmetic, no shuffle, and the ±1 matrix costs no
    * multiplications in principle. Emits the first 4 projected
    * components and the JL norm-preservation audit ‖y‖²/‖x‖² (≈1 in
    * expectation; the spec pins the tolerance band). Wrong-length
    * vectors are filtered (they can never project). */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
                    dIn: Int, dOut: Int): DataFrame = {
    require(dOut >= 4, s"randomProject: emits components y0..y3, dOut $dOut < 4")
    require(dIn >= dOut, s"randomProject: dIn $dIn < dOut $dOut (not a reduction)")
    val signs = randomProjectionSigns(dIn, dOut)
    val scale = math.sqrt(dOut.toDouble)
    val e = col(vecCol)
    val ys = (0 until dOut).map(j => dot(e, typedLit(signs(j).toSeq)) / lit(scale))
    val sumYsq = ys.map(y => y * y).reduce(_ + _)
    vecs.filter(size(e) === dIn)
      .select(col(idCol),
        round(ys(0), 6).as("y0"), round(ys(1), 6).as("y1"),
        round(ys(2), 6).as("y2"), round(ys(3), 6).as("y3"),
        round(sumYsq / dot(e, e), 6).as("norm_ratio"))
  }

  /** DuckDB twin of [[randomProject]] over `embeddings`. */
  def randomProjectSql(dIn: Int, dOut: Int): String = {
    require(dOut >= 4, s"randomProjectSql: selects y0..y3, dOut $dOut < 4")
    val signs = randomProjectionSigns(dIn, dOut)
    val scale = math.sqrt(dOut.toDouble)
    def lst(j: Int) = signs(j).map(s => if (s > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    val yDefs = (0 until dOut)
      .map(j => s"list_inner_product(e, ${lst(j)}) / $scale AS y$j")
      .mkString(",\n    ")
    val sumYsq = (0 until dOut).map(j => s"y$j * y$j").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |ok AS (SELECT * FROM v WHERE len(e) = $dIn),
       |proj AS (
       |  SELECT vec_id,
       |    $yDefs,
       |    list_inner_product(e, e) AS nx
       |  FROM ok)
       |SELECT vec_id, round(y0, 6) AS y0, round(y1, 6) AS y1,
       |  round(y2, 6) AS y2, round(y3, 6) AS y3,
       |  round(($sumYsq) / nx, 6) AS norm_ratio
       |FROM proj""".stripMargin
  }

  /** Project (id, vec, norm): the norm is computed ONCE per vector so
    * pairwise scoring does one dot product per pair instead of three.
    * sqrt-of-dot is deterministic, so sim values are bit-identical to the
    * per-pair formulation the oracle uses. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      sqrt(dot(col(vecCol), col(vecCol))).as(normAs))

  /** Bounded per-query top-k over `scored` (query_id, neighbor_id,
    * score): keep the k best rows per query under `orderCols` (score
    * first, neighbor_id as the deterministic tie-break — neighbor_id
    * MUST appear in `orderCols` for the two stages to agree on ties).
    *
    * A single `row_number().over(partitionBy(query_id))` buffers EVERY
    * scored candidate of a query in one WindowExec group. At corpus
    * scale that is a per-query sort of N rows concentrated on Q keys:
    * groups blow past the window buffer's in-memory threshold (4096
    * rows) and each group spills to disk — the measured sim6_pq_adc
    * second-decade cliff (1.5 s -> 172 s on 10x corpus). Two
    * value-identical stages instead: a salted partial rank bounds every
    * window group to ~N/64 rows AND spreads the sort over 64x more
    * keys, then the final rank sees at most 64k rows per query. Any
    * global top-k row ranks <= k within its salt slice too, so the
    * output is bit-identical to the single-window form (same oracle). */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           orderCols: Column*): DataFrame = {
    val salt = pmod(xxhash64(col("neighbor_id")), lit(64L))
    val w1 = Window.partitionBy(col("query_id"), salt).orderBy(orderCols: _*)
    val partial = scored.withColumn("__prk", row_number().over(w1))
      .filter(col("__prk") <= k).drop("__prk")
    val w = Window.partitionBy(col("query_id")).orderBy(orderCols: _*)
    partial.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * other vectors. `queries` and `corpus` share (idCol, vecCol). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
    topKPerQuery(scored, k, col("sim").desc, col("neighbor_id"))
  }

  /** Sign-random-projection bucket key: `numPlanes` hyperplanes with
    * SHA-derived deterministic components; bit j = sign of dot with
    * plane j. Vectors in the same bucket are ANN candidates. Native
    * [[graft.functions.HyperplaneBucket]]: all plane dots in one
    * codegen'd primitive loop instead of `numPlanes` interpreted
    * higher-order-function trees per vector. */
  private def lshBucket(vec: Column, numPlanes: Int, dims: Int, table: Int = 0): Column =
    graft.functions.HyperplaneBucket(vec, numPlanes, dims, table)

  /** All tables' bucket keys for a vector as (table, bucket) structs —
    * the multi-table LSH layout: each table is an independent plane
    * family, and a pair is a candidate if it collides in ANY table. */
  private def lshBucketKeys(vec: Column, numPlanes: Int, dims: Int,
                            numTables: Int): Column =
    array((0 until numTables).map(t =>
      struct(lit(t).as("t"), lshBucket(vec, numPlanes, dims, t).as("b"))): _*)

  /** LSH-bucketed ANN top-k: bucket both sides, equi-join on the bucket
    * key, then rank within query. Trades recall for turning the O(Q*N)
    * cross join into a shuffle on bucket keys.
    *
    * `numTables` independent hash tables union their candidates (the
    * standard LSH recall lever: P[candidate] = 1-(1-p^planes)^tables).
    * Each side explodes to `numTables` rows; the join stays a pure
    * equi-join on (table, bucket) and candidates are deduped on
    * (query, neighbor) before ranking, so cost scales linearly in
    * tables, not quadratically. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int, dims: Int,
              numTables: Int = 1): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("tb", explode(lshBucketKeys(col("qv"), numPlanes, dims, numTables)))
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .withColumn("tb", explode(lshBucketKeys(col("cv"), numPlanes, dims, numTables)))
    // score each collision map-side, THEN dedup multi-table collisions on
    // (query, neighbor): a table-colliding pair recomputes its dot once
    // per collision, but the dedup shuffle carries only scalar sims — not
    // two vector payloads per row, which is what the wire cost is at
    // cluster scale. Identical values: the rounded sim is deterministic,
    // so first() over collisions equals the dedup-first formulation.
    val scored = q.join(c, Seq("tb")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
      .groupBy("query_id", "neighbor_id")
      .agg(first(col("sim")).as("sim"))
    topKPerQuery(scored, k, col("sim").desc, col("neighbor_id"))
  }

  /** Exact maximum-inner-product search (MIPS) top-k: recommendation /
    * retrieval scoring where vector magnitude matters (user·item,
    * query·document with learned norms), so cosine's normalization is
    * WRONG — the score is the raw dot product. Same blocked-join + rank
    * shape as [[bruteForceTopK]]; O(Q·N) exact baseline. The scale path
    * is [[augmentForMips]]: the Neyshabur–Srebro transform makes every
    * corpus norm equal, after which MIPS order IS cosine order and the
    * whole [[lshTopK]] hyperplane machinery applies unchanged
    * (spec-pinned rank equivalence in TextAnalysisSpec). */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")), 6).as("ip"))
    topKPerQuery(scored, k, col("ip").desc, col("neighbor_id"))
  }

  /** MIPS→cosine reduction (Neyshabur & Srebro 2015, "simple LSH"):
    * append one coordinate — corpus x → [x, √(M²−‖x‖²)] with M the max
    * corpus norm, query q → [q, 0]. Every augmented corpus vector has
    * norm exactly M, so cos(q̂, x̂) = q·x / (‖q‖·M) — a fixed positive
    * per-query scale of the inner product — and cosine ranking equals
    * MIPS ranking. Returns (augmented queries, augmented corpus) ready
    * for [[lshTopK]]/[[bruteForceTopK]]. M is the A13-style two-phase
    * scalar: one single-row aggregate, then a literal in the projection
    * (no join, no skew). */
  def augmentForMips(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String): (DataFrame, DataFrame) = {
    val maxNorm2 = corpus
      .agg(max(dot(col(vecCol), col(vecCol)))).head().getDouble(0)
    val aug = concat(col(vecCol).cast("array<double>"),
      array(sqrt(greatest(lit(maxNorm2) - dot(col(vecCol), col(vecCol)),
        lit(0.0)))))
    val qAug = concat(col(vecCol).cast("array<double>"), array(lit(0.0)))
    (queries.select(col(idCol), qAug.as(vecCol)),
      corpus.select(col(idCol), aug.as(vecCol)))
  }

  /** IVF-style ANN: a k-means coarse quantizer (MLlib, seeded) assigns
    * every corpus vector to a cell; each query probes its `nProbe`
    * nearest centroids and ranks only those cells' vectors. Candidate
    * generation is an equi-join on cell id — the classic inverted-file
    * layout, where `lists` becomes the shuffle key at scale.
    * Recall/cost is tuned by (numCells, nProbe).
    *
    * Quantizer defaults are random init + 8 iterations (changed in r3
    * from k-means|| / 20 iters — same recall floor, ~3x fewer scheduled
    * jobs; output CHANGES across this knob, which is why sim3 is gated by
    * the pinned recall floor, not a value oracle). `initMode`/`maxIter`
    * are exposed so a caller can reproduce either fit. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int, nProbe: Int,
              initMode: String = "random", maxIter: Int = 8): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.linalg.Vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    // coarse-quantizer fit: random init + few iterations is the standard
    // IVF practice — the quantizer only has to carve the space into
    // roughly-balanced cells, and each MLlib init/iter round is a
    // scheduled job (k-means|| alone is ~5 passes). Deterministic: seeded
    // init over a deterministic input.
    val km = new KMeans().setK(numCells).setSeed(42).setMaxIter(maxIter)
      .setInitMode(initMode).setTol(1e-4)
      .fit(corpusVec)
    val centers = km.clusterCenters
    val assigned = km.transform(corpusVec)
      .select(col("neighbor_id"), col("cv"), col("prediction").as("cell"),
        sqrt(dot(col("cv"), col("cv"))).as("cn"))
    // per-query nProbe nearest cells, computed from the (numCells x dim)
    // centroid table broadcast as a literal — O(numCells) per query row.
    val centersArr = centers.map(_.toArray)
    val probeUdfFree = {
      // distance to each centroid via expressions over a literal 2-D array
      val centLit = typedLit(centersArr.map(_.toSeq).toSeq)
      (q: org.apache.spark.sql.Column) =>
        sort_array(
          transform(centLit, (c, i) =>
            struct(
              graft.functions.VecSqDist(q, c).as("d"),
              i.as("cell"))),
          asc = true)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qn"),
      transform(slice(probeUdfFree(col(vecCol)), 1, nProbe),
        s => s.getField("cell")).as("cells"))
      .withColumn("cell", explode(col("cells")))
    val scored = q.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
      .distinct()
    topKPerQuery(scored, k, col("sim").desc, col("neighbor_id"))
  }

  /** Incremental IVF index maintenance — the daily-ingest path of the
    * ANN family ([[Dedup.incrementalDedup]]'s analog for the vector
    * index): the coarse quantizer is fit ONCE when the index is built
    * (ivfTopK's KMeans or any external quantizer), its centroid table
    * stored, and each new embedding batch is assigned to its nearest
    * cell WITHOUT refitting or touching the indexed corpus.
    *
    * The centroid table is bounded by design (numCells x dims), so it is
    * collected once and evaluated as a literal per-row argmin — the
    * same plan shape as ivfTopK's probe stage: pure per-row expressions,
    * NO join and NO shuffle of the batch at all (the plan a 100-TB
    * ingest wants; at 1000 executors the centroids ride along as a task
    * literal). Assignment is deterministic cross-engine: L2^2 distances
    * rounded to 6 before the argmin, ties to the smallest cell id —
    * the sim1 determinism pattern, SQL-twin-expressible.
    *
    * Returns `batch` + (`cell`, `cell_dist`). */
  /** Collected, cell-sorted centroid table — bounded (cells x dims) by
    * design, so a driver collect is the right plan at any corpus scale. */
  private def centroidRows(centroids: DataFrame, cellCol: String,
                           vecCol: String): Array[(Long, Seq[Double])] =
    centroids
      .select(col(cellCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** Per-centroid (round-6 L2^2 distance, cell) structs for one vector —
    * shared by [[ivfAssign]] (argmin) and [[ivfTopKWithCentroids]]
    * (nProbe-smallest): rounding BEFORE the comparison with ties to the
    * smallest cell makes both deterministic cross-engine. */
  private def centroidDistances(vec: Column,
                                cents: Array[(Long, Seq[Double])]): Column = {
    val centLit = typedLit(cents.map { case (cell, v) => (v, cell) })
    transform(centLit, c =>
      struct(
        round(graft.functions.VecSqDist(vec, c.getField("_1")), 6).as("d"),
        c.getField("_2").as("cell")))
  }

  def ivfAssign(batch: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cellCol: String,
                centroidVecCol: String): DataFrame = {
    val cents = centroidRows(centroids, cellCol, centroidVecCol)
    require(cents.nonEmpty, "ivfAssign: empty centroid table")
    val best = array_min(centroidDistances(col(vecCol), cents))
    batch
      .withColumn("cell", best.getField("cell"))
      .withColumn("cell_dist", best.getField("d"))
  }

  /** IVF ANN over a PRE-FITTED quantizer — the serving-time shape of
    * [[ivfTopK]], split from the fit: the stored centroid table (bounded:
    * cells x dims) is collected once and rides along as a task literal,
    * corpus vectors are assigned by [[ivfAssign]]'s zero-shuffle argmin,
    * each query probes its `nProbe` nearest cells, and candidates come
    * from a pure (cell) equi-join. No KMeans, no nondeterminism:
    * probe order and assignment use round-6 L2^2 with ties to the
    * smallest cell, sims are round-6 with ties to the smallest neighbor
    * — so the ENTIRE pipeline is exact-oracle-expressible (the sim1/sim5
    * determinism pattern), unlike [[ivfTopK]] whose fit is gated by a
    * recall floor. A corpus vector lives in exactly one cell and a query
    * probes distinct cells, so (query, neighbor) pairs are unique by
    * construction — no dedup shuffle needed. */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           centroids: DataFrame, cellCol: String,
                           centroidVecCol: String, nProbe: Int): DataFrame = {
    val cents = centroidRows(centroids, cellCol, centroidVecCol)
    require(cents.nonEmpty, "ivfTopKWithCentroids: empty centroid table")
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids, cellCol,
        centroidVecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cell"),
        sqrt(dot(col(vecCol), col(vecCol))).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(dot(col(vecCol), col(vecCol))).as("qn"),
        transform(
          slice(sort_array(centroidDistances(col(vecCol), cents), asc = true),
            1, nProbe),
          s => s.getField("cell")).as("cells"))
      .withColumn("cell", explode(col("cells")))
    val scored = q.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
    topKPerQuery(scored, k, col("sim").desc, col("neighbor_id"))
  }

  /** Recall summary of ANN results against the exact top-k baseline: per
    * query, |approx ∩ exact| / |exact|; queries the ANN missed entirely
    * count as recall 0. One row per method — (method, n_queries,
    * mean_recall) — so ANN quality regressions surface in the
    * correctness/bench artifacts, not only in specs. All joins are
    * equi-joins on (query_id, neighbor_id); the per-method frames are
    * per-query-small. */
  def recallSummary(exact: DataFrame,
                    approxes: Seq[(String, DataFrame)]): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    approxes.map { case (name, approx) =>
      val a = approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      e.join(a, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
          .as("q_recall"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("q_recall")), 6).as("mean_recall"))
        .select(lit(name).as("method"), col("n_queries"), col("mean_recall"))
    }.reduce(_ unionByName _)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * memory-scale path for ANN at corpus scale (int8 storage is 4x
    * smaller than float32, so 4x more vectors fit an executor's ANN
    * working set). Per vector: `scale = max|x| / 127` (1.0 for the
    * all-zero vector), `q_i = sign(x_i) * floor(|x_i| / scale + 0.5)` —
    * round-half-away-from-zero in exact floor arithmetic, so any engine
    * reproduces the integers bit-for-bit (no banker's-rounding
    * divergence). Returns (id, qvec int array, scale, recon_cos), where
    * recon_cos audits reconstruction quality as the cosine between the
    * original and the dequantized vector. Pure per-row expressions: no
    * shuffle, stays in whole-stage codegen. */
  def quantizeInt8(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val asDouble = vectors.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val withScale = asDouble
      .withColumn("max_abs",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("scale",
        when(col("max_abs") === 0.0, lit(1.0)).otherwise(col("max_abs") / 127.0))
    withScale
      .withColumn("qvec", transform(col("v"),
        x => (signum(x) * floor(abs(x) / col("scale") + 0.5)).cast("int")))
      .withColumn("recon_cos", {
        val deq = transform(col("qvec"), q => q.cast("double") * col("scale"))
        val denom = sqrt(dot(col("v"), col("v"))) * sqrt(dot(deq, deq))
        // null (not NaN) for the zero vector: Spark's 0.0/0.0 is NaN but
        // the SQL twin's division by zero is NULL — pin the NULL
        when(denom === 0.0, lit(null))
          .otherwise(round(dot(col("v"), deq) / denom, 6))
      })
      .select(col(idCol), col("qvec"), col("scale"), col("recon_cos"))
  }

  /** Near-duplicate pairs by embedding cosine within a blocking key. */
  /** SemDeDup-style semantic dedup (Abbas et al. 2023): embeddings are
    * assigned to quantizer cells ([[ivfAssign]]'s zero-shuffle literal
    * argmin), cosine near-dup pairs form ONLY within a cell
    * ([[cosineDupPairs]] blocked on the assignment — candidate volume is
    * governed by cell size, never the corpus), pairs collapse to
    * connected components, and one representative per component survives
    * (min id; singletons always survive). Returns the surviving
    * (id, cell, cell_dist) rows — the semantically-deduplicated corpus.
    *
    * Scale contract: cell population is bounded by sizing the quantizer
    * (cells grow with the corpus, the SemDeDup recipe), so the
    * within-cell pairwise stage stays bounded per task; with a FIXED
    * tiny quantizer (as in the oracle fixture) it degenerates to dd6's
    * quadratic-per-block audit shape — size the quantizer, not the
    * threshold. Every stage is deterministic (round-6 distances, ties to
    * the smallest cell/id), so the whole composition is exact-oracle-
    * expressible, like sim3_assign/sim5. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cellCol: String,
                    centroidVecCol: String, minSim: Double): DataFrame = {
    val assigned = ivfAssign(vectors, idCol, vecCol, centroids, cellCol,
      centroidVecCol)
    val pairs = cosineDupPairs(assigned, idCol, vecCol, "cell", minSim)
    val clusters = Dedup.dupClusters(pairs)
    Dedup.keepClusterRepresentatives(
      assigned.select(col(idCol), col("cell"), col("cell_dist")),
      idCol, clusters)
  }

  /** sim6 — product quantization over a stored codebook table: the
    * memory-scale path past int8 (sim4). The full-dim codebook (K rows)
    * is sliced into `numSubspaces` contiguous sub-codebooks; a vector
    * encodes to one small code per subspace — `numSubspaces` bytes of
    * index storage per vector when K <= 256, vs 4·D float32, so two
    * orders of magnitude more vectors fit an executor's ANN working set.
    *
    * Encode is the sim5 plan shape, per subspace: the bounded codebook
    * rides along as a task literal, each subspace's code is a round-6
    * L2^2 argmin over the slice (ties to the smallest code) — pure
    * per-row expressions, NO join, NO shuffle. Deterministic, so exact
    * DuckDB twins replay it. Returns the input's id + `code_0 ..
    * code_{M-1}` (long) + `recon_l2` = round-6 sum of the per-subspace
    * quantization errors (the PQ distortion audit).
    */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, codeCol: String, cbVecCol: String,
               numSubspaces: Int): DataFrame = {
    val cb = centroidRows(codebook, codeCol, cbVecCol)
    require(cb.nonEmpty, "pqEncode: empty codebook")
    require(cb.map(_._1).distinct.length == cb.length,
      "pqEncode: duplicate codebook codes (pqTopK's distance-table map " +
        "would fail at runtime; dedupe the codebook first)")
    val dims = cb.head._2.length
    require(cb.forall(_._2.length == dims), "pqEncode: ragged codebook vectors")
    require(dims % numSubspaces == 0,
      s"pqEncode: $dims dims not divisible into $numSubspaces subspaces")
    val ds = dims / numSubspaces
    val best = (0 until numSubspaces).map { m =>
      val sub = cb.map { case (code, v) => (code, v.slice(m * ds, (m + 1) * ds)) }
      array_min(centroidDistances(slice(col(vecCol), m * ds + 1, ds), sub))
    }
    val withBest = best.zipWithIndex.foldLeft(vectors) { case (df, (b, m)) =>
      df.withColumn(s"__pq_$m", b)
    }
    withBest.select(
      col(idCol) +:
        (0 until numSubspaces).map(m =>
          col(s"__pq_$m").getField("cell").as(s"code_$m")) :+
        round((0 until numSubspaces).map(m => col(s"__pq_$m").getField("d"))
          .reduce(_ + _), 6).as("recon_l2"): _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes a
    * per-subspace distance table to every code (a bounded literal, like
    * the encode), and a corpus item's approximate distance is the sum of
    * table lookups at its codes — the classic PQ scan (Jégou et al.
    * 2011): the corpus side touches only the M small codes per vector,
    * never the float embedding. This form is the exhaustive ADC scan
    * (queries bounded, like sim1's brute-force contract); at corpus
    * scale compose with [[ivfAssign]] cells so each query scans only its
    * probed cells' codes (IVFADC). All arithmetic is round-6 with
    * smallest-id ties — exact-oracle-expressible.
    */
  /** Query-count ceiling for [[pqTopK]]'s broadcast of per-query
    * distance-table maps: at production knobs (8 subspaces x 256 codes)
    * each row is ~33 KB of map payload, so 10k queries ~ 330 MB — near
    * the comfortable broadcast bound; above it the join falls back to a
    * materialized non-broadcast shape. */
  private val MaxBroadcastQueries = 10000

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, codebook: DataFrame, codeCol: String,
             cbVecCol: String, numSubspaces: Int): DataFrame = {
    val cb = centroidRows(codebook, codeCol, cbVecCol)
    require(cb.nonEmpty, "pqTopK: empty codebook")
    require(cb.map(_._1).distinct.length == cb.length,
      "pqTopK: duplicate codebook codes break the distance-table map")
    val dims = cb.head._2.length
    val ds = dims / numSubspaces
    // per-row encode is CPU-bound (subspaces x codes x dims argmin):
    // spread the corpus across all cores first — a handful of parquet
    // splits would serialize the scoring scan (cf. minhashSignature)
    val enc = pqEncode(
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism),
        idCol, vecCol, codebook, codeCol, cbVecCol, numSubspaces)
      .select(col(idCol).as("neighbor_id"),
        array((0 until numSubspaces).map(m => col(s"code_$m")): _*).as("codes"))
    val q = (0 until numSubspaces).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol))) { (df, m) =>
      val sub = cb.map { case (code, v) => (code, v.slice(m * ds, (m + 1) * ds)) }
      // distance table as a code->distance map literal lookup
      val dists = centroidDistances(slice(col(vecCol), m * ds + 1, ds), sub)
      df.withColumn(s"__dt_$m",
        map_from_arrays(
          transform(dists, s => s.getField("cell")),
          transform(dists, s => s.getField("d"))))
    }
    // Join direction matters twice here. (1) Stream the CORPUS side and
    // broadcast the bounded query side — the other way round the scan
    // parallelism is the query side's few post-filter rows, and the
    // whole Q x N scan runs in one task. (2) The broadcast exchange
    // MATERIALIZES the query rows, pinning the distance-table maps to
    // one evaluation per query; without that boundary CollapseProject
    // merges the map construction (subspaces x codes x dims expression
    // tree) into the post-join projection, re-evaluating it per PAIR —
    // the other half of the measured sim6 second-decade cliff.
    // Bounded-queries PRECONDITION, enforced rather than assumed: each
    // broadcast row carries numSubspaces x |codebook| map doubles
    // (~tens of KB at production knobs), so a corpus-sized query set
    // would hit the broadcast limit / driver OOM. The cheap guard count
    // runs on the RAW query frame (before the distance tables exist);
    // past the threshold the query side degrades to a materialized
    // non-broadcast join — slower, but it keeps the per-query map
    // evaluation pinned and degrades gracefully instead of OOMing.
    val nQ = queries.select(col(idCol))
      .limit(MaxBroadcastQueries + 1).count()
    val qSide = if (nQ > MaxBroadcastQueries) q.localCheckpoint(true)
                else broadcast(q)
    val scored = enc.join(qSide,
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round((0 until numSubspaces).map(m =>
            element_at(col(s"__dt_$m"), element_at(col("codes"), m + 1)))
          .reduce(_ + _), 6).as("adist"))
    topKPerQuery(scored, k, col("adist").asc, col("neighbor_id"))
  }

  /** IVFADC serving — the production ANN shape (Jégou et al. 2011,
    * FAISS's IndexIVFPQ): the coarse quantizer routes each query to its
    * `nProbe` nearest cells and ADC scores ONLY those cells' PQ codes.
    * Composes [[ivfAssign]]'s zero-shuffle cell argmin with [[pqTopK]]'s
    * distance-table scan, but the corpus side computes cell AND codes in
    * ONE per-row projection (no self-join) and candidates come from a
    * pure (cell) equi-join — at 100 TB the scan per query is
    * corpus/cells × nProbe code rows, never the full corpus, and the
    * corpus floats never cross the shuffle (codes only). Deterministic
    * end-to-end (round-6 distances, smallest-cell/-code/-neighbor ties),
    * so exact-oracle-expressible like sim5/sim6. */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int,
                 centroids: DataFrame, cellCol: String, centroidVecCol: String,
                 codebook: DataFrame, codeCol: String, cbVecCol: String,
                 numSubspaces: Int, nProbe: Int): DataFrame = {
    val cents = centroidRows(centroids, cellCol, centroidVecCol)
    require(cents.nonEmpty, "ivfAdcTopK: empty centroid table")
    val cb = centroidRows(codebook, codeCol, cbVecCol)
    require(cb.nonEmpty && cb.map(_._1).distinct.length == cb.length,
      "ivfAdcTopK: empty or duplicate-code codebook")
    val dims = cb.head._2.length
    require(dims % numSubspaces == 0,
      s"ivfAdcTopK: $dims dims not divisible into $numSubspaces subspaces")
    val ds = dims / numSubspaces
    def sub(m: Int) = cb.map { case (code, v) =>
      (code, v.slice(m * ds, (m + 1) * ds)) }
    // corpus: cell + M codes in one projection
    val bestCell = array_min(centroidDistances(col(vecCol), cents))
    val codes = array((0 until numSubspaces).map { m =>
      array_min(centroidDistances(slice(col(vecCol), m * ds + 1, ds), sub(m)))
        .getField("cell")
    }: _*)
    val enc = corpus.select(col(idCol).as("neighbor_id"),
      bestCell.getField("cell").as("cell"), codes.as("codes"))
    // queries: probed cells + per-subspace distance-table map literals
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol),
      transform(
        slice(sort_array(centroidDistances(col(vecCol), cents), asc = true),
          1, nProbe),
        s => s.getField("cell")).as("cells"))
    val q = (0 until numSubspaces).foldLeft(q0) { (df, m) =>
      val dists = centroidDistances(slice(col(vecCol), m * ds + 1, ds), sub(m))
      df.withColumn(s"__dt_$m", map_from_arrays(
        transform(dists, s => s.getField("cell")),
        transform(dists, s => s.getField("d"))))
    }.withColumn("cell", explode(col("cells")))
    // a corpus vector lives in exactly one cell and a query probes
    // distinct cells -> (query, neighbor) unique, no dedup shuffle
    val scored = q.join(enc, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round((0 until numSubspaces).map(m =>
            element_at(col(s"__dt_$m"), element_at(col("codes"), m + 1)))
          .reduce(_ + _), 6).as("adist"))
    topKPerQuery(scored, k, col("adist").asc, col("neighbor_id"))
  }

  /** sim7 — LSH-bucketed cosine RANGE search: every pair of corpus
    * vectors with similarity >= `minSim` among multi-table hyperplane-LSH
    * candidates. The symmetric self-join counterpart of [[lshTopK]]
    * (report ALL matches above a floor, not the k best per query) and
    * the embedding analog of the banded text near-dup path: candidates
    * come from equi-joins on (table, bucket) keys whose cardinality
    * grows with the corpus — never an all-pairs product — and
    * multi-table collisions dedup on the pair key carrying only scalar
    * sims across the shuffle. Approximate by the same contract as every
    * LSH op here (recall rises with `numTables`); the SHA-derived planes
    * make the bucket assignment exactly DuckDB-replayable, so the whole
    * operator is value-gated, not rows-only. */
  def lshCosineRange(vectors: DataFrame, idCol: String, vecCol: String,
                     minSim: Double, numPlanes: Int, dims: Int,
                     numTables: Int = 1): DataFrame = {
    val v = withNorm(vectors, idCol, vecCol, "vid", "vv", "vn")
      .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
      .withColumn("tb",
        explode(lshBucketKeys(col("vv"), numPlanes, dims, numTables)))
    val l = v.select(col("tb"), col("vid").as("id_a"), col("vv").as("va"),
      col("vn").as("na"))
    val r = v.select(col("tb"), col("vid").as("id_b"), col("vv").as("vb"),
      col("vn").as("nb"))
    l.join(r, Seq("tb")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= minSim)
      .groupBy("id_a", "id_b").agg(first(col("sim")).as("sim"))
  }

  def cosineDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, minSim: Double): DataFrame = {
    val v = vectors
      .select(col(blockCol).as("blk"), col(idCol).as("vid"), col(vecCol).as("vv"))
      .withColumn("vn", sqrt(dot(col("vv"), col("vv"))))
    // spread the probe side: pairwise dot products are CPU-bound
    val l = v.repartition(vectors.sparkSession.sparkContext.defaultParallelism)
      .select(col("blk"), col("vid").as("id_a"), col("vv").as("va"),
        col("vn").as("na"))
    val r = v.select(col("blk"), col("vid").as("id_b"), col("vv").as("vb"),
      col("vn").as("nb"))
    l.join(r, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }
}
