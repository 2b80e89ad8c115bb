package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.functions.Canon.round
import graft.functions.Hashing

/** Deduplication operators for training-data pipelines: exact hash dedup,
  * MinHash signatures + banded LSH candidate pairs, SimHash, and exact
  * n-gram Jaccard. Hashing is SHA-based (see [[graft.functions.Hashing]])
  * so every stage is reproducible in the DuckDB oracle.
  *
  * Scale design: everything is per-row expressions + one aggregation or
  * one equi-join on a band/bucket key. The only pairwise work (Jaccard,
  * LSH verification) happens AFTER blocking (band key or group key), never
  * as a global cross join.
  */
object Dedup {

  /** Word k-shingles of a document, lowercased. Documents shorter than k
    * tokens (and null documents) yield an empty shingle list. Native
    * one-pass build ([[graft.functions.ShingleStrings]]) — value-
    * identical (HashingSpec-pinned) to the composable
    * `transform(sequence(...), i => concat_ws(" ", element_at(tk, i+j)*))`
    * form, whose `ArrayTransform` lambda is `CodegenFallback` and ran
    * interpreted per shingle. Operators that only need the shingle
    * HASHES should use [[Hashing.hashedShingles]] instead and never
    * materialize the strings. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.ShingleStrings(text, k)

  /** DuckDB twin of [[shingles]]: 1-indexed lists; `range(a, b)` is [a, b)
    * and empty when a >= b, matching the short-document guard above.
    * Expects a CTE/subquery column `tk` holding the token list. */
  def shinglesOverTkSql(k: Int): String = {
    val parts = (0 until k).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"[$parts for i in range(1, len(tk) - ${k - 2})]"
  }

  /** Exact dedup: group identical texts by SHA-256, keep the minimum id as
    * the canonical representative, count the duplicates. */
  def exactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Bloom-accelerated exact-duplicate membership: which batch documents
    * already exist (by content SHA) in a stored corpus — the ingest-time
    * pre-filter of a continuously-growing training corpus.
    *
    * The corpus side is reduced ONCE to a bloom filter over
    * xxhash64(sha) — partition blooms merge by bitwise OR, so the filter
    * bytes are order-independent and the whole build is deterministic —
    * and the batch probes it as a broadcast'd literal via Spark's own
    * codegen'd `BloomFilterMightContain` (the runtime-filter expression):
    * rows the bloom rejects are DEFINITELY new and never reach the join;
    * bloom-passing rows (true dups + ~1% false positives) flow into an
    * exact sha semi-join that removes the false positives. The bloom is
    * invisible in the result — output is exactly the batch rows whose
    * sha exists in the corpus (the oracle replays it as a plain IN) —
    * but the join-side cardinality at scale is the bloom-passing subset,
    * not the batch.
    *
    * Driver-bounded by contract: at [[BloomFpp]] = 1% the filter costs
    * ~9.6 bits per distinct corpus sha (1.2 MB per million docs). At
    * corpus sizes where that outgrows the driver, the filter would be
    * sharded by sha prefix or the rate raised — the semi-join keeps the
    * OUTPUT exact under any rate, so it trades shuffle volume, never
    * correctness. */
  def bloomExactMembership(batch: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val corpusSha = corpus.select(sha2(col(textCol), 256).as("text_sha"))
      .distinct()
      // materialized once: referenced by the count, the bloom build, and
      // the exact semi-join
      .localCheckpoint(eager = true)
    val n = math.max(corpusSha.count(), 1L)
    val bloom = corpusSha.select(xxhash64(col("text_sha")).as("h"))
      .stat.bloomFilter("h", n, BloomFpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val shim = org.apache.spark.sql.GraftShim
    val probe = shim.column(new BloomFilterMightContain(
      shim.expression(lit(bytes)),
      shim.expression(xxhash64(col("text_sha")))))
    batch.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
      .filter(probe)
      .join(corpusSha, Seq("text_sha"), "left_semi")
      .select(col(idCol), col("text_sha"))
  }

  /** [[bloomExactMembership]]'s false-positive rate. */
  private val BloomFpp = 0.01

  /** MinHash signature: k universal hashes min-folded over the shingle
    * set. mh_i = min over shingles of (a_i * sha28(sh) + b_i) mod P. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, numHashes: Int): DataFrame = {
    // SHA-per-shingle is CPU-bound: spread rows across all cores first
    // (single-row-group files otherwise scan as ONE task and serialize
    // the whole hashing pass). The hashed-shingle array gets its OWN
    // projection, and all k minima come from ONE native pass over it
    // (MinHashOverHashed, value-identical to the k-fold
    // transform+array_min form — HashingSpec-pinned) instead of k
    // higher-order passes each materializing a transformed copy.
    // Referencing `mh_arr` from the k extracts keeps it evaluated once
    // (CollapseProject refuses to merge a non-cheap expression
    // referenced more than once, so the stepped plan survives
    // optimization).
    val sigCols = (0 until numHashes).map(i =>
      element_at(col("__mh_arr"), i + 1).as(s"mh$i"))
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        Hashing.hashedShingles(col(textCol), shingleK).as("hsh"))
      .select(col(idCol),
        graft.functions.MinHashOverHashed(col("hsh"), numHashes).as("__mh_arr"))
      .select(col(idCol) +: sigCols: _*)
  }

  /** Scale-safe block key for blocked pairwise ops: one MinHash band of
    * `numHashes` hash values, concatenated. Near-dups land in the same
    * block with the usual LSH probability, and block cardinality grows
    * with the corpus — pairs-per-block stays bounded, unlike a low-
    * cardinality attribute key (source, language, ...) whose blocks grow
    * O(n) and pair counts O(n²). Empty shingle sets hash to -1 so short
    * docs still get a (shared, tiny) block. */
  private[graft] def minhashBandKey(text: Column, shingleK: Int, numHashes: Int): Column =
    bandKeyOverHashed(
      Hashing.hashedShingles(text, shingleK), numHashes)

  /** The band key over an already-hashed shingle array — the shared core
    * of [[minhashBandKey]] and [[ngramJaccardPairsBanded]], kept in one
    * place so the formula can't drift from [[minhashBandKeySql]]. */
  private def bandKeyOverHashed(hashed: Column, numHashes: Int): Column = {
    val mins = graft.functions.MinHashOverHashed(hashed, numHashes)
    val parts = (0 until numHashes).map(i =>
      coalesce(element_at(mins, i + 1), lit(-1L)))
    // sha60 of the concatenated minima, NOT the string itself: the band
    // key is shuffle-JOIN currency (16 bands x corpus rows), and a
    // multi-hash concat string costs 60-80 bytes per row against the
    // hash's 8 — measured at 20M docs x 16 bands, the string form
    // out-spilled this sandbox's disk before the join finished. A
    // 60-bit key collides with ~m^2/2^61 probability (negligible at any
    // single-job band volume), a collision only ADDS a candidate that
    // the exact-Jaccard verify then drops, and both engines hash the
    // identical string so even the collisions replay.
    Hashing.sha60(concat_ws("_", parts: _*))
  }

  /** DuckDB twin of [[minhashBandKey]] (expects token-list column `tk`). */
  def minhashBandKeySql(shingleK: Int, numHashes: Int): String = {
    val parts = (0 until numHashes)
      .map(i => s"coalesce(${minhashSql(shingleK, i)}, -1)")
      .mkString(", ")
    Hashing.sha60Sql(s"concat_ws('_', $parts)")
  }

  /** DuckDB twin of one minhash column (expects token-list column `tk`). */
  def minhashSql(shingleK: Int, i: Int): String = {
    val (a, b) = Hashing.minhashSeeds(i + 1).last
    val sh = shinglesOverTkSql(shingleK)
    s"list_min(list_transform($sh, s -> (${Hashing.sha28Sql("s")} * $a + $b) % ${Hashing.P}))"
  }

  /** DuckDB subquery exposing (extraCols..., tk) over `documents`. */
  def tkSourceSql(textExpr: String, extraCols: String*): String =
    tkSourceSqlFrom("documents", textExpr, extraCols: _*)

  /** [[tkSourceSql]] over an arbitrary table/CTE name (the incremental
    * oracle tokenizes the existing/incoming splits separately). */
  def tkSourceSqlFrom(table: String, textExpr: String,
                      extraCols: String*): String = {
    val cols = (extraCols :+ s"string_split_regex(lower($textExpr), '\\s+') AS tk")
      .mkString(", ")
    s"(SELECT $cols FROM $table)"
  }

  /** Banded-LSH candidate pairs: split the signature into bands of
    * `rowsPerBand` hashes; docs sharing any band key are candidates.
    * One shuffle on the band key — no cross join. Returns distinct
    * (id_a < id_b) candidate pairs, materialized eagerly (localCheckpoint
    * severs the lineage, so downstream consumers never re-read the
    * signature); the signature checkpoint is then released, so repeated
    * invocations over different inputs accumulate no cached blocks. */
  def lshCandidatesEager(sig: DataFrame, idCol: String, numHashes: Int,
                         rowsPerBand: Int): DataFrame = {
    // checkpoint the signature BEFORE splitting into bands: column pruning
    // would otherwise push each band's projection into the signature
    // pipeline, recomputing shingle+SHA hashing once per band per join
    // side. localCheckpoint instead of persist: the cache's columnar
    // re-encode measured ~0.7 s on a 5k-row signature frame (the
    // block-store checkpoint keeps UnsafeRows as-is). Left alone, its
    // blocks would free only when the ContextCleaner sees the RDD handle
    // GC'd; once the result is materialized nothing reads them, so
    // unpersist them here.
    val cached = sig.localCheckpoint(eager = true)
    val pairs = bandSelfJoin(cached, idCol, bandKeyExprs(numHashes, rowsPerBand))
      .localCheckpoint(eager = true)
    cached.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
    pairs
  }

  /** One band-key expression per band over mh0..mh{numHashes-1} — sha60
    * of the band prefix + minima concat (see [[bandKeyOverHashed]] for
    * why the key ships as a hash, not the string). */
  private[graft] def bandKeyExprs(numHashes: Int, rowsPerBand: Int): Seq[Column] = {
    val numBands = numHashes / rowsPerBand
    (0 until numBands).map { b =>
      Hashing.sha60(concat_ws("_",
        lit(b) +: (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
    }
  }

  /** The banded self-join behind every LSH and Hamming blocking here:
    * each row of `rows` is copied once per band key in `bandKeys`
    * (expressions over `rows`), the copies equi-self-join on the key
    * plus `blockCols` with id_a < id_b, and each pair sharing any band
    * comes out once. Given `hammingWords` (the signature's words), the
    * pair also carries `hamming`: the summed popcount of the words' xor,
    * left unfiltered for the caller's radius. Signatures in different
    * blocks are never candidates (e.g. audio fingerprints only compare
    * at equal window counts); the block columns ride the join keys, not
    * a post-join filter. */
  private[graft] def bandSelfJoin(rows: DataFrame, idCol: String,
                                  bandKeys: Seq[Column],
                                  hammingWords: Seq[String] = Nil,
                                  blockCols: Seq[String] = Nil): DataFrame = {
    val banded = bandKeys.map(key => rows.select(
        col(idCol) +: (hammingWords ++ blockCols).map(col) :+ key.as("bk"): _*))
      .reduce(_ union _)
    val l = banded.as("l")
    val r = banded.as("r")
    val cond = ("bk" +: blockCols)
      .map(c => col(s"l.$c") === col(s"r.$c"))
      .reduce(_ && _) && col(s"l.$idCol") < col(s"r.$idCol")
    val hamming = hammingWords
      .map(w => bit_count(col(s"l.$w").bitwiseXOR(col(s"r.$w"))))
      .reduceOption(_ + _).map(_.cast("long").as("hamming"))
    l.join(r, cond)
      .select(Seq(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b")) ++
        hamming: _*)
      .distinct()
  }

  /** Exact n-gram Jaccard verification of candidate pairs (id_a, id_b):
    * joins each side back to its shingle set and keeps pairs with
    * jaccard >= `minJaccard`. This is the 100-TB near-dup path — pairwise
    * work only on LSH candidates, and both attach joins are plain
    * equi-joins on the id (shuffle-distributed, no broadcast of the
    * corpus). Returns (id_a, id_b, jaccard). */
  def verifyPairsJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, shingleK: Int,
                         minJaccard: Double): DataFrame =
    verifyPairsJaccardAcross(pairs, docs, docs, idCol, textCol, shingleK,
      minJaccard)

  /** [[verifyPairsJaccard]] with the pair's sides resolved from two
    * DIFFERENT frames (id_a from `leftDocs`, id_b from `rightDocs`) —
    * the incremental-ingest shape, where the left side is a new batch
    * and the right side the existing corpus. */
  private def verifyPairsJaccardAcross(pairs: DataFrame, leftDocs: DataFrame,
                               rightDocs: DataFrame, idCol: String,
                               textCol: String, shingleK: Int,
                               minJaccard: Double): DataFrame = {
    // SHA-per-shingle is CPU-bound and the input may be a single split:
    // spread rows first so set-building uses every core (cf.
    // minhashSignature), for BOTH attach sides.
    def sets(df: DataFrame) = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), hashedShingleSet(col(textCol), shingleK).as("sh"))
    val setsL = sets(leftDocs)
    val setsR = if (rightDocs eq leftDocs) setsL else sets(rightDocs)
    val withSets = pairs
      .join(setsL.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(setsR.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(sizeRatioPrune(size(col("sh_a")), size(col("sh_b")), minJaccard))
    val inter = graft.functions.SortedLongIntersectCount(col("sh_a"), col("sh_b"))
    jaccardTail(
      withSets.select(col("id_a"), col("id_b"), inter.as("i"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb")),
      minJaccard)
  }

  /** Shared: sorted distinct 64-bit shingle-hash set of a document. */
  private def hashedShingleSet(text: Column, shingleK: Int): Column =
    array_sort(array_distinct(Hashing.hashedShingles(text, shingleK)))

  /** Shared: size-ratio prune — jaccard <= min(|A|,|B|)/max(|A|,|B|), so
    * pairs under the threshold are rejected on two int compares before
    * the O(|A|+|B|) merge walk. (1e-9 slack keeps boundary pairs that
    * post-round canonicalization could still admit.) */
  private def sizeRatioPrune(nA: Column, nB: Column, minJaccard: Double): Column =
    least(nA, nB).cast("double") >= lit(minJaccard - 1e-9) * greatest(nA, nB)

  /** Shared tail over (id_a, id_b, i, na, nb): the no-op aggregation
    * boundary keeps the merge walk evaluated ONCE per pair (Catalyst
    * would otherwise duplicate the intersect into the filter), then
    * jaccard = i / (na + nb - i), rounded and thresholded. */
  private def jaccardTail(pairRows: DataFrame, minJaccard: Double): DataFrame =
    pairRows
      .groupBy("id_a", "id_b")
      .agg(first("i").as("i"), first("na").as("na"), first("nb").as("nb"))
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** Fused LSH-verified near-dup: MinHash signature -> banded candidate
    * pairs -> exact Jaccard verification, with ONE shingle+SHA pass for
    * the whole pipeline. The hashed shingle array is persisted and both
    * the signature (minhash folds) and the verification sets (sorted
    * distinct) derive from it — composing [[minhashSignature]] +
    * [[lshCandidatesEager]] + [[verifyPairsJaccard]] separately would hash
    * the corpus three times. Cache lifetime is deterministic: the result
    * is materialized (localCheckpoint) before the persist is released.
    *
    * 100-TB shape: every stage is an equi-join (band key, then id
    * attach); no broadcast of the corpus, pairwise work only on LSH
    * candidates. The persisted intermediate is (id, long array) — at
    * cluster scale StorageLevel MEMORY_AND_DISK spills it rather than
    * recomputing the hash pass. */
  def lshVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, numHashes: Int, rowsPerBand: Int,
                       minJaccard: Double): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val hashed = docs
      .repartition(par)
      .select(col(idCol),
        Hashing.hashedShingles(col(textCol), shingleK).as("hsh"))
      .persist()
    try {
      // all k minima from one native pass over the materialized hashes
      // (stepped projection so the pass is evaluated once per row)
      val sigCols = (0 until numHashes).map(i =>
        element_at(col("__mh_arr"), i + 1).as(s"mh$i"))
      val sig = hashed
        .select(col(idCol),
          graft.functions.MinHashOverHashed(col("hsh"), numHashes).as("__mh_arr"))
        .select(col(idCol) +: sigCols: _*)
      val cand = bandSelfJoin(sig, idCol, bandKeyExprs(numHashes, rowsPerBand))
      val sets = hashed.select(col(idCol),
        array_sort(array_distinct(col("hsh"))).as("sh"))
      val withSets = cand
        .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .filter(sizeRatioPrune(size(col("sh_a")), size(col("sh_b")), minJaccard))
      val inter = graft.functions.SortedLongIntersectCount(col("sh_a"), col("sh_b"))
      jaccardTail(
        withSets.select(col("id_a"), col("id_b"), inter.as("i"),
          size(col("sh_a")).as("na"), size(col("sh_b")).as("nb")),
        minJaccard).localCheckpoint(eager = true)
    } finally hashed.unpersist()
  }

  /** Exact n-gram Jaccard with MinHash-band blocking — the scale-safe
    * default for corpus-wide near-dup: block cardinality grows with the
    * corpus, so pairs-per-block stays bounded (vs an attribute block key
    * whose pair count grows O(n²/k)).
    *
    * Plan shape: the hashed shingle array (`hsh`) is computed ONCE per
    * row in its own projection; the band key and the sorted-distinct
    * verification set both derive from that column. Catalyst's
    * CollapseProject keeps expensive expressions unduplicated across
    * projections, so the per-row cost is a single shingle+SHA pass —
    * computing band key and set independently from the text would
    * triple it. */
  def ngramJaccardPairsBanded(docs: DataFrame, idCol: String, textCol: String,
                              shingleK: Int, bandHashes: Int,
                              minJaccard: Double): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // round-robin spread first: SHA-per-shingle is CPU-bound and the
    // source may scan as a single split (cf. minhashSignature).
    val hashed = docs
      .repartition(par)
      .select(col(idCol),
        Hashing.hashedShingles(col(textCol), shingleK).as("hsh"))
    val withSets = hashed.select(
        col(idCol),
        bandKeyOverHashed(col("hsh"), bandHashes).as("block"),
        array_sort(array_distinct(col("hsh"))).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val l = withSets.as("l")
    val r = withSets.as("r")
    val inter = graft.functions.SortedLongIntersectCount(col("l.sh"), col("r.sh"))
    val cond = col("l.block") === col("r.block") &&
      col(s"l.$idCol") < col(s"r.$idCol") &&
      sizeRatioPrune(col("l.nsh"), col("r.nsh"), minJaccard)
    jaccardTail(
      l.join(r, cond).select(
        col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        inter.as("i"), size(col("l.sh")).as("na"), size(col("r.sh")).as("nb")),
      minJaccard)
  }

  /** Duplicate clustering: connected components over an undirected
    * near-dup pair list (`id_a`, `id_b`; e.g. [[lshVerifiedPairs]] or
    * [[hammingBandJoinWords]] output), via
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    * is a groupBy + equi-join on node id — plain hash shuffles, no
    * driver-side graph state — and the round count is O(log n) on ANY
    * graph shape. That is the property that survives a 100-TB edge list:
    * naive min-label propagation needs diameter-many rounds (a duplicate
    * CHAIN a-b-c-…​ is the common near-dup topology and has linear
    * diameter), and a driver-side union-find doesn't distribute at all.
    *
    * Returns (id, cluster_id) for every node appearing in `pairs`,
    * where cluster_id is the component's minimum member id — the same
    * representative rule as [[exactDups]]. Unpaired documents are absent
    * (they are their own implicit singleton clusters).
    *
    * Adaptive strategy (the broadcast-join-threshold pattern): the
    * canonical edge list is materialized and counted once anyway; when it
    * fits comfortably on the driver (`localSolveMaxEdges`, default 1M
    * edges ≈ tens of MB) the components are solved with a single-pass
    * union-find instead of paying log-n rounds of shuffle stages — near-dup
    * graphs are SPARSE relative to the corpus, so even 100-TB corpora
    * often land under the threshold after verification. Above it, the
    * star contraction runs unchanged. Both paths produce the identical
    * min-label result (spec cross-checks them).
    *
    * The contraction stops after [[MaxClusterRounds]]; convergence is
    * typically < 10 rounds, and non-convergence within the cap throws
    * rather than returning a partially-contracted (wrong) labeling.
    *
    * @param localSolveMaxEdges edge-count threshold below which the
    *        component solve happens on the driver; 0 forces the
    *        distributed star contraction. */
  def dupClusters(pairs: DataFrame,
                  localSolveMaxEdges: Long = 1L << 20): DataFrame = {
    // canonical undirected edges (hi > lo) in the ids' NATIVE type — a
    // cast to long would silently null out string/UUID ids and return an
    // empty clustering; any orderable id type works for min-labeling.
    // Null ids are dropped explicitly. Lineage cut per round — the
    // iterated-plan pattern of Impute.iterativeRidgeImpute.
    var edges = pairs
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(eager = true)
    if (edges.count() <= localSolveMaxEdges) return localUnionFind(edges)
    var converged = false
    var round = 0
    while (!converged && round < MaxClusterRounds) {
      // large-star: for every node u, link each LARGER neighbor to the
      // minimum of u's closed neighborhood. Processed over the symmetric
      // adjacency; groupBy and join share the hash partitioning on u, so
      // Catalyst reuses one exchange.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // no distinct here: duplicate edges don't change small-star's min
      // aggregation, and its own distinct dedupes the round's output —
      // dropping the extra shuffle per round
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
      // small-star: for every node u, link each SMALLER neighbor (and u
      // itself) to the minimum of u's smaller neighborhood. On canonical
      // (hi, lo) edges the smaller neighborhood of hi is exactly its lo
      // set, so no symmetric expansion is needed.
      val minsS = large.groupBy("hi").agg(min("lo").as("m"))
      val small = large.join(minsS, "hi")
        .select(col("lo").as("v"), col("m"))
        .union(minsS.select(col("hi").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
        .localCheckpoint(eager = true)
      // fixpoint = edge set unchanged. Fast path: differing cardinality
      // (a near-free count on the checkpointed frames) proves non-
      // convergence without any shuffle; only equal counts pay the exact
      // check — ONE aggregation: both sides are distinct, so equal sets
      // make every (hi, lo) appear exactly twice in the union, and any
      // count != 2 is a difference. (At cluster scale the same check is
      // a changed-row accumulator inside the round's own shuffle.)
      converged = small.count() == edges.count() &&
        small.union(edges)
          .groupBy("hi", "lo").count()
          .filter(col("count") =!= 2).isEmpty
      edges = small
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within $MaxClusterRounds rounds")
    // at fixpoint the edge set is a disjoint union of stars rooted at
    // component minima: members label from their star edge, roots from
    // themselves.
    edges.select(col("hi").as("id"), col("lo").as("cluster_id"))
      .union(edges.select(col("lo").as("id"), col("lo").as("cluster_id")))
      .distinct()
  }

  /** [[dupClusters]]' round cap for the distributed star contraction. */
  private val MaxClusterRounds = 50

  /** Total order matching Spark's `least`/`min` (and DuckDB `min`) for the
    * id types that reach [[dupClusters]]: strings compare by UTF-8 bytes
    * (UTF8String / binary collation), everything else by its natural
    * Comparable order. */
  private def cmpId(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Driver-side solve for the small-graph branch of [[dupClusters]]:
    * union-find where the smaller root always absorbs the larger, so each
    * final root IS its component's minimum — no relabeling pass. Input is
    * the canonical (hi, lo) edge frame already bounded by the caller. */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("hi").dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.collect().foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) {
        if (cmpId(ra, rb) < 0) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = parent.keysIterator
      .map(id => Row(id, find(id))).toSeq.asJava
    val schema = StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType)))
    spark.createDataFrame(out, schema)
  }

  /** One-representative-per-cluster corpus filter: keeps the cluster
    * minimum of every duplicate cluster plus all unclustered documents.
    * Left-anti equi-join against the non-representative ids — the corpus
    * is never broadcast or collected. Composes [[lshVerifiedPairs]] →
    * [[dupClusters]] → this into the full 100-TB dedup path. */
  def keepClusterRepresentatives(docs: DataFrame, idCol: String,
                                 clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Incremental corpus dedup — the daily-ingest path: deduplicate an
    * `incoming` batch against an already-deduplicated `existing` corpus
    * WITHOUT re-processing the corpus. Three stages, each an equi-join
    * keyed on something precomputable for `existing`:
    *
    *  1. exact: drop incoming docs whose content SHA already exists
    *     (anti-join on the digest);
    *  2. near vs existing: minhash-band candidates between incoming and
    *     existing signatures, exact-Jaccard verified; matched incoming
    *     docs drop. At scale the existing side's signatures/bands are
    *     precomputed once and stored; verification re-hashes only the
    *     corpus docs that banded with the batch (candidate semi-join),
    *     never the whole corpus. (The incoming batch — small by
    *     definition — is shingled per stage rather than threading one
    *     hashed pass through all three.);
    *  3. within-batch: the usual [[lshVerifiedPairs]] + min-id keep over
    *     the (small) incoming remainder.
    *
    * Returns the surviving incoming rows (schema preserved).
    *
    * This convenience form recomputes the existing side's digests and
    * signatures per call; the daily-ingest path at scale stores them
    * alongside the corpus and passes them to the overload below, so each
    * batch reads two precomputed tables instead of re-hashing 100 TB. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String, shingleK: Int,
                       numHashes: Int, rowsPerBand: Int,
                       minJaccard: Double): DataFrame =
    incrementalDedup(existing, contentDigests(existing, textCol),
      minhashSignature(existing, idCol, textCol, shingleK, numHashes),
      incoming, idCol, textCol, shingleK, numHashes, rowsPerBand, minJaccard)

  /** Distinct content SHA-256 digests of a corpus — the stage-1 exact
    * index [[incrementalDedup]] anti-joins each batch against. Write this
    * (and [[minhashSignature]]'s output) once when the corpus snapshot is
    * built; both are per-row projections + one distinct/agg, and both are
    * incrementally maintainable (union the surviving batch's rows in). */
  def contentDigests(docs: DataFrame, textCol: String): DataFrame =
    docs.select(sha2(col(textCol), 256).as("content_sha")).distinct()

  /** [[incrementalDedup]] with the existing side's digest and signature
    * tables passed in precomputed — the at-scale daily-ingest shape. The
    * full `existing` frame is still required, but only candidate-pruned
    * rows of it are ever re-shingled (semi-join on banded ids);
    * `existingDigests` must have [[contentDigests]]' schema
    * (content_sha), `existingSignatures` [[minhashSignature]]'s (id +
    * mh0..mh{n-1}) at the same (shingleK, numHashes). */
  def incrementalDedup(existing: DataFrame, existingDigests: DataFrame,
                       existingSignatures: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String, shingleK: Int,
                       numHashes: Int, rowsPerBand: Int,
                       minJaccard: Double): DataFrame = {
    // 1. exact against the corpus digest index. The surviving batch is
    // consumed by every later stage (signature, verify sets, within-batch
    // dedup) — materialize it once (batch-sized by definition) so the
    // SHA + anti-join doesn't replay per consumer. The corpus side stays
    // lazy/pruned.
    val exactNew = incoming
      .withColumn("__inc_sha", sha2(col(textCol), 256))
      .join(existingDigests.select(col("content_sha").as("__inc_sha")),
        Seq("__inc_sha"), "left_anti")
      .drop("__inc_sha")
      .localCheckpoint(true)
    // 2. near-dup against the corpus: band-key candidates across the two
    // signature sets, then exact verification on the pair's texts
    val exSig = existingSignatures
    val inSig = minhashSignature(exactNew, idCol, textCol, shingleK, numHashes)
    def bands(sig: DataFrame, as: String) = sig.select(col(idCol).as(as),
      explode(array(bandKeyExprs(numHashes, rowsPerBand): _*)).as("band_key"))
    val cand = bands(inSig, "id_a")
      .join(bands(exSig, "id_b"), Seq("band_key"))
      .select("id_a", "id_b").distinct()
    // verification must NOT shingle-hash the whole corpus: prune the
    // existing side to the candidate ids first (batch-sized), so only
    // corpus docs that actually banded with the batch are re-hashed
    val candCorpus = existing.join(
      cand.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val verified = verifyPairsJaccardAcross(cand, exactNew, candCorpus, idCol,
      textCol, shingleK, minJaccard)
    // the remainder feeds both the within-batch LSH pass (signature +
    // verify sets) and the final representative filter — materialize once
    val nearNew = exactNew.join(
      verified.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .localCheckpoint(true)
    // 3. within-batch dedup of the remainder
    val batchClusters = dupClusters(
      lshVerifiedPairs(nearNew, idCol, textCol, shingleK, numHashes,
        rowsPerBand, minJaccard))
    keepClusterRepresentatives(nearNew, idCol, batchClusters)
  }

  /** Quality-aware representative selection: keep, per near-dup cluster,
    * the member maximizing `score` (ties: smallest id) — the retention
    * policy a real corpus pipeline wants, where
    * [[keepClusterRepresentatives]]' min-id keep is arbitrary with
    * respect to document quality. Unclustered documents (absent from
    * `clusters`) form singleton clusters and always survive.
    *
    * `docs` must already carry the columns `score` reads (e.g.
    * [[TextAnalysis.qualityColumns]]' quality_score). One left equi-join
    * to attach cluster ids plus one window keyed by cluster id; cluster
    * sizes are near-dup group sizes (tiny), so the window never skews. */
  def keepBestRepresentatives(docs: DataFrame, idCol: String,
                              clusters: DataFrame, score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unique temp names: docs may itself carry cluster_id/cid/rk columns
    // (e.g. the output of a prior clustering pass)
    val withCid = docs
      .join(clusters.select(col("id").as(idCol), col("cluster_id").as("__kbr_cid0")),
        Seq(idCol), "left")
      .withColumn("__kbr_cid", coalesce(col("__kbr_cid0"), col(idCol)))
    val w = Window.partitionBy(col("__kbr_cid")).orderBy(score.desc, col(idCol))
    withCid.withColumn("__kbr_rk", row_number().over(w))
      .filter(col("__kbr_rk") === 1)
      .drop("__kbr_rk", "__kbr_cid", "__kbr_cid0")
  }

  /** dd17 — per-group quota (the FineWeb/RefinedWeb source-capping
    * recipe): keep at most `n` rows per group, best-first by `order`
    * (with the id as the final tie-break, so the cut is total and both
    * engines agree). Corpus curation caps boilerplate-heavy domains so
    * no single source dominates the training mix.
    *
    * One `row_number` window per group, the same definition the dd17 and
    * dd29 oracles spell out. Output keeps all input columns plus
    * `grp_rank` (1..n within the group). */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  order: Seq[Column], n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"cap n must be >= 1, got $n")
    val w = Window.partitionBy(col(groupCol)).orderBy(order :+ col(idCol).asc: _*)
    df.withColumn("grp_rank", row_number().over(w).cast("long"))
      .filter(col("grp_rank") <= n)
  }

  /** SimHash over token 28-bit hashes with `bits` bits: per bit, sign of
    * the sum of (+1 / -1) contributions across tokens; NON-NEGATIVE sum
    * sets the bit (deterministic zero handling).
    *
    * NB: the token-SHA transform is inlined into each of the `bits`
    * bit-aggregates here — fine for a one-off projection, but anything
    * that evaluates the signature for real should hash once into a column
    * and use [[simhashOverHashed]] (see [[simhashPairs]]), or pay the
    * tokenize+SHA pass `bits` times per row. */
  def simhash(text: Column, bits: Int): Column =
    simhashOverHashed(hashedTokens(text), bits)

  /** Per-token 28-bit hashes of a lowercased whitespace tokenization —
    * the k=1 case of [[Hashing.hashedShingles]]'s fused kernel. The
    * explicit null guard preserves the composable form's null semantics
    * (`transform(split(null), ...)` is null, while the fused shingle
    * kernel maps null text to the empty list its `when` guard produces). */
  def hashedTokens(text: Column): Column =
    when(text.isNotNull, Hashing.hashedShingles(text, 1))

  /** [[simhash]] over an already-computed [[hashedTokens]] column — the
    * native one-pass form ([[graft.functions.SimHashOverHashed]]): all
    * `bits` bit-counts updated in a single primitive loop per row,
    * value-identical to the `bits` separate higher-order folds of the
    * composable form (HashingSpec-pinned; [[simhashSql]]'s DuckDB twin
    * still spells out the folds). */
  def simhashOverHashed(hashed: Column, bits: Int): Column =
    graft.functions.SimHashOverHashed(hashed, bits)

  /** DuckDB twin of [[simhash]]. */
  def simhashSql(textExpr: String, bits: Int): String = {
    val tk = s"string_split_regex(lower($textExpr), '\\s+')"
    val hashed = s"list_transform($tk, t -> ${Hashing.sha28Sql("t")})"
    val bitTerms = (0 until bits).map { j =>
      val contrib = s"list_sum(list_transform($hashed, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END))"
      s"(CASE WHEN $contrib >= 0 THEN ${1L << j} ELSE 0 END)"
    }
    bitTerms.mkString("(", " + ", ")")
  }

  /** SimHash near-dup pairs: block by contiguous bit-slices of the
    * signature (pigeonhole: if hamming(a,b) <= maxHamming and
    * bands > maxHamming, at least one slice is identical — every
    * qualifying pair is FOUND, the blocking loses nothing), then verify
    * the exact Hamming distance with bit_count(xor). One equi-join on the
    * slice key; candidate volume is governed by slice width, not corpus
    * size. The cheap complement to MinHash-Jaccard: one long per doc, no
    * shingle sets at pair time. The signature is one `bits`-wide word of
    * [[hammingBandJoinWords]].
    *
    * AUDIT FORM ONLY at scale: the pair set is quadratic in
    * duplicate-cluster size (SCALING.md measured 543k → 56.9M pairs on
    * 10× data in a near-dup-dense corpus). Pipelines must consume
    * [[simhashClusters]] — same blocking, cluster-shaped near-linear
    * output — and reserve the raw pairs for bounded forensic slices. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // persist the one-long-per-doc signature before banding: the band
    // union references it 4x and the self-join 8x — without the persist
    // each reference recomputes the per-token signature aggregation
    // (same rationale as lshCandidatesEager's checkpoint). Deterministic
    // lifetime: result materialized, then released.
    val sigs = docs.repartition(par)
      .select(col(idCol), hashedTokens(col(textCol)).as("htk"))
      .select(col(idCol), simhashOverHashed(col("htk"), bits).as("sig"))
      .persist()
    try hammingBandJoinWords(sigs, idCol, Seq("sig"), bits, bands, maxHamming)
      .localCheckpoint(eager = true)
    finally sigs.unpersist()
  }

  /** The scale-default consumption of SimHash near-dups: signatures →
    * [[hammingClusters]] on the distinct signatures → one best
    * representative per cluster. Never materializes the doc-level pair
    * set at all.
    *
    * The structural win over `dupClusters(simhashPairs(...))`: documents
    * with the SAME signature are near-dups by definition (hamming 0), so
    * component discovery only needs the graph over DISTINCT signatures —
    * at most min(|docs|, 2^bits) nodes, and far fewer than |docs| in
    * exactly the boilerplate-dense corpora where the doc-level pair set
    * explodes quadratically (an m-member same-sig cluster is m² doc
    * pairs but ONE sig node). Each signature node is named by its
    * smallest member id; labels only partition the documents, and the
    * doc↔sig contraction preserves components exactly, so the surviving
    * set is identical to the pair-based composition (the dd14 oracle's
    * recursive doc-level CTE pins this). Cost: one signature pass over
    * the corpus, the contraction on the signature graph, and one
    * signature-keyed attach of cluster labels back to docs. The raw
    * [[simhashPairs]] remains the audit form.
    *
    * `docs` must already carry the columns `score` reads (e.g.
    * [[TextAnalysis.qualityColumns]]' quality_score); ties break to the
    * smallest id, singletons always survive — identical retention policy
    * to [[keepBestRepresentatives]] (dd11). */
  def simhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int, bands: Int, maxHamming: Int,
                      score: Column): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // one signature pass over the corpus (the 100-TB side), kept for the
    // final label attach; same persist rationale as simhashPairs
    val docSigs = docs.repartition(par)
      .select(col(idCol), simhashOverHashed(hashedTokens(col(textCol)), bits)
        .as("__sc_sig"))
      .persist()
    try {
      val sigClusters = hammingClusters(docSigs, idCol, Seq("__sc_sig"), bits,
        bands, maxHamming)
      // materialize the (doc, label) map — 2 longs per doc — before the
      // unpersist below, or the lazy result plan would recompute the
      // whole signature pass at action time. A null signature joins no
      // node, so its document stays a singleton.
      val clusters = docSigs
        .join(sigClusters.select("__sc_sig", "cluster_id"), Seq("__sc_sig"))
        .select(col(idCol).as("id"), col("cluster_id"))
        .localCheckpoint(eager = true)
      keepBestRepresentatives(docs, idCol, clusters, score)
    } finally docSigs.unpersist()
  }

  /** Near-dup clusters over Hamming signatures, contracted to the
    * distinct signatures: one row per distinct `blockCols ++ wordCols`
    * value of `sigs`, carrying those columns plus `rid` (the smallest
    * member `idCol`), `n` (the member count) and `cluster_id` (the
    * smallest `rid` of the signature's connected component under
    * [[hammingBandJoinWords]] at `maxHamming`, or `rid` itself when the
    * signature has no neighbour). Callers attach it to their rows by the
    * signature columns, or roll the counts up by `cluster_id`.
    *
    * Equal signatures are near-dups by definition, so an m-member mass of
    * one signature is one node, never m² pairs. The distinct-signature
    * frame is materialized once: every band branch of the join and the
    * final label attach read it, and upstream it is usually a decode or
    * hashing pass. */
  def hammingClusters(sigs: DataFrame, idCol: String, wordCols: Seq[String],
                      wordBits: Int, bandsPerWord: Int, maxHamming: Int,
                      blockCols: Seq[String] = Nil): DataFrame = {
    val keyCols = (blockCols ++ wordCols).map(col)
    val nodes = sigs.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as("rid"), count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val clusters = dupClusters(hammingBandJoinWords(nodes, "rid", wordCols,
      wordBits, bandsPerWord, maxHamming, blockCols))
    nodes.join(clusters.withColumnRenamed("id", "rid"), Seq("rid"), "left")
      .select(keyCols ++ Seq(col("rid"), col("n"),
        coalesce(col("cluster_id"), col("rid")).as("cluster_id")): _*)
  }

  /** The Hamming-band join behind every Hamming near-dup here, over a
    * signature carried as N words of `wordBits` bits (`wordCols`,
    * LSB-first — word w holds bits [w·wordBits, (w+1)·wordBits)): each
    * word contributes `bandsPerWord` contiguous bands of
    * wordBits/bandsPerWord bits, band j keyed `j_<band value>`, and
    * `wordCols.size * bandsPerWord` bands in total. By pigeonhole two
    * signatures within `maxHamming` < total bands share an intact band,
    * so the candidate set is EXACT. One word of `bits` bits is SimHash's
    * bit-slice banding; a 64-bit hash split into two 32-bit words keeps
    * BIGINT-safe halves; more words buy a deeper exact radius and a
    * larger band-key space. The only join is an equi-join on the band
    * key plus `blockCols` (see [[bandSelfJoin]]); verify is a per-pair
    * popcount sum over the words, filtered to `maxHamming`. */
  private[graft] def hammingBandJoinWords(sigs: DataFrame, idCol: String,
                                          wordCols: Seq[String], wordBits: Int,
                                          bandsPerWord: Int, maxHamming: Int,
                                          blockCols: Seq[String] = Nil): DataFrame = {
    require(bandsPerWord >= 1 && wordBits % bandsPerWord == 0,
      s"hammingBandJoinWords: bandsPerWord ($bandsPerWord) must divide " +
        s"wordBits ($wordBits)")
    require(maxHamming < wordCols.size * bandsPerWord,
      s"hammingBandJoinWords: need maxHamming ($maxHamming) < total bands " +
        s"(${wordCols.size * bandsPerWord}) for the pigeonhole guarantee")
    val bandBits = wordBits / bandsPerWord
    val mask = (1L << bandBits) - 1
    val keys = (0 until wordCols.size * bandsPerWord).map { j =>
      val word = col(wordCols(j / bandsPerWord))
      val off = (j % bandsPerWord) * bandBits
      concat_ws("_", lit(j), shiftright(word, off).bitwiseAND(mask))
    }
    bandSelfJoin(sigs, idCol, keys, wordCols, blockCols)
      .filter(col("hamming") <= maxHamming)
  }

  /** CTE chain of [[simhashPairs]]'s banded blocking + verify, ending in
    * `vpairs(id_a, id_b)` — composable with the recursive component CTEs
    * the dd8/dd9/dd11 oracles share. */
  def simhashPairsCtes(bits: Int, bands: Int, maxHamming: Int): String = {
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val bandSelects = (0 until bands).map { j =>
      s"SELECT doc_id, sig, '${j}_' || ((sig >> ${j * bandBits}) & $mask) AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""sig AS (
      |  SELECT doc_id, CAST(${simhashSql("text", bits)} AS BIGINT) AS sig
      |  FROM documents),
      |banded AS (
      |  $bandSelects),
      |vpairs AS (
      |  SELECT id_a, id_b, hamming FROM (
      |    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
      |      CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
      |    FROM banded l JOIN banded r ON l.bk = r.bk AND l.doc_id < r.doc_id)
      |  WHERE hamming <= $maxHamming)""".stripMargin
  }

  /** DuckDB twin of [[simhashPairs]]'s banded blocking + verify. */
  def simhashPairsSql(bits: Int, bands: Int, maxHamming: Int): String =
    s"""WITH ${simhashPairsCtes(bits, bands, maxHamming)}
      |SELECT id_a, id_b, hamming FROM vpairs""".stripMargin

  /** Eval-set contamination scan — the decontamination gate of a training
    * pipeline: for each corpus document, how many of its distinct word
    * k-shingles appear in the benchmark (eval) document set. The benchmark
    * shingle set is bounded by the eval suite's size, not the corpus, so
    * it attaches with an explicit broadcast semi-join onto the corpus's
    * exploded shingles; the per-doc rollup is one aggregation on the doc
    * id. Returns (id, n_shingles, n_overlap, contamination) with
    * contamination = n_overlap / n_shingles (0 for shingle-less docs). */
  def contaminationScan(corpus: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchTextCol: String,
                        shingleK: Int): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val benchShingles = bench
      .repartition(par)
      .select(explode(shingles(col(benchTextCol), shingleK)).as("s"))
      .distinct()
    // ONE shingle build over the corpus (the 100-TB side): explode_outer
    // keeps shingle-less docs as a null row, the broadcast LEFT join
    // marks bench hits (bench shingles are distinct, so no row
    // multiplication), and a single aggregation counts both the doc's
    // shingles (non-null s) and its overlaps (matched hits).
    val exploded = corpus
      .repartition(par)
      .select(col(idCol), explode_outer(
        array_distinct(shingles(col(textCol), shingleK))).as("s"))
    exploded
      .join(broadcast(benchShingles.withColumn("__hit", lit(1))), Seq("s"), "left")
      .groupBy(idCol)
      .agg(count(col("s")).as("n_shingles"), count(col("__hit")).as("n_overlap"))
      .select(col(idCol), col("n_shingles"), col("n_overlap"),
        when(col("n_shingles") > 0,
          round(col("n_overlap").cast("double") / col("n_shingles"), 6))
          .otherwise(0.0).as("contamination"))
  }

  /** dd18 — measured quality of the MinHash-band blocking against exact
    * ground truth: candidate-pair count, true near-dup-pair count, found
    * (banded-and-verified) count, blocking precision and recall, in one
    * summary row. The approximate-dedup analog of the sim_recall
    * artifact: the knob (bandHashes) trades shuffle volume against
    * recall, and this query keeps that trade measurable in CORRECTNESS /
    * BENCH artifacts instead of only in specs.
    *
    * Ground truth is ALL-PAIRS exact Jaccard, so the caller must pass a
    * bounded (deterministically sampled) doc frame — same eval-query
    * contract as sim1's documented O(Q·N). The all-pairs stage reuses
    * [[ngramJaccardPairs]] under a single constant block; its salted join
    * spreads the quadratic verify over every core instead of one hot
    * partition.
    *
    * found ⊆ truth by construction (banding only removes pairs), so
    * `cand_precision` = how much of the candidate volume survives exact
    * verification, and `recall` = the fraction of true pairs the banding
    * keeps. */
  def bandedJaccardQuality(docs: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, bandHashes: Int,
                           minJaccard: Double): DataFrame = {
    val keyed = docs.select(col(idCol), col(textCol))
    val nDocs = keyed.agg(count(lit(1)).as("n_docs"))
    // Shingle-less docs all share the sentinel block (coalesce of null
    // minhashes — the sha60 of the "-1_…" concat, matching the hashed
    // band key); counting them as mutual candidates would inflate n_cand
    // quadratically on short-doc-heavy corpora with pairs that can never
    // verify (empty ∩ empty has no jaccard) — drop the sentinel block
    // before pairing.
    val sentinelBlock =
      Hashing.sha60(lit(Seq.fill(bandHashes)("-1").mkString("_")))
    val bandKeyed = keyed.select(col(idCol),
        minhashBandKey(col(textCol), shingleK, bandHashes).as("block"))
      .filter(col("block") =!= sentinelBlock)
    val l = bandKeyed.as("l")
    val r = bandKeyed.as("r")
    val cand = l.join(r,
        col("l.block") === col("r.block") && col(s"l.$idCol") < col(s"r.$idCol"))
      .agg(count(lit(1)).as("n_cand"))
    val truth = ngramJaccardPairs(keyed.withColumn("__all", lit(0)),
        idCol, textCol, "__all", shingleK, minJaccard)
      .agg(count(lit(1)).as("n_true"))
    val found = ngramJaccardPairsBanded(keyed, idCol, textCol, shingleK,
        bandHashes, minJaccard)
      .agg(count(lit(1)).as("n_found"))
    nDocs.crossJoin(broadcast(cand)).crossJoin(broadcast(truth))
      .crossJoin(broadcast(found))
      .select(col("n_docs"), col("n_cand"), col("n_true"), col("n_found"),
        round(when(col("n_cand") > 0,
          col("n_found").cast("double") / col("n_cand")), 6).as("cand_precision"),
        round(when(col("n_true") > 0,
          col("n_found").cast("double") / col("n_true")), 6).as("recall"))
  }

  /** Salt factor of the pair verifies' [[Skew.saltedJoin]]: their one
    * constant block would otherwise put every pair in one task. */
  private val PairSalt = 32

  /** Exact n-gram Jaccard similarity for pairs blocked by `blockCol`
    * (pairs are only formed within a block). The blocked equi-join is
    * salted by `PairSalt` through [[Skew.saltedJoin]]: the probe side
    * takes `hash(id) % PairSalt` and the build side is replicated to
    * every salt, so a few large blocks still spread over every core, at
    * a bounded (x PairSalt) shuffle cost. Nothing is broadcast unless
    * AQE measures a side small. */
  private[graft] def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleK: Int,
                        minJaccard: Double): DataFrame = {
    // intersect 64-bit shingle hashes, not strings: ~8x less shuffle bytes
    // and integer equality in the pairwise intersect hot loop. The SHA hash
    // is shared with the oracle, so the (collision-negligible) semantics
    // are identical in both engines. Arrays are sorted once per doc so the
    // per-pair intersection is an allocation-free codegen'd merge walk.
    val withSets = docs.select(
        col(blockCol), col(idCol),
        hashedShingleSet(col(textCol), shingleK).as("sh"))
      .withColumn("nsh", size(col("sh")))
    // Round-robin spread of both sides: the pairwise intersect loop is the
    // hot path and must use every core regardless of how few splits the
    // input scan produced, and a side AQE turns into a broadcast executes
    // its child plan as-is — a single-split scan would otherwise compute
    // every shingle hash in one task before broadcasting.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // |A∪B| = |A| + |B| - |A∩B|: sizes only, no union array materialized.
    // The intersect count is projected BELOW a (no-op) aggregation on the
    // pair key: without that boundary Catalyst pushes the jaccard filter
    // into the join condition and re-evaluates the intersect expression
    // several times per pair (condition + projection, no cross-operator
    // CSE). With it, the merge walk runs exactly once per pair and only
    // (id, id, 3 ints) rows cross the exchange.
    val inter = graft.functions.SortedLongIntersectCount(col("l.sh"), col("r.sh"))
    val blockCond = col(s"l.$blockCol") === col(s"r.$blockCol") &&
      col(s"l.$idCol") < col(s"r.$idCol") &&
      sizeRatioPrune(col("l.nsh"), col("r.nsh"), minJaccard)
    val joined = Skew.saltedJoin(withSets.repartition(par),
      withSets.repartition(par), blockCond, hash(col(idCol)), PairSalt)
    jaccardTail(
      joined.select(
        col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        inter.as("i"), size(col("l.sh")).as("na"), size(col("r.sh")).as("nb")),
      minJaccard)
  }

  /** t20 — asymmetric n-gram CONTAINMENT for pairs blocked by
    * `blockCol`: C(A⊂B) = |A∩B| / |A| over distinct shingle sets —
    * near 1 when A is quoted/embedded inside B even when their Jaccard
    * is tiny, the doc-in-doc signal symmetric near-dup misses (the
    * quote/subset-detection filter of a training-data pipeline). Same
    * one-hash-pass, `PairSalt`-way [[Skew.saltedJoin]] salting and no-op
    * aggregation boundary as [[ngramJaccardPairs]]; emits BOTH directions
    * per unordered pair and keeps pairs where either direction clears
    * `minContainment`.
    *
    * Two deliberate differences from the Jaccard path: (1) NO size-ratio
    * prune — containment is maximized by small-vs-large pairs, exactly
    * what that prune discards; (2) shingle-less docs are dropped (their
    * containment is 0/0). Blocking caveat, documented not hidden:
    * MinHash-banded block keys approximate JACCARD, so they under-recall
    * tiny-in-huge containment — run this under a bounded sample or an
    * inverted-index blocking for subset mining (as the t20 query's
    * absolute SHA-rank sample does). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, shingleK: Int,
                       minContainment: Double): DataFrame = {
    val withSets = docs.select(
        col(blockCol), col(idCol),
        hashedShingleSet(col(textCol), shingleK).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .filter(col("nsh") > 0)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val inter = graft.functions.SortedLongIntersectCount(col("l.sh"), col("r.sh"))
    val blockCond = col(s"l.$blockCol") === col(s"r.$blockCol") &&
      col(s"l.$idCol") < col(s"r.$idCol")
    val joined = Skew.saltedJoin(withSets.repartition(par),
      withSets.repartition(par), blockCond, hash(col(idCol)), PairSalt)
    joined.select(
        col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        inter.as("i"), col("l.nsh").as("na"), col("r.nsh").as("nb"))
      .groupBy("id_a", "id_b")
      .agg(first("i").as("i"), first("na").as("na"), first("nb").as("nb"))
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / col("na"), 6).as("cont_a_in_b"),
        round(col("i").cast("double") / col("nb"), 6).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minContainment)
  }

  /** PageRank-style centrality over a candidate-pair graph — the
    * corpus-curation signal web-scale pipelines compute over their link
    * or similarity graphs (CommonCrawl ranks seed hosts by centrality;
    * here the graph is the banded-LSH near-dup candidate graph, so a
    * high rank marks template/boilerplate hubs worth down-weighting).
    * Pairs arrive deduped (idA < idB) and are symmetrized; nodes are the
    * documents that appear in at least one pair (isolated documents have
    * no centrality in this graph, by definition). `iters` fixed-point
    * rounds of r' = (1−d)/N + d·Σ_in r/deg — deterministic, so the
    * oracle replays the same unrolled arithmetic.
    *
    * Scale shape: the classic Pregel-lite loop — the edge list is
    * materialized ONCE (localCheckpoint; at cluster scale a persisted
    * shuffle-partitioned table) and every round is one equi-join of
    * edges against the (id, deg, r) state plus one aggregation on the
    * destination key; state is re-checkpointed every 3 rounds so plan
    * lineage stays bounded. No collect, no driver-side graph. */
  def pagerankOverPairs(pairs: DataFrame, idA: String, idB: String,
                        damping: Double, iters: Int): DataFrame = {
    // LAZY checkpoint (eager = false): the plan is cut immediately (the
    // rounds below never re-derive `pairs`), but materialization folds
    // into the next action (the deg count) instead of being its own
    // sequential job — every localCheckpoint in this loop is lazy for
    // the same reason, so the whole fixed-point chain executes as ONE
    // action's DAG at the sink rather than ~25 construct-time jobs of
    // 20-50 ms each (the measured per-job scheduling floor dominated
    // this operator at bench scale; values are identical — lazy vs
    // eager changes WHEN blocks materialize, never what they hold).
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint(eager = false)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val n = deg.count()
    if (n == 0) {
      return pairs.sparkSession.createDataFrame(
        new java.util.ArrayList[Row](),
        StructType(Seq(
          StructField("doc_id", pairs.schema(idA).dataType),
          StructField("deg", org.apache.spark.sql.types.LongType),
          StructField("centrality", org.apache.spark.sql.types.DoubleType))))
    }
    val base = lit((1.0 - damping) / n)
    var state = deg.withColumn("r", lit(1.0 / n))
    for (i <- 0 until iters) {
      val contrib = edges
        .join(state.select(col("id").as("src"), (col("r") / col("deg")).as("c")),
          "src")
        .groupBy(col("dst").as("id")).agg(sum("c").as("in_r"))
      state = deg.join(contrib, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (base + lit(damping) * coalesce(col("in_r"), lit(0.0))).as("r"))
      if (i % 3 == 2) state = state.localCheckpoint(eager = false)
    }
    state.select(col("id").as("doc_id"), col("deg"),
      round(col("r"), 6).as("centrality"))
  }

  /** Corpus-level exact-substring dedup at chunk granularity — the
    * shuffle-friendly approximation of suffix-array substring dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"; the true ExactSubstr needs a corpus-wide suffix
    * array, which has no bounded-memory shuffle formulation). Reference
    * analog: the reference dedups whole rows on a key
    * (`src/etl/stage_unify_daily.py` drop_duplicates); this is the
    * within-document generalization a training corpus needs.
    *
    * The document is cut into non-overlapping `chunkTokens`-token
    * windows ([[TextAnalysis.chunkDocuments]]); a chunk occurrence
    * survives iff it is the globally FIRST occurrence of its content
    * (min (doc_id, chunk_id) over the chunk's SHA) — every later copy
    * of a ≥`chunkTokens`-token repeated span is dropped, exactly the
    * C4/RefinedWeb policy of keeping one canonical copy rather than
    * deleting all. Emits one row per document: chunk counts, surviving
    * token count, and the reassembled deduped text (kept chunks joined
    * in position order).
    *
    * Scale shape: one per-row generate (chunking), one aggregation on
    * chunk_sha (the global-min occurrence — map-side combinable min of
    * a (doc_id, chunk_id) struct), one equi-join back on chunk_sha, one
    * aggregation on doc_id. No pairwise stage at all — cost is linear
    * in corpus tokens, and the chunk_sha key's cardinality grows with
    * the corpus so the shuffle stays spread. At 100 TB both
    * aggregations are plain hash shuffles on high-cardinality keys. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    val chunks = TextAnalysis.chunkDocuments(docs, idCol, textCol,
      chunkTokens, overlapTokens = 0, keepText = true)
    // Global first occurrence per content hash. min over a struct is
    // lexicographic on (doc_id, chunk_id) — one map-side-combinable agg.
    val firstOcc = chunks.groupBy("chunk_sha").agg(
      min(struct(col(idCol), col("chunk_id"))).as("first_occ"),
      count(lit(1)).as("n_occ"))
    val kept = chunks.join(firstOcc, "chunk_sha")
      .withColumn("is_first",
        col("n_occ") === 1 ||
          (col(s"first_occ.$idCol") === col(idCol) &&
            col("first_occ.chunk_id") === col("chunk_id")))
    val perDoc = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("is_first"), col("n_chunk_tokens")).otherwise(0L))
        .as("tokens_kept"),
      // position-ordered reassembly of surviving chunks; array_sort on
      // (chunk_id, text) structs keeps this a pure aggregation (no
      // window / secondary sort needed)
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("is_first"),
          struct(col("chunk_id"), col("chunk_text"))))),
        s => s.getField("chunk_text"))).as("dedup_text"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** DuckDB twin of [[chunkDedup]] over `documents`. */
  def chunkDedupSql(idCol: String, textExpr: String, chunkTokens: Int,
                    from: String = "documents"): String = {
    val chunksSql = TextAnalysis.chunkDocumentsSql(idCol, textExpr,
      chunkTokens, overlapTokens = 0, from = from, keepText = true)
    s"""WITH chunks AS ($chunksSql),
       |kept AS (
       |  SELECT *, row_number() OVER (PARTITION BY chunk_sha
       |    ORDER BY $idCol, chunk_id) = 1 AS is_first
       |  FROM chunks),
       |per_doc AS (
       |  SELECT $idCol,
       |    count(*) AS n_chunks,
       |    sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS n_kept,
       |    sum(CASE WHEN is_first THEN n_chunk_tokens ELSE 0 END)
       |      AS tokens_kept,
       |    coalesce(array_to_string(
       |      list(chunk_text ORDER BY chunk_id) FILTER (WHERE is_first),
       |      ' '), '') AS dedup_text
       |  FROM kept GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       |  CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(p.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       |  coalesce(p.dedup_text, '') AS dedup_text
       |FROM $from d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }

  /** Maximal duplicated-span detection — the stride-1 sliding-window form
    * of exact-substring dedup (the suffix-array / ExactSubstr lineage of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022). Where [[chunkDedup]] blocks text into
    * NON-overlapping chunks (so a duplicated passage that straddles a
    * chunk boundary is invisible), this operator hashes EVERY
    * `windowTokens`-token window (stride 1), marks the windows whose
    * content occurs more than once in the corpus, and merges the
    * overlapping/adjacent duplicated windows of each document into
    * maximal token spans — exactly the regions the published method cuts.
    * A production window of 50-100 tokens is the same plan; the small
    * window here keeps the oracle fixture's both paths loaded.
    *
    * Scale design: one scan builds the hashed windows (the fused
    * shingle+SHA kernel — stride-1 windows ARE word k-shingles, so the
    * per-row cost is one tokenize + one rolling SHA pass, no shingle
    * strings materialized); one map-side-combinable aggregation finds
    * duplicated window hashes; one semi-join on the hash keeps duplicated
    * positions (at 100 TB the n_occ > 1 side is a small fraction of
    * distinct windows — boilerplate, licenses, templates); the span merge
    * is two window functions inside ONE hash-partitioning by document
    * (running-max island detection — the `pos > run_end` strict
    * comparison merges touching spans, since windows at `p` and `p + W`
    * cover contiguous tokens), and the window/group chain after the
    * semi-join re-uses the doc partitioning (no extra shuffle: group keys
    * (doc, island) and doc are both clustered by doc). The windows frame
    * is intentionally NOT cached between the occurrence agg and the
    * semi-join probe: post-fusion the rebuild is one primitive pass,
    * cheaper at scale than materializing n_tokens rows per document.
    *
    * Output per document (every input doc kept): total tokens/windows,
    * duplicated-window count, maximal-span count, tokens covered by
    * duplicated spans and their fraction of the document. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = windowTokens
    val wins = docs.select(col(idCol),
      posexplode(Hashing.hashedShingles60(col(textCol), w)).as(Seq("pos", "wh")))
    val dupHashes = wins.groupBy("wh").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select("wh")
    val dupPos = wins.join(dupHashes, Seq("wh"), "left_semi")
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val marked = dupPos
      .withColumn("endp", col("pos") + lit(w))
      .withColumn("run_end", max("endp").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_start",
        col("run_end").isNull || col("pos") > col("run_end"))
    val spans = marked
      .withColumn("island",
        sum(when(col("is_start"), 1L).otherwise(0L)).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min("pos").as("s"), max("endp").as("e"), count(lit(1)).as("nw"))
    val perDoc = spans.groupBy(idCol).agg(
      count(lit(1)).as("n_spans"),
      sum((col("e") - col("s")).cast("long")).as("dup_tokens"),
      sum("nw").as("n_dup_windows"))
    docs.select(col(idCol),
        size(graft.functions.WsTokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        greatest(col("n_tokens") - (w - 1), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }

  /** DuckDB twin of [[duplicatedSpans]] over `documents`: same tokenizer,
    * same 15-hex-char SHA window hash, same running-max island merge. */
  def duplicatedSpansSql(idCol: String, textExpr: String, windowTokens: Int,
                         from: String = "documents"): String = {
    val w = windowTokens
    val shingle = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH tks AS (SELECT $idCol,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $from),
       |wins AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS pos,
       |    ${Hashing.sha60Sql(shingle)} AS wh
       |  FROM tks, unnest(range(1, len(tk) - $w + 2)) AS t(i)),
       |occ AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) > 1),
       |dup AS (SELECT w.$idCol, w.pos FROM wins w JOIN occ USING (wh)),
       |marked AS (
       |  SELECT $idCol, pos, pos + $w AS endp,
       |    max(pos + $w) OVER (PARTITION BY $idCol ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
       |  FROM dup),
       |isl AS (
       |  SELECT $idCol, pos, endp,
       |    sum(CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY $idCol ORDER BY pos) AS island
       |  FROM marked),
       |spans AS (
       |  SELECT $idCol, island, min(pos) AS s, max(endp) AS e,
       |    count(*) AS nw
       |  FROM isl GROUP BY $idCol, island),
       |per_doc AS (
       |  SELECT $idCol, count(*) AS n_spans, sum(e - s) AS dup_tokens,
       |    sum(nw) AS n_dup_windows
       |  FROM spans GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(greatest(len(tk) - ${w - 1}, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) /
       |    greatest(len(tk), 1), 6) AS dup_frac
       |FROM tks d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }

  /** The CUT form of [[duplicatedSpans]] — ExactSubstr dedup proper
    * (Lee et al., ACL 2022): every duplicated window keeps exactly its
    * globally-first occurrence (lexicographic min (doc, pos), the dd19
    * convention at window granularity); every LATER occurrence's token
    * range is cut from its document and the surviving tokens are
    * reassembled in position order. Where [[chunkDedup]] can only cut on
    * the chunk grid, this cuts the exact duplicated token range at any
    * offset.
    *
    * Overlap caveat (inherent to span cutting, documented not hidden):
    * when a first-occurrence window overlaps a later-occurrence window
    * inside the same document, the cut range of the later window can eat
    * into the first occurrence's tokens — the published method has the
    * same property (it cuts the duplicated span wherever it recurs; the
    * survivor is whatever text the cuts leave). The output is
    * deterministic in both engines, which is what the oracle gates.
    *
    * Scale design: the occurrence agg carries min(struct(doc, pos))
    * next to the count (one map-side-combinable pass, same as dd19's
    * first-occurrence agg); non-first duplicated windows explode into
    * their <= W covered token positions (bounded by dup volume, not
    * corpus volume) and the survivors drop out via one left-anti
    * equi-join on (doc, token position) — no range join anywhere; the
    * reassembly is the array_sort-of-structs aggregation [[chunkDedup]]
    * uses, so the whole plan is scans + hash aggs + equi-joins. */
  def substrCut(docs: DataFrame, idCol: String, textCol: String,
                windowTokens: Int): DataFrame = {
    val w = windowTokens
    val wins = docs.select(col(idCol),
      posexplode(Hashing.hashedShingles60(col(textCol), w)).as(Seq("pos", "wh")))
    val occ = wins.groupBy("wh").agg(
      count(lit(1)).as("n_occ"),
      min(struct(col(idCol), col("pos"))).as("first_occ"))
    val laterOcc = wins.join(occ.filter(col("n_occ") > 1), "wh")
      .filter(!(col(s"first_occ.$idCol") === col(idCol) &&
        col("first_occ.pos") === col("pos")))
    cutReassemble(docs, idCol, textCol,
      windowStarts = laterOcc.select(col(idCol), col("pos")), w)
  }

  /** Shared tail of [[substrCut]] / [[decontamCut]]: merge the cut
    * window starts into maximal disjoint spans per document
    * ([[duplicatedSpans]]' running-max island shape — ONE
    * hash-partitioning by doc of the DUP-WINDOW volume), collect each
    * doc's span list, and cut + reassemble with the fused
    * [[graft.functions.CutSpans]] codegen kernel in a single per-row
    * pass over one docs-grain equi-join.
    *
    * This replaced the round-12 tail (expand every window into <= W
    * token positions + distinct, left-anti join the corpus's whole
    * token stream, array_sort reassembly) whose second window-volume
    * join+reassembly pass was the MEASURED mechanism keeping dd26/dd27
    * off the 50M-doc scale dd24 reaches: a duplicated run of L stride-1
    * windows shipped ~L·W cut positions and the corpus's token stream
    * shuffled twice more; now the post-detect traffic is span lists
    * (bounded by cut REGIONS, not windows x W) and nothing
    * token-grained ever shuffles. */
  private def cutReassemble(docs: DataFrame, idCol: String, textCol: String,
                            windowStarts: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val marked = windowStarts
      .withColumn("endp", col("pos") + lit(w))
      .withColumn("run_end", max("endp").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_start",
        col("run_end").isNull || col("pos") > col("run_end"))
    // span grouping and the per-doc span-list collect both cluster by
    // doc — no exchange past the island window's
    val spans = marked
      .withColumn("island",
        sum(when(col("is_start"), 1L).otherwise(0L)).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min("pos").as("s"), max("endp").as("e"))
    val spansPerDoc = spans.groupBy(idCol)
      .agg(collect_list(struct(col("s"), col("e"))).as("cut_spans"))
    val noSpans = array().cast("array<struct<s:int,e:int>>")
    docs.join(spansPerDoc, Seq(idCol), "left")
      .withColumn("__cut", graft.functions.CutSpans(
        graft.functions.WsTokens(col(textCol)),
        coalesce(col("cut_spans"), noSpans)))
      .select(col(idCol),
        col("__cut.n_tokens").as("n_tokens"),
        (col("__cut.n_tokens") - col("__cut.n_kept")).as("tokens_cut"),
        // null-text docs keep the old tail's empty-string convention
        coalesce(col("__cut.dedup_text"), lit("")).as("dedup_text"))
  }

  /** Span-level eval-set decontamination — the CUT counterpart of
    * [[contaminationScan]]'s rate audit: every training-document span
    * whose `windowTokens`-token window occurs ANYWHERE in the evaluation
    * corpus is cut at its exact offset, and the surviving text
    * reassembled — the decontamination step a benchmark-clean pretraining
    * corpus runs instead of dropping whole contaminated documents
    * (the document-level drop throws away every clean token in a page
    * that merely quotes one benchmark item).
    *
    * Scale design: the eval side reduces to DISTINCT window hashes —
    * bounded by contract (benchmark suites are small against the corpus)
    * and explicitly broadcast, the t7 convention — so the 100-TB train
    * side streams through one broadcast semi-join; cut expansion and
    * reassembly are [[substrCut]]'s shared tail (left-anti equi-join,
    * no range join). */
  def decontamCut(train: DataFrame, evalDocs: DataFrame, idCol: String,
                  textCol: String, windowTokens: Int): DataFrame = {
    val w = windowTokens
    val evalWins = evalDocs
      .select(explode(Hashing.hashedShingles60(col(textCol), w)).as("wh"))
      .distinct()
    val wins = train.select(col(idCol),
      posexplode(Hashing.hashedShingles60(col(textCol), w)).as(Seq("pos", "wh")))
    val contaminated = wins
      .join(broadcast(evalWins), Seq("wh"), "left_semi")
      .select(col(idCol), col("pos"))
    cutReassemble(train, idCol, textCol, contaminated, w)
  }

  /** DuckDB twin of [[decontamCut]]: `trainFrom` / `evalFrom` are table
    * or derived-table expressions for the two corpora. */
  def decontamCutSql(idCol: String, textExpr: String, windowTokens: Int,
                     trainFrom: String, evalFrom: String): String = {
    val w = windowTokens
    val shingle = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH ttks AS (SELECT $idCol,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $trainFrom),
       |etks AS (SELECT
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $evalFrom),
       |ewins AS (
       |  SELECT DISTINCT ${Hashing.sha60Sql(shingle)} AS wh
       |  FROM etks, unnest(range(1, len(tk) - $w + 2)) AS t(i)),
       |wins AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS pos,
       |    ${Hashing.sha60Sql(shingle)} AS wh
       |  FROM ttks, unnest(range(1, len(tk) - $w + 2)) AS t(i)),
       |cutw AS (SELECT $idCol, pos FROM wins SEMI JOIN ewins USING (wh)),
       |cutpos AS (
       |  SELECT DISTINCT $idCol, pos + j AS tpos
       |  FROM cutw, unnest(range(0, $w)) AS u(j)),
       |toks AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS tpos, tk[i] AS tok
       |  FROM ttks, unnest(range(1, len(tk) + 1)) AS r(i)),
       |kept AS (
       |  SELECT t.$idCol, t.tpos, t.tok
       |  FROM toks t ANTI JOIN cutpos c USING ($idCol, tpos)),
       |per_doc AS (
       |  SELECT $idCol, count(*) AS n_kept,
       |    array_to_string(list(tok ORDER BY tpos), ' ') AS dedup_text
       |  FROM kept GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS tokens_cut,
       |  coalesce(dedup_text, '') AS dedup_text
       |FROM ttks d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }

  /** DuckDB twin of [[substrCut]] over `documents`. */
  def substrCutSql(idCol: String, textExpr: String, windowTokens: Int,
                   from: String = "documents"): String = {
    val w = windowTokens
    val shingle = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH tks AS (SELECT $idCol,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $from),
       |wins AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS pos,
       |    ${Hashing.sha60Sql(shingle)} AS wh
       |  FROM tks, unnest(range(1, len(tk) - $w + 2)) AS t(i)),
       |ranked AS (
       |  SELECT $idCol, pos,
       |    count(*) OVER (PARTITION BY wh) AS n_occ,
       |    row_number() OVER (PARTITION BY wh ORDER BY $idCol, pos) AS rn
       |  FROM wins),
       |cutpos AS (
       |  SELECT DISTINCT $idCol, pos + j AS tpos
       |  FROM ranked, unnest(range(0, $w)) AS u(j)
       |  WHERE n_occ > 1 AND rn > 1),
       |toks AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS tpos, tk[i] AS tok
       |  FROM tks, unnest(range(1, len(tk) + 1)) AS r(i)),
       |kept AS (
       |  SELECT t.$idCol, t.tpos, t.tok
       |  FROM toks t ANTI JOIN cutpos c USING ($idCol, tpos)),
       |per_doc AS (
       |  SELECT $idCol, count(*) AS n_kept,
       |    array_to_string(list(tok ORDER BY tpos), ' ') AS dedup_text
       |  FROM kept GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS tokens_cut,
       |  coalesce(dedup_text, '') AS dedup_text
       |FROM tks d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }

  /** Soft dedup: down-WEIGHT duplicated documents for training-time
    * sampling instead of cutting them (the SoftDeDup lineage — He et al.,
    * "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    * Language Model Pre-training", ACL 2024 — which reweights by a
    * per-sample "data commonness" instead of hard removal). Commonness
    * here is the geometric mean of each document's window-occurrence
    * counts across the corpus (stride-1 `windowTokens`-token windows,
    * same fused hash kernel as [[duplicatedSpans]]): a document whose
    * every window is corpus-unique has commonness 1 and keeps weight 1;
    * a document assembled from passages seen k times converges to
    * weight 1/k. `sample_weight = 1 / commonness` is the multiplicative
    * factor a sampler applies to the doc's selection probability.
    *
    * Scale design: one aggregation for global window-occurrence counts,
    * one equi-join back on the window hash, one per-doc aggregation —
    * all map-side combinable; the geometric mean is `exp(avg(ln n))` so
    * the per-doc state is a single running sum, never a count list. */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       windowTokens: Int): DataFrame = {
    val wins = docs.select(col(idCol),
      explode(Hashing.hashedShingles60(col(textCol), windowTokens)).as("wh"))
    val occ = wins.groupBy("wh").agg(count(lit(1)).as("n_occ"))
    val perDoc = wins.join(occ, "wh").groupBy(idCol).agg(
      count(lit(1)).as("n_windows"),
      avg(log(col("n_occ").cast("double"))).as("mean_log_occ"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        round(exp(coalesce(col("mean_log_occ"), lit(0.0))), 6)
          .as("commonness"),
        round(lit(1.0) / exp(coalesce(col("mean_log_occ"), lit(0.0))), 6)
          .as("sample_weight"))
  }

  /** dd28 — PII redaction as a CUT operator: [[TextAnalysis.piiColumns]]
    * DETECTS (and char-rewrites in one map pass); this is the token-span
    * form on the [[substrCut]] machinery — every token matching a PII
    * pattern (email / phone / IPv4, the shared engine+oracle regexes at
    * [[TextAnalysis.piiEmailRe]]) is cut at its exact token position,
    * runs of adjacent PII tokens merge into ONE span, and the document
    * is reassembled with a single `<PII>` sentinel where each span was —
    * the scrubbed text plus the span/token accounting an audit trail
    * needs. Versus the char-level rewrite, the token-span form composes
    * with the rest of the cut family (its output positions are the same
    * token grid dd26/dd27 cut on) and yields one sentinel per span
    * rather than per match.
    *
    * Scale design: per-row tokenize + regex flag (map-only), then the
    * span merge and reassembly inside ONE hash-partitioning by document
    * — the lag-window span start, the conditional keep, and the
    * array_sort-of-structs rebuild all cluster by doc, so the whole
    * plan is one exchange past the scan. No join at all: redaction is
    * per-document, unlike dd26's corpus-global first-occurrence rule. */
  def piiRedactCut(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val piiRe = s"(${TextAnalysis.piiEmailRe})|(${TextAnalysis.piiPhoneRe})|(${TextAnalysis.piiIpv4Re})"
    val toks = docs.select(col(idCol),
        posexplode(graft.functions.WsTokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("is_pii", col("tok").rlike(piiRe))
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val flagged = toks.withColumn("span_start",
      col("is_pii") && !coalesce(lag(col("is_pii"), 1).over(byDoc), lit(false)))
    // collect_list drops nulls, so the when(...) without otherwise keeps
    // exactly the surviving tokens: non-PII verbatim, one sentinel per
    // span start, later span members dropped.
    val perDoc = flagged.groupBy(idCol).agg(
      sum(when(col("is_pii"), 1L).otherwise(0L)).as("n_pii_tokens"),
      sum(when(col("span_start"), 1L).otherwise(0L)).as("n_pii_spans"),
      concat_ws(" ", transform(
        array_sort(collect_list(
          when(!col("is_pii") || col("span_start"),
            struct(col("pos"),
              when(col("is_pii"), lit("<PII>")).otherwise(col("tok"))
                .as("out_tok"))))),
        s => s.getField("out_tok"))).as("redacted_text"))
    docs.select(col(idCol),
        size(graft.functions.WsTokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_pii_tokens"), lit(0L)).as("n_pii_tokens"),
        coalesce(col("n_pii_spans"), lit(0L)).as("n_pii_spans"),
        coalesce(col("redacted_text"), lit("")).as("redacted_text"))
  }

  /** DuckDB twin of [[piiRedactCut]] over `from`. */
  def piiRedactCutSql(idCol: String, textExpr: String,
                      from: String = "documents"): String = {
    val re = s"(${TextAnalysis.piiEmailRe})|(${TextAnalysis.piiPhoneRe})|(${TextAnalysis.piiIpv4Re})"
    s"""WITH tks AS (SELECT $idCol,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $from),
       |toks AS (
       |  SELECT $idCol, CAST(i - 1 AS INTEGER) AS pos, tk[i] AS tok
       |  FROM tks, unnest(range(1, len(tk) + 1)) AS r(i)),
       |flg AS (
       |  SELECT $idCol, pos, tok, regexp_matches(tok, '$re') AS is_pii
       |  FROM toks),
       |isl AS (
       |  SELECT $idCol, pos, tok, is_pii,
       |    is_pii AND NOT coalesce(lag(is_pii) OVER (PARTITION BY $idCol
       |      ORDER BY pos), false) AS span_start
       |  FROM flg),
       |per_doc AS (
       |  SELECT $idCol,
       |    sum(CASE WHEN is_pii THEN 1 ELSE 0 END) AS n_pii_tokens,
       |    sum(CASE WHEN span_start THEN 1 ELSE 0 END) AS n_pii_spans,
       |    array_to_string(list(CASE WHEN is_pii THEN '<PII>' ELSE tok END
       |      ORDER BY pos) FILTER (WHERE NOT is_pii OR span_start), ' ')
       |      AS redacted_text
       |  FROM isl GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(n_pii_tokens, 0) AS BIGINT) AS n_pii_tokens,
       |  CAST(coalesce(n_pii_spans, 0) AS BIGINT) AS n_pii_spans,
       |  coalesce(redacted_text, '') AS redacted_text
       |FROM tks d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }

  /** DuckDB twin of [[softDedupWeights]] over `documents`. */
  def softDedupWeightsSql(idCol: String, textExpr: String,
                          windowTokens: Int,
                          from: String = "documents"): String = {
    val w = windowTokens
    val shingle = (0 until w).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH tks AS (SELECT $idCol,
       |    string_split_regex(lower($textExpr), '\\s+') AS tk FROM $from),
       |wins AS (
       |  SELECT $idCol, ${Hashing.sha60Sql(shingle)} AS wh
       |  FROM tks, unnest(range(1, len(tk) - $w + 2)) AS t(i)),
       |occ AS (SELECT wh, count(*) AS n_occ FROM wins GROUP BY wh),
       |per_doc AS (
       |  SELECT $idCol, count(*) AS n_windows, avg(ln(n_occ)) AS mlo
       |  FROM wins JOIN occ USING (wh) GROUP BY $idCol)
       |SELECT d.$idCol,
       |  CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
       |  round(exp(coalesce(mlo, 0)), 6) AS commonness,
       |  round(1.0 / exp(coalesce(mlo, 0)), 6) AS sample_weight
       |FROM $from d LEFT JOIN per_doc p USING ($idCol)""".stripMargin
  }
}
