package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Connected-components duplicate clustering (large-star/small-star) and
  * the keep-one-representative corpus filter. */
class DupClusterSpec extends SparkTestBase {
  import spark.implicits._

  /** In-test reference: sequential union-find with path compression. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are not guaranteed minimal under naive union-find; normalize
    // by grouping members under their root and taking the group min.
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  private def clusterMap(pairs: Seq[(Long, Long)],
                         localSolveMaxEdges: Long = 1L << 20): Map[Long, Long] =
    Dedup.dupClusters(pairs.toDF("id_a", "id_b"),
        localSolveMaxEdges = localSolveMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, triangle, singleton-pair components label to their minimum") {
    // chain 1-2-3-4 (worst-case diameter), triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val got = clusterMap(pairs)
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got === want)
  }

  test("long path converges (O(log n) rounds, not diameter) and labels exactly") {
    // a 200-node path: naive propagation would need ~200 rounds; the
    // star contraction (forced — localSolveMaxEdges=0 disables the
    // driver solve) must finish well inside the 50-round cap.
    val pairs = (1L until 200L).map(i => (i, i + 1))
    val got = clusterMap(pairs, localSolveMaxEdges = 0)
    assert(got.size === 200 && got.values.forall(_ == 1L))
  }

  test("matches union-find on randomized graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 40
      val pairs = (1 to 60).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (a, b)
      }.filter(p => p._1 != p._2)
      assert(clusterMap(pairs) === unionFindLabels(pairs))
    }
  }

  test("driver solve and star contraction produce the identical labeling") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val pairs = (1 to 50).map { _ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }.filter(p => p._1 != p._2)
      assert(clusterMap(pairs) === clusterMap(pairs, localSolveMaxEdges = 0))
    }
  }

  test("string ids: driver solve orders by UTF-8 bytes like Spark least/min") {
    // U+00E9 (é, 2 UTF-8 bytes) vs U+4E00 (一, 3 bytes): byte order and
    // UTF-16 char order agree here, but the pair pins the code path; the
    // cross-check against the forced-distributed labeling is the contract.
    val pairs = Seq(("一doc", "édoc"), ("édoc", "adoc"))
    val local = Dedup.dupClusters(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Dedup.dupClusters(pairs.toDF("id_a", "id_b"),
        localSolveMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local === dist)
    assert(local.values.toSet === Set("adoc"))
  }

  test("string ids cluster in their native type (no silent null cast)") {
    val got = Dedup.dupClusters(
      Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y"))
        .toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "doc-x" -> "doc-x", "doc-y" -> "doc-x"))
  }

  test("direction and duplication of input pairs don't matter") {
    val got = clusterMap(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (2L, 3L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("simhashPairs: identical docs at hamming 0, unrelated docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // identical -> hamming 0
      (3L, "totally different words entirely unrelated content here today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 16, 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L),
      s"identical pair missing: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      s"unrelated doc paired: ${pairs.mkString(",")}")
  }

  test("simhashPairs banding finds every pair under the hamming cap (pigeonhole)") {
    // brute-force cross-check on a small random corpus
    val rnd = new scala.util.Random(7)
    val words = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (1L to 30L).map(i =>
      (i, (0 until 12).map(_ => words(rnd.nextInt(words.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 2
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", 16, 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("hammingBandJoin64 equals brute-force hamming, cross-half distances included") {
    // the 64-bit (hi, lo) form of the band join: 2 words of 32 bits.
    // hand-placed 64-bit signatures as (hi, lo) halves: pairs whose
    // distance straddles the hi/lo boundary must still be found (a
    // banding that mixed up halves or offsets would drop them), and the
    // pigeonhole bound must hold on a random fleet
    val rnd = new scala.util.Random(11)
    val base = (1L to 40L).map { i =>
      (i, rnd.nextInt() & 0xffffffffL, rnd.nextInt() & 0xffffffffL)
    }
    val planted = Seq(
      (101L, base(0)._2, base(0)._3),                        // hamming 0 vs id 1
      (102L, base(1)._2 ^ 3L, base(1)._3 ^ (1L << 31)),      // 3 bits: 2 in hi, 1 in lo top bit
      (103L, base(2)._2 ^ (1L << 31), base(2)._3 ^ 1L),      // straddles both half tops
      (104L, base(3)._2 ^ 0xfL, base(3)._3)                  // hamming 4 > cap: must be absent
    )
    val sigs = (base ++ planted).toDF("rid", "sig_hi", "sig_lo")
    val all = (base ++ planted)
    val want = (for {
      (a, ah, al) <- all; (b, bh, bl) <- all if a < b
      h = java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(al ^ bl)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    // both the production banding (2 words x 2 bands of 16 bits — mm9's
    // depth knob) and the finer 2 x 4 split of 8 bits must equal brute
    // force exactly
    Seq(2, 4).foreach { bandsPerWord =>
      val bands = 2 * bandsPerWord
      val got = Dedup.hammingBandJoinWords(sigs, "rid", Seq("sig_lo", "sig_hi"),
          wordBits = 32, bandsPerWord = bandsPerWord, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want,
        s"band join diverged at bands=$bands: got ${got.size}, want ${want.size}")
      assert(!got.exists(p => p._1 == 4L && p._2 == 104L),
        s"over-cap pair leaked at bands=$bands")
    }
    assert(want.exists(_._1 == 2L) && want.exists(_._1 == 3L),
      "fixture lost its planted cross-half pairs")
  }

  test("hammingBandJoinWords (256-bit, 16 bands) equals brute force at radius 15") {
    // 8-word (256-bit) signatures — the aHash256 shape of mm10's image
    // stage. A random fleet plus planted near-dups whose flipped bits
    // SPREAD across words (a banding that mis-mapped word/offset would
    // lose them), one pair exactly AT the radius, one just over it.
    val rnd = new scala.util.Random(13)
    def words() = Array.fill(8)(rnd.nextInt() & 0xffffffffL)
    val base = (1L to 30L).map(i => (i, words()))
    def flip(w: Array[Long], bits: Seq[Int]): Array[Long] = {
      val c = w.clone()
      bits.foreach(k => c(k / 32) ^= 1L << (k % 32))
      c
    }
    val planted = Seq(
      (201L, base(0)._2.clone()),                         // hamming 0
      (202L, flip(base(1)._2, Seq(0, 33, 66, 99, 255))),  // 5 bits, 5 words
      (203L, flip(base(2)._2, 0 until 15)),               // exactly 15
      (204L, flip(base(3)._2, 0 until 16)))               // 16 > cap: absent
    val all = base ++ planted
    val sigs = all.map { case (id, w) =>
      (id, w(0), w(1), w(2), w(3), w(4), w(5), w(6), w(7))
    }.toDF("rid", "sig0", "sig1", "sig2", "sig3", "sig4", "sig5", "sig6", "sig7")
    val want = (for {
      (a, aw) <- all; (b, bw) <- all if a < b
      h = (0 until 8).map(k => java.lang.Long.bitCount(aw(k) ^ bw(k))).sum
      if h <= 15
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.hammingBandJoinWords(sigs, "rid",
        (0 until 8).map(w => s"sig$w"), wordBits = 32, bandsPerWord = 2,
        maxHamming = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, s"words band join diverged: got ${got.size}, want ${want.size}")
    assert(want.exists(p => p._2 == 203L), "fixture lost its at-radius pair")
    assert(!got.exists(p => p._2 == 204L), "over-cap pair leaked")
  }

  test("bloomExactMembership: exact dups found, new docs rejected, bloom in plan") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "zeta eta"), (12L, "epsilon"),
      (13L, "totally new"))
      .toDF("doc_id", "text")
    val out = Dedup.bloomExactMembership(batch, corpus, "doc_id", "text")
    val got = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(10L, 12L))
    // the probe really is the bloom expression (on a local relation the
    // optimizer folds the filter into the LocalTableScan, so assert on
    // the analyzed plan)
    assert(out.queryExecution.analyzed.toString.contains("might_contain"))
    // on a parquet-backed batch the executed plan must keep the bloom
    // probe as a Filter BEFORE the semi-join — the scale contract: join
    // input is the bloom-passing subset, not the batch
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val pq = Dedup.bloomExactMembership(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    pq.count()
    val plan = pq.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from parquet-backed plan:\n$plan")
  }

  test("keepClusterRepresentatives keeps cluster minima plus unpaired docs") {
    val docs = Seq((1L, "a"), (2L, "a dup"), (3L, "a dup2"),
      (7L, "unpaired"), (10L, "b"), (11L, "b dup")).toDF("doc_id", "text")
    val clusters = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    val kept = Dedup.keepClusterRepresentatives(docs, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 7L, 10L))
  }

  test("simhashClusters (sig-domain components) equals the doc-pair composition") {
    // driver corpus slice: realistic signature collisions + near-dups
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val q = graft.operators.TextAnalysis.qualityColumns(docs, "text")
    val viaSigDomain = Dedup.simhashClusters(q, "doc_id", "text", 16, 4, 2,
      col("quality_score"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the quadratic-output audit composition the sig-domain form replaces
    val viaDocPairs = Dedup.keepBestRepresentatives(q, "doc_id",
      Dedup.dupClusters(Dedup.simhashPairs(q, "doc_id", "text", 16, 4, 2)),
      col("quality_score"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSigDomain === viaDocPairs)
    assert(viaSigDomain.nonEmpty)
  }

  test("simhashClusters equals doc-pair composition on seeded random corpora") {
    // tiny vocab + short docs force signature collisions, same-sig
    // multi-doc groups, and cross-sig near-dup chains — the cases where
    // the sig-domain contraction could plausibly diverge from doc-level
    // pairs (singleton sigs, hamming-0 groups with no sig neighbors,
    // transitive chains through shared signatures)
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val vocab = (0 until 6 + trial).map(j => s"w$j")
      def doc(): String =
        (0 until 2 + rnd.nextInt(5)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val docs = (0L until 40L).map(i => (i, doc(), 1.0 + (i % 7) * 0.1))
        .toDF("doc_id", "text", "q")
      val sigDomain = Dedup.simhashClusters(docs, "doc_id", "text", 16, 4, 2,
        col("q")).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val docPairs = Dedup.keepBestRepresentatives(docs, "doc_id",
        Dedup.dupClusters(Dedup.simhashPairs(docs, "doc_id", "text", 16, 4, 2)),
        col("q")).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(sigDomain === docPairs, s"trial $trial diverged")
    }
  }

  test("keepBestRepresentatives keeps the highest-quality member, min id on ties") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: 2 and 3 tie on quality
      (7L, 0.1),                       // unpaired singleton survives
      (10L, 0.5), (11L, 0.4))          // cluster {10,11}: 10 wins
      .toDF("doc_id", "q")
    val clusters = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    val kept = Dedup.keepBestRepresentatives(docs, "doc_id", clusters, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L, 7L, 10L))
  }

  test("bandedJaccardQuality: identical docs found, counts and ratios consistent") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), // identical: true pair, same band
      (3L, "x y z w")                   // unrelated
    ).toDF("doc_id", "text")
    val r = Dedup.bandedJaccardQuality(docs, "doc_id", "text",
      shingleK = 2, bandHashes = 2, minJaccard = 0.5).head()
    val (nDocs, nCand, nTrue, nFound) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nDocs === 3L)
    assert(nTrue === 1L && nFound === 1L, "identical docs must be a found pair")
    assert(nFound <= nCand && nFound <= nTrue, "found must be a subset")
    assert(r.getDouble(5) === 1.0, "recall must be 1 when the only true pair is found")
    assert(r.getDouble(4) === nFound.toDouble / nCand)
  }

  test("bandedJaccardQuality recall: found pairs == banded∩truth on random docs") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val rnd = new scala.util.Random(77)
    def doc() = (0 until 3 + rnd.nextInt(4)).map(_ => vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
    val docs = (0L until 30L).map(i => (i, doc())).toDF("doc_id", "text")
    val r = Dedup.bandedJaccardQuality(docs, "doc_id", "text", 2, 2, 0.3).head()
    val truth = Dedup.ngramJaccardPairs(
        docs.withColumn("blk", lit(0)), "doc_id", "text", "blk", 2, 0.3)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val banded = Dedup.ngramJaccardPairsBanded(docs, "doc_id", "text", 2, 2, 0.3)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(banded.subsetOf(truth), "banding must only remove pairs, never add")
    assert(r.getLong(2) === truth.size.toLong)
    assert(r.getLong(3) === banded.size.toLong)
  }
}
