package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Drift, Similarity}

/** D1 ADWIN, D2 KS, dedup accuracy, and the custom intersect expression. */
class DriftDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("D1: ADWIN flags a mean shift and stays quiet on a constant series") {
    val shift = ((1 to 60).map(i => ("k", i, 0.0)) ++
      (61 to 120).map(i => ("k", i, 10.0))).toDF("k", "o", "v")
    val changes = Drift.adwin(shift, "k", "o", "v", delta = 0.002)
      .filter(col("is_change") === 1).select("o").collect().map(_.getInt(0))
    assert(changes.nonEmpty, "expected a change point after the shift")
    assert(changes.head > 60 && changes.head < 75, s"change at ${changes.head}")
    val const = (1 to 120).map(i => ("k", i, 5.0)).toDF("k", "o", "v")
    assert(Drift.adwin(const, "k", "o", "v", 0.002)
      .filter(col("is_change") === 1).count() === 0)
  }

  test("D2: KS — identical samples ~0, disjoint samples = 1") {
    val same = ((1 to 50).map(i => ("g", "a", i.toDouble)) ++
      (1 to 50).map(i => ("g", "b", i.toDouble))).toDF("g", "s", "v")
    val ks0 = Drift.ksTwoSample(same, "g", "s", "v").head().getAs[Double]("ks_stat")
    assert(ks0 === 0.0)
    val disjoint = ((1 to 50).map(i => ("g", "a", i.toDouble)) ++
      (1 to 50).map(i => ("g", "b", i + 1000.0))).toDF("g", "s", "v")
    val ks1 = Drift.ksTwoSample(disjoint, "g", "s", "v").head().getAs[Double]("ks_stat")
    assert(ks1 === 1.0)
  }

  test("D2 boundaries: identical windows give p = 1 (never p = 0), shifted give p < 0.05") {
    val cal = (0 until 28).map(i =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)))
    val daily = cal.zipWithIndex.map { case (d, i) =>
      (d, 5.0, if (i < 14) 10.0 else 300.0) // f_const identical; f_shift jumps
    }.toDF("date", "f_const", "f_shift")
    val segments = Seq((1L, "2024-01-01"), (2L, "2024-01-15"))
      .toDF("segment_id", "date_start")
      .withColumn("date_start", col("date_start").cast("date"))
    val out = Drift.ksAtBoundaries(daily, segments, "date",
        Seq("f_const", "f_shift"), windowDays = 14, minRows = 5)
      .collect().map(r => r.getAs[String]("feature") ->
        ((r.getAs[Double]("p_value"), r.getAs[Boolean]("significant")))).toMap
    assert(out("f_const")._1 == 1.0, s"identical windows: ${out("f_const")}")
    assert(!out("f_const")._2)
    assert(out("f_shift")._1 < 0.05 && out("f_shift")._2)
  }

  test("dd1: exact dedup groups identical texts") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "unique text here")).toDF("doc_id", "text")
    val out = Dedup.exactDups(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keep_id") === 1L)
    assert(out(0).getAs[Long]("n_copies") === 2L)
  }

  test("dd2: minhash equality rate approximates jaccard for near-dups") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 57).map(i => s"tok$i") ++ Seq("x", "y", "z")).mkString(" ")
    val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", 1, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    def agree(a: Long, b: Long) = sig(a).zip(sig(b)).count { case (x, y) => x == y }
    assert(agree(1L, 2L) >= 10, s"near-dups agree on ${agree(1L, 2L)}/16")
    assert(agree(1L, 3L) === 0, "unrelated docs should share no minhashes")
  }

  test("dd4: simhash hamming distance small for near-dups, large otherwise") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 57).map(i => s"tok$i") ++ Seq("x", "y", "z")).mkString(" ")
    val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(1L, 2L) <= 4, s"near-dup hamming ${ham(1L, 2L)}")
    assert(ham(1L, 3L) > ham(1L, 2L))
  }

  test("D2 exact KS p-value == brute-force enumeration of all orderings") {
    import graft.functions.KsExactPValue
    // ground truth for the no-ties model: enumerate every interleaving of
    // the two samples, D in integer units of 1/lcm(m,n)
    def brute(m: Int, n: Int, d: Double): Double = {
      val g = BigInt(m).gcd(BigInt(n)).toInt
      val mg = m / g
      val ng = n / g
      val h = math.round(d * m.toDouble * n.toDouble / g)
      var outside = 0L
      var total = 0L
      def walk(x: Int, y: Int, maxDev: Long): Unit = {
        val dev = math.max(maxDev, math.abs(x.toLong * ng - y.toLong * mg))
        if (x == m && y == n) { total += 1; if (dev >= h) outside += 1 }
        else {
          if (x < m) walk(x + 1, y, dev)
          if (y < n) walk(x, y + 1, dev)
        }
      }
      walk(0, 0, 0L)
      outside.toDouble / total
    }
    for ((m, n) <- Seq((4, 4), (5, 3), (7, 5), (6, 6), (14, 9)); k <- 1 to 6) {
      val lcm = m * n / BigInt(m).gcd(BigInt(n)).toInt
      val d = k.toDouble / lcm // attainable D values are multiples of 1/lcm
      val dp = KsExactPValue.pValue(m, n, d)
      val bf = brute(m, n, d)
      assert(math.abs(dp - bf) < 1e-9, s"(m=$m, n=$n, d=$d): dp=$dp bf=$bf")
    }
    assert(KsExactPValue.pValue(10, 10, 0.0) === 1.0)
    // complete separation: only the 2 fully-ordered interleavings reach D=1
    val p1 = KsExactPValue.pValue(5, 5, 1.0)
    assert(math.abs(p1 - 2.0 / 252.0) < 1e-12, s"p(D>=1)=$p1")
  }

  test("D2 exact KS: rescaled large-sample branch is continuous with the raw branch") {
    import graft.functions.KsExactPValue
    // totals 1000 vs 1002 straddle the unscaled/rescaled branch switch;
    // the p-value is continuous in n, so adjacent sizes must agree closely
    for (d <- Seq(0.05, 0.08, 0.12)) {
      val pSmall = KsExactPValue.pValue(500, 500, d) // raw path counts
      val pBig = KsExactPValue.pValue(501, 501, d)   // rescaled DP
      assert(math.abs(pSmall - pBig) < 5e-3, s"d=$d: $pSmall vs $pBig")
    }
    // mid-size windows (the scipy-auto region the asymptotic form used to
    // take): exact and asymptotic agree to the series' accuracy there
    val dMid = 0.06
    val pExact = KsExactPValue.pValue(1500, 1500, dMid)
    val lam = dMid * math.sqrt(1500.0 * 1500.0 / 3000.0)
    val pAsym = 2.0 * (1 to 100).map(j =>
      math.pow(-1.0, j - 1) * math.exp(-2.0 * j * j * lam * lam)).sum
    assert(pExact > 0 && pExact < 1)
    assert(math.abs(pExact - math.min(1.0, pAsym)) < 0.02,
      s"exact=$pExact asym=$pAsym")
    // degenerate large-sample cases stay exact
    assert(KsExactPValue.pValue(2000, 2000, 0.0) === 1.0)
    assert(KsExactPValue.pValue(1200, 1200, 1.0) < 1e-9)
  }

  test("dd7 fused lshVerifiedPairs == composed signature->candidates->verify") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 80).map(i => s"w$i")
    // base/variant pairs: the variant swaps the last 3 tokens, so bigram
    // shingles mostly agree -> high jaccard, likely band collision
    val docs = (0L until 20L).flatMap { i =>
      val base = rnd.shuffle(vocab).take(30)
      Seq((2 * i, base.mkString(" ")),
        (2 * i + 1, (base.take(27) ++ Seq(s"a$i", s"b$i", s"c$i")).mkString(" ")))
    }.toDF("doc_id", "text")
    // (shingleK, numHashes, rowsPerBand, minJaccard): dd7's audit knobs,
    // 16 hashes as 4 bands of 4 at J >= 0.5, and 128 hashes as 16 bands
    // of 8 at the S-curve threshold (1/16)^(1/8) ~ 0.71
    for ((k, h, r, j) <- Seq((2, 4, 2, 0.05), (3, 16, 4, 0.5),
        (3, 128, 8, 0.7))) {
      val knobs = s"($k, $h, $r, $j)"
      val fused = Dedup.lshVerifiedPairs(docs, "doc_id", "text", k, h, r, j)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sig = Dedup.minhashSignature(docs, "doc_id", "text", k, h)
      // the eager variant leaves only its result's checkpoint persisted:
      // the signature checkpoint is released before it returns
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val cand = Dedup.lshCandidatesEager(sig, "doc_id", h, r)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- persisted
      val resultRdd = cand.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
      assert(added.toSeq === resultRdd, knobs)
      val composed = Dedup.verifyPairsJaccard(cand, docs, "doc_id", "text", k, j)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fused === composed, knobs)
      assert(fused.nonEmpty, s"$knobs: fixture should produce at least one verified pair")
    }
  }

  test("dd5 banded: every reported pair's jaccard is exact; blocking only prunes") {
    val rnd = new scala.util.Random(5)
    val vocab = (1 to 60).map(i => s"w$i")
    val docs = (0L until 15L).flatMap { i =>
      val base = rnd.shuffle(vocab).take(25)
      Seq((2 * i, base.mkString(" ")),
        (2 * i + 1, (base.take(22) ++ Seq(s"u$i", s"v$i", s"x$i")).mkString(" ")))
    }.toDF("doc_id", "text")
    val banded = Dedup.ngramJaccardPairs(
      docs.withColumn("all", lit(1)), "doc_id", "text", "all", 2, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val out = Dedup.ngramJaccardPairsBanded(docs, "doc_id", "text", 2, 2, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty, "banded blocking should keep at least one near-dup pair")
    out.foreach { case (a, b, j) =>
      assert(banded((a, b)) === j,
        s"pair ($a,$b): banded jaccard $j != exact ${banded((a, b))}")
      assert(j >= 0.05)
    }
  }

  test("SortedLongIntersectCount == size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 40).map { _ =>
      def arr() = List.fill(rnd.nextInt(30))(rnd.nextLong() % 50).distinct.sorted
      (arr(), arr())
    } :+ ((List.empty[Long], List(1L, 2L))) :+ ((List.empty[Long], List.empty[Long]))
    val df = cases.toDF("a", "b")
    val rows = df.select(
      graft.functions.SortedLongIntersectCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).as("e")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("A17 successive-diff stats match a direct per-day recomputation") {
    val rnd = new scala.util.Random(3)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val samples = (0 until 200).map(i => (base + i * 60000L, 60.0 + rnd.nextGaussian() * 8))
    val events = samples.map { case (t, v) => (new java.sql.Timestamp(t), v) }.toDF("ts", "v")
    val win = graft.operators.DailyAgg
      .successiveDiffStats(events, "ts", "v", 20.0, 10).head()
    // one day of samples, in time order: diffs, RMSSD, pNN over the n-1 diffs
    val vs = samples.sortBy(_._1).map(_._2)
    val diffs = vs.zip(vs.tail).map { case (x, y) => y - x }
    val rmssd = math.sqrt(diffs.map(d => d * d).sum / diffs.size)
    val pnn = diffs.count(d => math.abs(d) > 20.0).toDouble / diffs.size * 100.0
    assert(math.abs(win.getAs[Double]("rmssd") - rmssd) < 1e-4,
      s"window ${win.getAs[Double]("rmssd")} vs direct $rmssd")
    assert(math.abs(win.getAs[Double]("pnn") - pnn) < 1e-4)
  }

  test("sim: brute-force top-k is deterministic and self-consistent") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 3), vecs,
      "vec_id", "embedding", 4)
    assert(knn.count() === 12)
    // rank 1..4 per query, sims non-increasing
    val byQ = knn.orderBy("query_id", "rk").collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("d6: CUSUM closed form == sequential recursion; alarms only after the shift") {
    val vals = (0 until 20).map(i =>
      if (i < 10) 1.0 + 0.05 * (i % 3) else 6.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i, v) }
      .toDF("user_id", "idx", "v")
    val out = graft.operators.Drift.cusum(df, "user_id", "idx", "v", 0.5, 4.0)
      .orderBy("idx").collect()
    // literal Page recursion replayed in Scala
    val mu = vals.sum / vals.size
    val sd = math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum / (vals.size - 1))
    var s = 0.0
    val ref = vals.map { x =>
      s = math.max(0.0, s + x - mu - 0.5 * sd); s }
    out.zip(ref).foreach { case (r, expect) =>
      assert(math.abs(r.getDouble(3) - expect) < 1e-6) }
    // the level shift alarms; the stable prefix never does
    val alarms = out.map(r => r.getInt(4))
    assert(alarms.take(10).forall(_ == 0))
    assert(alarms.drop(10).exists(_ == 1))
  }

  test("d7: Page-Hinkley closed form == sequential recursion; abrupt shift alarms") {
    val vals = (0 until 24).map(i =>
      if (i < 12) 1.0 + 0.05 * (i % 3) else 9.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i, v) }
      .toDF("user_id", "idx", "v")
    val out = graft.operators.Drift.pageHinkley(df, "user_id", "idx", "v", 0.1, 2.0)
      .orderBy("idx").collect()
    // literal PH recursion replayed in Scala: running mean, cumulative
    // deviation sum, running min
    val mu = vals.sum / vals.size
    val sd = math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum / (vals.size - 1))
    var sum = 0.0; var n = 0; var mt = 0.0; var mmin = Double.MaxValue
    val ref = vals.map { x =>
      sum += x; n += 1
      mt += x - sum / n - 0.1 * sd
      mmin = math.min(mmin, mt)
      mt - mmin
    }
    out.zip(ref).foreach { case (r, expect) =>
      assert(math.abs(r.getDouble(3) - expect) < 1e-6) }
    val alarms = out.map(r => r.getInt(4))
    assert(alarms.take(12).forall(_ == 0))
    assert(alarms.drop(12).exists(_ == 1))
  }

  test("d7: stable series never alarms; statistic is level-shift invariant") {
    val vals = (0 until 30).map(i => 5.0 + 0.3 * (i % 4))
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i, v) }
      .toDF("user_id", "idx", "v")
    val base = graft.operators.Drift.pageHinkley(df, "user_id", "idx", "v", 0.1, 5.0)
      .orderBy("idx").collect()
    assert(base.forall(_.getInt(4) == 0), "stable series must stay silent")
    // adding a constant moves the running mean with the data: identical stat
    val shifted = graft.operators.Drift.pageHinkley(
        df.withColumn("v", org.apache.spark.sql.functions.col("v") + 1000.0),
        "user_id", "idx", "v", 0.1, 5.0)
      .orderBy("idx").collect()
    base.zip(shifted).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-6) }
  }

  test("sim11: JL projection preserves norms in expectation; malformed vectors filtered") {
    import graft.operators.Similarity
    val vecs = (1 to 200).map(i =>
        (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 7) % 19 - 9).toFloat)))
      .toDF("vec_id", "embedding")
    val short = Seq((9999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(vecs.unionByName(short), "vec_id",
      "embedding", 64, 16)
    val rows = out.collect()
    assert(rows.length === 200, "wrong-length vector must be filtered")
    val ratios = rows.map(_.getAs[Double]("norm_ratio"))
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.2, s"mean norm ratio $mean")
    assert(ratios.forall(r => r > 0.1 && r < 4.0),
      s"ratio outside the JL band: ${ratios.min} .. ${ratios.max}")
  }

  test("t22: pagerank centrality — hub outranks leaves, mass conserved, empty graph") {
    // star 0—{1..5} plus the disjoint pair 6—7
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val out = Dedup.pagerankOverPairs(pairs, "id_a", "id_b", 0.85, 6).collect()
    val ranks = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ranks(0L) > ranks(1L))
    // leaves are symmetric: identical centrality
    (2L to 5L).foreach(i => assert(ranks(i) === ranks(1L)))
    assert(ranks(6L) === ranks(7L))
    // symmetric graph, no dangling nodes: total mass stays ~1
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    // empty pair set degenerates to an empty, correctly-shaped frame
    val empty = Dedup.pagerankOverPairs(
      pairs.filter(col("id_a") < -1), "id_a", "id_b", 0.85, 3)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq === Seq("doc_id", "deg", "centrality"))
  }

  test("sim8: MIPS ranking ≠ cosine ranking; augmentation makes cosine recover it") {
    // vectors with deliberately spread norms so magnitude matters: the
    // high-norm vector wins inner product even when a unit vector is
    // better aligned
    val vecs = (0 until 24).map { i =>
      val scale = 0.5f + (i % 5)
      (i.toLong, Array.tabulate(6)(d => (math.sin(i * 6 + d) * scale).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    val mips = Similarity.mipsTopK(q, vecs, "vec_id", "embedding", 5)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // MIPS order differs from cosine order on this fixture (norms vary)
    val cosine = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mips !== cosine)
    // Neyshabur–Srebro augmentation: cosine top-k on the augmented
    // vectors recovers the exact MIPS neighbor ranking
    val (qAug, cAug) = Similarity.augmentForMips(q, vecs, "vec_id", "embedding")
    val viaCosine = Similarity.bruteForceTopK(qAug, cAug, "vec_id", "embedding", 5)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaCosine === mips)
  }

  test("sim5: ivfAssign picks the nearest cell, ties to the smallest cell id, no shuffle") {
    val centroids = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)), (2L, Array(0f, 10f)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Array(1f, 1f)),    // nearest: cell 0 (d=2)
      (101L, Array(9f, 1f)),    // nearest: cell 1 (d=2)
      (102L, Array(1f, 9f)),    // nearest: cell 2 (d=2)
      (103L, Array(5f, 0f)))    // equidistant to 0 and 1 (d=25) -> cell 0
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfAssign(batch, "vec_id", "embedding",
        centroids, "vec_id", "embedding")
      .select("vec_id", "cell", "cell_dist").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (100L, 0L, 2.0), (101L, 1L, 2.0), (102L, 2L, 2.0), (103L, 0L, 25.0)))
    // the ingest-batch plan is per-row only: no exchange anywhere
    val plan = Similarity.ivfAssign(batch, "vec_id", "embedding",
      centroids, "vec_id", "embedding").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("dd16: semantic dedup keeps one representative per within-cell cosine cluster") {
    val centroids = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val vectors = Seq(
      // cell 0: 10/11 are near-parallel (cos ~ 0.998 — near-dups),
      // 12 is oblique enough to stay below the 0.9 threshold
      (10L, Array(5f, 0f)), (11L, Array(5f, 0.3f)), (12L, Array(2f, 1.4f)),
      // cell 1: 20/21 near-dups; 22 oblique to both (cos < 0.84)
      (20L, Array(0f, 7f)), (21L, Array(0.2f, 7f)), (22L, Array(1.4f, 2f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vectors, "vec_id", "embedding",
        centroids, "vec_id", "embedding", 0.9)
      .select("vec_id", "cell").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // min-id representative per near-dup pair survives; obliques survive
    // as singletons (12 in cell 0, 22 in cell 1)
    assert(out === Seq((10L, 0L), (12L, 0L), (20L, 1L), (22L, 1L)))
    // CROSS-cell near-parallel vectors are NOT paired (the blocking
    // contract): 12 (cell 0) and 22 (cell 1) have cosine ~0.97 yet both
    // survive because pairs only form within a cell
    val cos = (1.4 * 2 + 2 * 1.4) / (math.sqrt(1.4 * 1.4 + 2 * 2) * math.sqrt(1.4 * 1.4 + 2 * 2))
    assert(cos > 0.9)
  }

  test("sim4: int8 quantization — exact integers, faithful reconstruction, zero-vector null") {
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.0f, 0.27f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // scale = 1/127; |x|/scale = 127, 63.5, 0, 34.29 -> half-away 127, -64, 0, 34
    assert(out(0).getAs[Seq[Int]]("qvec") === Seq(127, -64, 0, 34))
    assert(math.abs(out(0).getAs[Double]("scale") - 1.0 / 127) < 1e-12)
    assert(out(0).getAs[Double]("recon_cos") > 0.9999)
    // zero vector: scale pinned to 1, all-zero ints, NULL (not NaN) cosine
    assert(out(1).getAs[Seq[Int]]("qvec") === Seq(0, 0, 0, 0))
    assert(out(1).getAs[Double]("scale") === 1.0)
    assert(out(1).isNullAt(out(1).fieldIndex("recon_cos")))
  }

  test("ANN IVF recall: kmeans-cell probing finds most true neighbors") {
    val vecs = (0 until 200).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i / 20 * 16 + d))
      (i.toLong, base.map(x => (x + 0.01 * math.cos(i)).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, vecs, "vec_id", "embedding", 5,
      numCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("sim3 serving path: probe-all ivfTopKWithCentroids equals brute force, equi-join only") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 4)
    val cents = vecs.filter(col("vec_id") < 6) // 6 stand-in cells
    // probing EVERY cell makes candidate generation exhaustive, so the
    // deterministic serving path must reproduce the exact baseline
    val served = Similarity.ivfTopKWithCentroids(q, vecs, "vec_id", "embedding",
      5, cents, "vec_id", "embedding", nProbe = 6)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
    val s = served.select("query_id", "neighbor_id", "sim", "rk")
      .orderBy("query_id", "rk").collect().toSeq
    val e = exact.select("query_id", "neighbor_id", "sim", "rk")
      .orderBy("query_id", "rk").collect().toSeq
    assert(s === e)
    // candidate generation is a pure (cell) equi-join — no nested loop
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"nlj in:\n$plan")
  }

  test("ANN LSH recall: bucketed top-k finds most true neighbors") {
    val vecs = (0 until 200).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i / 20 * 16 + d))
      (i.toLong, base.map(x => (x + 0.01 * math.cos(i)).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, vecs, "vec_id", "embedding", 5, 6, 16)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall")
  }

  test("sim7: range search is a subset of exact pairs with identical sims") {
    val vecs = (0 until 200).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i / 20 * 16 + d))
      (i.toLong, base.map(x => (x + 0.01 * math.cos(i)).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Similarity.lshCosineRange(vecs, "vec_id", "embedding",
        minSim = 0.9, numPlanes = 6, dims = 16, numTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact ground truth: all pairs above the floor
    val exact = Similarity.cosineDupPairs(
        vecs.withColumn("blk", lit(1)), "vec_id", "embedding", "blk", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty, "range search found nothing at 0.9 on a clustered fixture")
    got.foreach { case (pair, sim) =>
      assert(exact.contains(pair), s"$pair not in exact set")
      assert(exact(pair) === sim, s"$pair sim mismatch")
    }
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.6, s"range-search recall $recall")
  }

  test("sim6: pqEncode with the identity codebook is lossless, zero shuffle") {
    // codebook == corpus: every vector's nearest sub-centroid in EVERY
    // subspace is its own slice -> codes all equal the own id, recon 0
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding",
      vecs, "vec_id", "embedding", numSubspaces = 2)
    val rows = enc.orderBy("vec_id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === id && r.getLong(2) === id,
        s"vec $id not encoded to itself")
      assert(r.getDouble(3) === 0.0)
    }
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in encode:\n$plan")
  }

  test("sim6: ADC ranking approximates brute-force — recall floor holds") {
    // clustered corpus (10 groups of 20 near-identical vectors) with a
    // 20-code codebook: PQ codes separate the groups, so ADC top-k must
    // recover most true neighbors
    val vecs = (0 until 200).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i / 20 * 16 + d))
      (i.toLong, base.map(x => (x + 0.01 * math.cos(i)).toFloat))
    }.toDF("vec_id", "embedding")
    val codebook = vecs.filter(col("vec_id") % 10 === 0) // 20 spread codes
      .select((col("vec_id") / 10).cast("long").as("code"), col("embedding"))
    val q = vecs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqTopK(q, vecs, "vec_id", "embedding", 5,
        codebook, "code", "embedding", numSubspaces = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Within a group all vectors share PQ codes, so ADC ranks them tied
    // (ties to smallest id) while brute force splits them on the 0.01
    // noise — exact id-level recall is therefore tie-limited. The
    // property PQ guarantees is GROUP recall: every ADC neighbor comes
    // from the query's cluster.
    assert(adc.forall { case (qid, nid) => nid / 20 === qid / 20 },
      s"ADC left the query's cluster: $adc")
    assert(adc.size === exact.size)
    val recall = exact.intersect(adc).size.toDouble / exact.size
    assert(recall >= 0.4, s"ADC recall $recall")
  }

  test("sim9: IVFADC never leaves probed cells and matches exhaustive ADC inside them") {
    // same clustered fixture as sim6; one centroid per cluster so the
    // coarse quantizer routes each query to its own cluster's cell
    val vecs = (0 until 200).map { i =>
      val base = Array.tabulate(16)(d => math.sin(i / 20 * 16 + d))
      (i.toLong, base.map(x => (x + 0.01 * math.cos(i)).toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") / 20).cast("long").as("cell"), col("embedding"))
    val codebook = vecs.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") / 10).cast("long").as("code"), col("embedding"))
    val q = vecs.filter(col("vec_id") < 5)
    val ivfadc = Similarity.ivfAdcTopK(q, vecs, "vec_id", "embedding", 5,
        centroids, "cell", "embedding", codebook, "code", "embedding",
        numSubspaces = 4, nProbe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // with nProbe=1 the scan is the query's own cluster cell only
    assert(ivfadc.forall { case (qid, nid) => nid / 20 === qid / 20 },
      s"IVFADC left the probed cell: $ivfadc")
    // and inside the probed cell it agrees with the exhaustive ADC scan
    // restricted to that cell (same codes, same tie-breaks)
    val cellOnly = Similarity.pqTopK(q,
        vecs.filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        codebook, "code", "embedding", numSubspaces = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfadc === cellOnly)
  }

  test("dd24: maximal duplicated spans — boundary-straddling dups, span merge, clean docs") {
    // Docs 1 and 2 share the passage "p q r s t" but at OFFSET 1 in doc 2,
    // so with chunkTokens=3 the chunk grids disagree and dd19 sees no
    // duplicate chunk — the motivating case for the stride-1 form.
    val docs = Seq(
      (1L, "p q r s t a1 b1 c1 d1 e1"),
      (2L, "z1 p q r s t a2 b2 c2 d2"),
      // doc 3: TWO separate duplicated regions (shared with 4), with a
      // unique middle, so islands must not merge across the gap
      (3L, "m n o u3 v3 w3 x3 y3 j k l"),
      (4L, "m n o u4 v4 w4 x4 y4 j k l"),
      (5L, "all unique tokens here only once"),
      (6L, "sh or t")).toDF("doc_id", "text")
    val w = 3
    val out = operators.Dedup.duplicatedSpans(docs, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 6, "every input doc kept")
    // docs 1/2: one span covering exactly the 5 shared tokens
    for ((id, start) <- Seq(1L -> 0, 2L -> 1)) {
      val r = out(id)
      assert(r.getAs[Long]("n_spans") === 1, s"doc $id spans")
      assert(r.getAs[Long]("dup_tokens") === 5, s"doc $id dup tokens")
      assert(r.getAs[Long]("n_dup_windows") === 3, s"doc $id windows")
    }
    // chunk dedup at the same k misses the straddling duplicate entirely
    val chunk = operators.Dedup.chunkDedup(docs, "doc_id", "text", w)
      .filter(col("doc_id").isin(1L, 2L)).collect()
    assert(chunk.forall(r => r.getAs[Long]("n_kept") === r.getAs[Long]("n_chunks")),
      "dd19 chunk grid should see no duplicate chunk for offset dups")
    // doc 3/4: two islands of 3 tokens each, not merged across the gap
    for (id <- Seq(3L, 4L)) {
      val r = out(id)
      assert(r.getAs[Long]("n_spans") === 2, s"doc $id islands")
      assert(r.getAs[Long]("dup_tokens") === 6, s"doc $id dup tokens")
    }
    // clean doc: zeros but present; short doc: no windows at all
    assert(out(5L).getAs[Long]("n_spans") === 0)
    assert(out(5L).getAs[Double]("dup_frac") === 0.0)
    assert(out(6L).getAs[Long]("n_windows") === 1)
    assert(out(6L).getAs[Long]("n_tokens") === 3)
  }

  test("dd24: touching spans merge — windows at pos p and p+w are one region") {
    // "a b c d e f" vs two partners each sharing one half: windows
    // (a b c) and (d e f) are duplicated, (b c d)/(c d e) are not; the
    // two duplicated windows touch (end of first == start of second) and
    // must merge into ONE maximal span of 6 tokens.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x2 y2 z2"),
      (3L, "x3 y3 z3 d e f")).toDF("doc_id", "text")
    val r = operators.Dedup.duplicatedSpans(docs, "doc_id", "text", 3)
      .filter(col("doc_id") === 1L).head()
    assert(r.getAs[Long]("n_dup_windows") === 2)
    assert(r.getAs[Long]("n_spans") === 1, "touching windows merge")
    assert(r.getAs[Long]("dup_tokens") === 6)
    assert(r.getAs[Double]("dup_frac") === 1.0)
  }

  test("dd26: substr cut — first occurrence survives, later copies cut at exact offsets") {
    val docs = Seq(
      (1L, "p q r s t a1 b1 c1 d1 e1"),
      (2L, "z1 p q r s t a2 b2 c2 d2"), // shared passage at OFFSET 1
      (3L, "a b c x a b c"),            // within-doc repeat
      (4L, "sh or t")).toDF("doc_id", "text")
    val out = operators.Dedup.substrCut(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 holds every first occurrence: untouched
    assert(out(1L).getAs[Long]("tokens_cut") === 0)
    assert(out(1L).getAs[String]("dedup_text") ===
      "p q r s t a1 b1 c1 d1 e1")
    // doc 2 loses exactly the 5 shared tokens, at offset 1
    assert(out(2L).getAs[Long]("tokens_cut") === 5)
    assert(out(2L).getAs[String]("dedup_text") === "z1 a2 b2 c2 d2")
    // doc 3: the repeated "a b c" at pos 4 is cut, the first stays
    assert(out(3L).getAs[Long]("tokens_cut") === 3)
    assert(out(3L).getAs[String]("dedup_text") === "a b c x")
    // short doc: no windows, nothing cut
    assert(out(4L).getAs[Long]("tokens_cut") === 0)
    assert(out(4L).getAs[String]("dedup_text") === "sh or t")
  }

  test("dd26: a full-document duplicate empties the later copy, keeps the first intact") {
    val docs = Seq(
      (7L, "w1 w2 w3 w4 w5 w6"),
      (9L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = operators.Dedup.substrCut(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(7L).getAs[String]("dedup_text") === "w1 w2 w3 w4 w5 w6")
    assert(out(9L).getAs[String]("dedup_text") === "")
    assert(out(9L).getAs[Long]("tokens_cut") === 6)
  }

  test("dd27: decontam cut — eval-shared spans cut from EVERY train doc, clean docs intact") {
    val eval = Seq((100L, "q1 q2 q3 q4 answer")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro1 q1 q2 q3 q4 answer outro1"), // quotes the benchmark mid-page
      (2L, "q1 q2 q3 x y z"),                   // quotes a prefix (windows q1..q3 only)
      (3L, "totally clean page here")).toDF("doc_id", "text")
    val out = operators.Dedup.decontamCut(train, eval, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: eval windows (q1 q2 q3), (q2 q3 q4), (q3 q4 answer) all hit
    // -> positions 1..5 cut; unlike dd26 there is NO surviving first copy
    assert(out(1L).getAs[Long]("tokens_cut") === 5)
    assert(out(1L).getAs[String]("dedup_text") === "intro1 outro1")
    // doc 2: only window (q1 q2 q3) is an eval window -> positions 0..2
    assert(out(2L).getAs[Long]("tokens_cut") === 3)
    assert(out(2L).getAs[String]("dedup_text") === "x y z")
    assert(out(3L).getAs[Long]("tokens_cut") === 0)
    assert(out(3L).getAs[String]("dedup_text") === "totally clean page here")
  }

  test("dd25: soft dedup weights — unique doc keeps 1.0, k-fold copies converge to 1/k") {
    val docs = Seq(
      (1L, "c0 c1 c2 c3 c4 c5 c6 c7"), // x3 copies -> every window occ 3
      (2L, "c0 c1 c2 c3 c4 c5 c6 c7"),
      (3L, "c0 c1 c2 c3 c4 c5 c6 c7"),
      (4L, "u0 u1 u2 u3 u4 u5 u6 u7"), // fully unique
      (5L, "s t")).toDF("doc_id", "text") // too short: no windows
    val out = operators.Dedup.softDedupWeights(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(math.abs(out(id).getAs[Double]("commonness") - 3.0) < 1e-6)
      assert(math.abs(out(id).getAs[Double]("sample_weight") - 1.0 / 3) < 1e-6)
    }
    assert(out(4L).getAs[Double]("sample_weight") === 1.0)
    assert(out(4L).getAs[Long]("n_windows") === 5)
    assert(out(5L).getAs[Long]("n_windows") === 0)
    assert(out(5L).getAs[Double]("sample_weight") === 1.0)
  }
}
