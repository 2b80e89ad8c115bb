package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Stateless corpus ops on a Structured Streaming frame, and the
  * multimodal binary-column plumbing. */
class StreamingMultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming corpus ops: quality gate + chunking run stateless on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // per-row corpus ops compose on a streaming frame unchanged: quality
    // filter then overlapping chunking (both shuffle-free projections)
    val chunked = graft.operators.TextAnalysis.chunkDocuments(
      graft.operators.TextAnalysis.qualityColumns(df, "text")
        .filter(col("quality_score") >= 30.0),
      "doc_id", "text", chunkTokens = 10, overlapTokens = 3)
    val q = chunked.writeStream.outputMode("append")
      .format("memory").queryName("chunk_out").start()
    try {
      input.addData(
        (1L, (1 to 25).map(i => s"tok$i").mkString(" ")),
        (2L, "!!! ??? ;;; ###")) // junk: filtered before chunking
      q.processAllAvailable()
      input.addData((3L, (1 to 8).map(i => s"w$i").mkString(" ")))
      q.processAllAvailable()
      val out = spark.sql(
          "SELECT doc_id, chunk_id FROM chunk_out ORDER BY doc_id, chunk_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // doc 1: starts 0/7/14/21 (25 tokens); doc 2 gone; doc 3 one chunk
      assert(out === Seq((1L, 0L), (1L, 1L), (1L, 2L), (1L, 3L), (3L, 0L)),
        s"got $out")
    } finally q.stop()
  }

  test("multimodal: stub decode is deterministic, null-safe, schema-stable") {
    val media = Seq(
      (1L, "image", "abcdef".getBytes("UTF-8"), 2, 3, 0, 0),
      (2L, "image", null.asInstanceOf[Array[Byte]], 0, 0, 0, 0))
      .toDF("media_id", "modality", "payload", "width", "height", "sample_rate", "n_frames")
    val out = Multimodal.extractFeatures(media, dims = 4)
    assert(out.schema.fieldNames.contains("features"))
    val rows = out.orderBy("media_id").collect()
    val f1 = rows(0).getAs[scala.collection.Seq[Float]]("features")
    assert(f1.length === 4)
    assert(rows(1).isNullAt(rows(1).fieldIndex("features")))
    // determinism: same payload -> same features
    val again = Multimodal.extractFeatures(media, dims = 4)
      .orderBy("media_id").collect()(0).getAs[scala.collection.Seq[Float]]("features")
    assert(again.toSeq === f1.toSeq)
  }

  test("multimodal: frame sampling slices payload by stride") {
    val payload = (0 until 100).map(_.toByte).toArray
    val media = Seq((7L, "video", payload, 0, 0, 0, 10))
      .toDF("media_id", "modality", "payload", "width", "height", "sample_rate", "n_frames")
    val frames = Multimodal.sampleFrames(media, stride = 3).collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 3, 6, 9))
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length === 10))
  }

  test("multimodal: frameStats checksums match the sliced bytes exactly") {
    // payload 0..99, 10 frames of 10 bytes; stride 2 keeps 0,2,4,6,8
    val payload = (0 until 100).map(_.toByte).toArray
    val media = Seq((7L, "video", payload, 0, 0, 0, 10))
      .toDF("media_id", "modality", "payload", "width", "height", "sample_rate", "n_frames")
    val stats = Multimodal.frameStats(Multimodal.sampleFrames(media, stride = 2))
      .orderBy("frame_idx").collect()
    assert(stats.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 2, 4, 6, 8))
    stats.foreach { r =>
      val f = r.getAs[Int]("frame_idx")
      assert(r.getAs[Long]("frame_len") === 10L)
      // frame f covers bytes 10f..10f+9: sum = 10*(10f) + 45
      assert(r.getAs[Long]("byte_sum") === 100L * f + 45L)
      assert(r.getAs[Int]("first_byte") === 10 * f)
      assert(r.getAs[Int]("last_byte") === 10 * f + 9)
    }
    // remainder bytes past n_frames*frameLen are dropped, not absorbed:
    // 23 bytes / 4 frames -> frameLen 5, frames at 0,10 with stride 2,
    // bytes 20..22 belong to no frame
    val ragged = Seq((8L, "video", (0 until 23).map(_.toByte).toArray, 0, 0, 0, 4))
      .toDF("media_id", "modality", "payload", "width", "height", "sample_rate", "n_frames")
    val rs = Multimodal.frameStats(Multimodal.sampleFrames(ragged, stride = 2))
      .orderBy("frame_idx").collect()
    assert(rs.map(r => (r.getAs[Int]("frame_idx"), r.getAs[Long]("frame_len"),
      r.getAs[Int]("first_byte"), r.getAs[Int]("last_byte"))).toSeq ===
      Seq((0, 5L, 0, 4), (2, 5L, 10, 14)))
  }

  test("multimodal: sceneCuts — jump over threshold is a cut, first frame never is") {
    // media 1: means 10, 11, 210 -> diffs (null), 1, 199 -> one cut at
    // frame 4; media 2: single frame -> no diffs, null mean_diff
    val stats = Seq(
      (1L, 0, 4L, 40L), (1L, 2, 4L, 44L), (1L, 4, 4L, 840L),
      (2L, 0, 5L, 50L))
      .toDF("media_id", "frame_idx", "frame_len", "byte_sum")
    val out = Multimodal.sceneCuts(stats, threshold = 100.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_frames_sampled") === 3)
    assert(out(1L).getAs[Long]("n_cuts") === 1)
    assert(out(1L).getAs[Int]("first_cut_idx") === 4)
    assert(math.abs(out(1L).getAs[Double]("mean_diff") - 100.0) < 1e-6)
    assert(out(2L).getAs[Long]("n_cuts") === 0)
    assert(out(2L).isNullAt(out(2L).fieldIndex("first_cut_idx")))
    assert(out(2L).isNullAt(out(2L).fieldIndex("mean_diff")))
  }

  test("multimodal: PCM16 stats — LE unpack incl. negatives, truncated tail, null payload") {
    val samples = Seq(100, -100, 50, -50)
    val b = new Array[Byte](2 * samples.length + 1) // odd trailing byte
    samples.zipWithIndex.foreach { case (x, i) =>
      b(2 * i) = (x & 0xff).toByte
      b(2 * i + 1) = ((x >> 8) & 0xff).toByte
    }
    b(b.length - 1) = 0x7f // must be ignored, not read as a sample
    val media = Seq((1L, b), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val out = Multimodal.pcmStats(media, "payload")
      .select("media_id", "n_samples", "rms", "zcr", "peak")
      .orderBy("media_id").collect()
    assert(out(0).getLong(1) === 4L)
    // rms = sqrt((100²+100²+50²+50²)/4) = sqrt(6250)
    assert(math.abs(out(0).getDouble(2) - math.sqrt(6250.0)) < 1e-5)
    // every adjacent pair flips sign: zcr = 3/3
    assert(out(0).getDouble(3) === 1.0)
    assert(out(0).getInt(4) === 100)
    // null payload: all stat columns null
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(4))
  }

  test("multimodal: resize re-buckets features to the target dim") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "features")
    val out = Multimodal.resizeFeatures(df, "features", 5)
      .select("features").head().getAs[scala.collection.Seq[Float]](0)
    assert(out.length === 5)
    assert(out.toSeq === Seq(1.0f, 2.0f, 3.0f, 1.0f, 2.0f))
  }

  test("multimodal REAL decode: PNG/JPEG/GIF headers from genuine codec bytes") {
    import graft.multimodal.Multimodal.{decodeImageHeader, encodeTestImage, ImageHeader}
    // genuine PNG/JPEG bytes from the JDK encoder, at asymmetric dims so
    // a width/height swap would be caught
    assert(decodeImageHeader(encodeTestImage(5L, "png", 17, 9))
      === Some(ImageHeader("png", 17, 9, 3)))
    assert(decodeImageHeader(encodeTestImage(6L, "jpg", 31, 2))
      === Some(ImageHeader("jpeg", 31, 2, 3)))
    assert(decodeImageHeader(encodeTestImage(7L, "gif", 12, 4))
      === Some(ImageHeader("gif", 12, 4, 3)))
    // grayscale PNG -> 1 channel (colour type 0)
    val grey = new java.awt.image.BufferedImage(5, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grey, "png", out)
    assert(decodeImageHeader(out.toByteArray) === Some(ImageHeader("png", 5, 6, 1)))
    // garbage / truncation / null never throw
    assert(decodeImageHeader(null) === None)
    assert(decodeImageHeader(Array[Byte]()) === None)
    assert(decodeImageHeader("not an image at all".getBytes("UTF-8")) === None)
    assert(decodeImageHeader(encodeTestImage(5L, "png", 17, 9).take(12)) === None)
    assert(decodeImageHeader(encodeTestImage(6L, "jpg", 31, 2).take(4)) === None)
  }

  test("multimodal REAL pixel decode: ImageIO raster -> 8x8 gray thumbnail") {
    import graft.multimodal.Multimodal
    import Multimodal.encodeTestImage
    // the generator's pixel/luma formula, recomputed independently
    def luma(seed: Long, x: Int, y: Int): Long = {
      val v = (seed * 31 + x * 7 + y * 13) & 0xffffff
      299L * ((v >> 16) & 0xff) + 587L * ((v >> 8) & 0xff) + 114L * (v & 0xff)
    }
    def cell(seed: Long, w: Int, h: Int, ci: Int, cj: Int): Double = {
      val x0 = cj * w / 8; val x1 = math.min(math.max((cj + 1) * w / 8, x0 + 1), w)
      val y0 = ci * h / 8; val y1 = math.min(math.max((ci + 1) * h / 8, y0 + 1), h)
      val px = for (y <- y0 until y1; x <- x0 until x1) yield luma(seed, x, y)
      px.sum.toDouble / (1000.0 * px.size)
    }
    val media = Seq(
      (1L, encodeTestImage(1L, "png", 1, 1)), // smaller than the thumbnail
      (2L, encodeTestImage(2L, "png", 13, 7)), // asymmetric, multi-pixel cells
      (3L, null.asInstanceOf[Array[Byte]]), // null payload
      (4L, "not an image at all".getBytes("UTF-8"))) // garbage payload
      .toDF("media_id", "payload")
    val out = Multimodal.decodePixels(media, "payload").orderBy("media_id").collect()
    // 1x1 upsamples: every cell is the single pixel's luma
    assert(out(0).getAs[Int]("px_width") === 1)
    assert(out(0).getAs[Int]("px_height") === 1)
    val t1 = out(0).getAs[scala.collection.Seq[Double]]("gray_thumb")
    assert(t1.length === 64)
    assert(t1.forall(_ === cell(1L, 1, 1, 0, 0)))
    // 13x7: corners + center match the independent recompute (lossless
    // PNG round-trip means the decoded raster IS the formula)
    val t2 = out(1).getAs[scala.collection.Seq[Double]]("gray_thumb")
    assert(out(1).getAs[Int]("px_width") === 13)
    assert(out(1).getAs[Int]("px_height") === 7)
    for ((ci, cj) <- Seq((0, 0), (0, 7), (3, 3), (7, 0), (7, 7)))
      assert(t2(ci * 8 + cj) === cell(2L, 13, 7, ci, cj), s"cell ($ci,$cj)")
    // undecodable payloads -> null decode columns, rows preserved
    for (i <- Seq(2, 3)) {
      assert(out(i).isNullAt(out(i).fieldIndex("px_width")))
      assert(out(i).isNullAt(out(i).fieldIndex("gray_thumb")))
    }
  }

  test("multimodal aHash: signature parity with the formula; null-safe; collisions real") {
    import graft.multimodal.Multimodal
    import Multimodal.encodeTestImage
    // independent reimplementation: formula pixels -> integer pooling ->
    // milli-luma threshold -> packed halves (no codec involved)
    def expected(seed: Long, w: Int, h: Int): (Long, Long) = {
      def luma(x: Int, y: Int): Long = {
        val v = (seed * 31 + x * 7 + y * 13) & 0xffffff
        299L * ((v >> 16) & 0xff) + 587L * ((v >> 8) & 0xff) + 114L * (v & 0xff)
      }
      val m = for (ci <- 0 until 8; cj <- 0 until 8) yield {
        val x0 = cj * w / 8; val x1 = math.min(math.max((cj + 1) * w / 8, x0 + 1), w)
        val y0 = ci * h / 8; val y1 = math.min(math.max((ci + 1) * h / 8, y0 + 1), h)
        val px = for (y <- y0 until y1; x <- x0 until x1) yield luma(x, y)
        px.sum / px.size
      }
      val tot = m.sum
      var hi = 0L; var lo = 0L
      for (k <- 0 until 64 if 64L * m(k) > tot)
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      (hi, lo)
    }
    val media = Seq(
      (1L, encodeTestImage(1L, "png", 13, 7)),
      (2L, encodeTestImage(2L, "png", 5, 3)),
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, "garbage".getBytes("UTF-8"))).toDF("media_id", "payload")
    val out = Multimodal.aHash64(media, "payload").orderBy("media_id").collect()
    for ((row, (seed, w, h)) <- out.take(2).zip(Seq((1L, 13, 7), (2L, 5, 3)))) {
      val (hi, lo) = expected(seed, w, h)
      assert(row.getAs[Long]("sig_hi") === hi, s"seed $seed hi")
      assert(row.getAs[Long]("sig_lo") === lo, s"seed $seed lo")
    }
    for (i <- Seq(2, 3)) {
      assert(out(i).isNullAt(out(i).fieldIndex("sig_hi")))
      assert(out(i).isNullAt(out(i).fieldIndex("sig_lo")))
    }
    assert(out(0).getAs[Int]("px_width") === 13)
    // real collisions: the gradient structure is shared across seeds at
    // equal dims whenever channel levels shift without wrapping — find a
    // colliding seed pair with the pure-Scala recompute, then pin that
    // the engine (through the actual PNG codec) collides on it too
    val sigs = (0L until 40L).map(s0 => s0 -> expected(s0, 13, 7))
    val pair = sigs.groupBy(_._2).values.find(_.size > 1).map(_.map(_._1))
    assert(pair.isDefined, "no colliding seed pair in 40 candidates")
    val Seq(s1, s2) = pair.get.take(2).toSeq
    val coll = Multimodal.aHash64(
        Seq((s1, encodeTestImage(s1, "png", 13, 7)),
          (s2, encodeTestImage(s2, "png", 13, 7))).toDF("media_id", "payload"),
        "payload").select("sig_hi", "sig_lo").collect()
    assert(coll(0) === coll(1), s"engine must collide on seeds $s1/$s2")
  }

  test("multimodal audio fingerprint: parity with hand recompute; volume-invariant; null-safe") {
    import graft.multimodal.Multimodal
    def pcm(samples: Seq[Int]): Array[Byte] = {
      val b = new Array[Byte](2 * samples.size)
      samples.zipWithIndex.foreach { case (x, i) =>
        b(2 * i) = (x & 0xff).toByte
        b(2 * i + 1) = ((x >> 8) & 0xff).toByte
      }
      b
    }
    // 12 samples -> 3 windows; energies 4*1, 4*100, 4*25 -> bits: e1>e0 (1),
    // e2>e1 (0) -> fp = 0b01 = 1
    val base = Seq(1, -1, 1, -1, 10, -10, 10, -10, 5, -5, 5, -5)
    val media = Seq(
      (1L, pcm(base)),
      (2L, pcm(base.map(_ * 3))), // uniformly re-leveled copy
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, pcm(Seq(7, 8, 9)))) // < one window
      .toDF("media_id", "payload")
    val out = Multimodal.audioFingerprint(media, "payload")
      .orderBy("media_id").collect()
    assert(out(0).getAs[Int]("n_windows") === 3)
    assert(out(0).getAs[Long]("fp") === 1L)
    // volume scaling multiplies every energy by 9: identical delta signs
    assert(out(1).getAs[Int]("n_windows") === 3)
    assert(out(1).getAs[Long]("fp") === out(0).getAs[Long]("fp"))
    assert(out(2).isNullAt(out(2).fieldIndex("fp")))
    assert(out(3).isNullAt(out(3).fieldIndex("fp")),
      "sub-window payload must yield null, not a zero-window fingerprint")
  }

  test("mm12 temporal video hash: parity with direct byte recompute; planted near-dup regime") {
    import graft.queries.TextQueries
    val ids = (0L until 200L).toSeq.toDF("doc_id")
    val fps = TextQueries.mm12DocFps(ids).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // independent reference: recompute every fingerprint straight from
    // the committed payload BYTES (not the formula the fixture shares
    // with the twin) — a demux slicing bug, a stride slip, or a window
    // mis-order in mm12DocFps diverges here even if fixture and twin
    // agree
    val payloads = TextQueries.mm12Media(ids).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2)))
    payloads.foreach { case (id, payload, nf) =>
      val fl = payload.length / nf
      val sums = (0 until nf).map(f =>
        (0 until fl).map(j => payload(f * fl + j) & 0xff).sum.toLong)
      var expFp = 0L
      (0 until nf - 1).foreach { f =>
        if (sums(f + 1) > sums(f)) expFp |= 1L << f
      }
      assert(fps(id) === ((nf, expFp)),
        s"doc $id: engine fp disagrees with byte recompute")
    }
    // planted regime over the 50 groups: variants collapse equal or land
    // within the radius for most pairs, with SOME distinct-sig pairs in
    // hamming 1..3 (the banded join's positive path) and a beyond-radius
    // tail (the verify filter's negative path)
    val byGroup = fps.toSeq.groupBy { case (id, _) => id / 4 }
    val hs = byGroup.values.flatMap { docs =>
      docs.combinations(2).map { case Seq((_, (_, a)), (_, (_, b))) =>
        java.lang.Long.bitCount(a ^ b)
      }
    }.toSeq
    assert(hs.count(_ == 0) > 0, "no equal-fp collapse in the fixture")
    assert(hs.count(h => h >= 1 && h <= 3) > 0,
      "no distinct-sig near-dups within the verify radius")
    assert(hs.count(_ > 3) > 0, "no beyond-radius variant pairs")
    // the signature space grows with the corpus: far more distinct
    // (n_frames, fp) keys than the 8 frame-count blocks
    assert(fps.values.toSet.size > 50,
      "fingerprint space saturated — fixture regressed to mm9's seed-only trap")
  }

  test("multimodal REAL decode: decodeHeaders null-pads unparseable payloads") {
    import graft.multimodal.Multimodal
    val media = Seq(
      (1L, Multimodal.encodeTestImage(1L, "png", 8, 3)),
      (2L, "junk".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val rows = Multimodal.decodeHeaders(media, "payload")
      .orderBy("media_id").collect()
    assert(rows(0).getAs[String]("format") === "png")
    assert(rows(0).getAs[Int]("width") === 8)
    assert(rows(0).getAs[Int]("height") === 3)
    assert(rows(0).getAs[Int]("channels") === 3)
    assert(rows(1).isNullAt(rows(1).fieldIndex("format")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("width")))
  }
}
