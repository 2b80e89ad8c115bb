package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.operators.TextAnalysis

/** Every native kernel in `graft.functions` evaluated twice over the same
  * rows — once compiled (`factoryMode=CODEGEN_ONLY`, whole-stage codegen
  * on: each kernel's `doGenCode` runs, with no interpreted fallback) and
  * once interpreted (`factoryMode=NO_CODEGEN`, whole-stage codegen off:
  * each kernel's `eval` runs) — and the two row sets must be equal.
  *
  * The inputs are written to parquet and read back, so they reach the
  * kernels at execution time: a local `Seq.toDF` would be folded by the
  * optimizer's `ConvertToLocalRelation`, interpreted, in both runs. They
  * cover null, empty and whitespace-only text, multi-byte and invalid
  * UTF-8 (the tokenizers' malformed-input path), null arrays, empty arrays and
  * null array elements. */
class KernelEvalModesSpec extends SparkTestBase with BeforeAndAfterAll {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val docs: Seq[Array[Byte]] = Seq(
    null,
    bytes(""),
    bytes(" \t\n\u000B\f\r "),
    bytes("Héllo WÖRLD  中文\ttokens 😀 déjà-vu a b ÉÉ"),
    // invalid UTF-8: a lone continuation byte, a truncated 2-byte lead,
    // a truncated 3-byte sequence at the end
    Array[Byte]('A', 0x80.toByte, ' ', 'b', ' ', 0xC3.toByte, ' ') ++
      bytes("The x ") ++ Array[Byte](0xE2.toByte, 0x80.toByte),
    bytes("The quick brown fox jumps over the lazy dog.\n" +
      "• a bullet line that trails off...\n# heading with {brace}\n" +
      "JavaScript is required to view this page, sorry.\n" +
      "   \nlorem ipsum dolor sit amet. One more sentence! Is it? " +
      "der die und el la de le et the of and to"),
    bytes("  leading run, then value after value; ab 12ab34 ... ..... " +
      "water later \"quoted.\"  "),
    bytes("x"))

  private val longArrs: Seq[Seq[java.lang.Long]] = Seq(
    null,
    Seq(),
    Seq(1L, 5L, 9L, 12L, 40L, 77L).map(Long.box),
    Seq[java.lang.Long](3L, null, 9L),
    Seq(0L, 268435455L, 1L << 40, -7L).map(Long.box),
    Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L).map(Long.box),
    Seq(Long.box(123456789L)),
    Seq[java.lang.Long](null, null))

  private val otherArrs: Seq[Seq[java.lang.Long]] = Seq(
    Seq(Long.box(1L)),
    Seq(Long.box(1L)),
    Seq(1L, 9L, 10L, 40L, 41L, 77L).map(Long.box),
    Seq(9L, 10L).map(Long.box),
    null,
    Seq(1L, 2L, 3L, 4L, 6L, 12L, 14L, 20L).map(Long.box),
    Seq(),
    Seq(Long.box(5L)))

  private val vecs: Seq[Seq[java.lang.Double]] = Seq(
    null,
    Seq(),
    Seq(0.5, -1.25, 2.0).map(Double.box),
    Seq[java.lang.Double](1.0, null, 3.0),
    Seq(1.0, 2.0).map(Double.box),
    Seq(-0.1, 0.2, -0.3).map(Double.box),
    Seq(1e-3, 1e3, -7.5).map(Double.box),
    Seq(0.0, 0.0, 0.0).map(Double.box))

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("raw", BinaryType),
    StructField("a", ArrayType(LongType)),
    StructField("b", ArrayType(LongType)),
    StructField("v", ArrayType(DoubleType)),
    StructField("w", ArrayType(DoubleType)),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("s", IntegerType), StructField("e", IntegerType))))),
    StructField("na", LongType),
    StructField("nb", LongType),
    StructField("d", DoubleType),
    StructField("wpl", IntegerType)))

  private def rows: Seq[Row] = docs.indices.map { i =>
    val spans: Seq[Row] = i % 4 match {
      case 0 => null
      case 1 => Seq()
      case 2 => Seq(Row(2, 4), Row(0, 1))
      case _ => Seq(Row(1, 3))
    }
    Row(i.toLong, docs(i), longArrs(i), otherArrs(i), vecs(i),
      vecs((i + 3) % vecs.size), spans,
      if (i == 0) null else Long.box(3L + i),
      Long.box(2L + (i % 3)), Double.box(0.125 * (i % 5)),
      if (i == 1) null else Int.box(1 + i % 3))
  }

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-evalmodes")

  /** The parquet-backed input: `s` is `raw` cast to string (bytes as-is,
    * so the invalid UTF-8 row stays invalid), `f` is `v` as float[] and
    * `vi` is `b` as int[] (the other element types the vector kernels
    * read), `toks` is the token array CutSpans cuts. */
  private lazy val input: DataFrame = {
    val path = dir.resolve("in.parquet").toString
    spark.createDataFrame(rows.asJava, schema)
      .withColumn("s", col("raw").cast("string"))
      .withColumn("f", col("v").cast("array<float>"))
      .withColumn("vi", col("b").cast("array<int>"))
      .withColumn("toks", WsTokens(col("s")))
      .write.parquet(path)
    spark.read.parquet(path)
  }

  override def afterAll(): Unit =
    try scala.util.Using.resource(java.nio.file.Files.walk(dir)) {
      _.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    } finally super.afterAll()

  private def kernels: Seq[(String, Column)] = {
    val s = col("s")
    Seq(
      "ShaPrefixLong7" -> ShaPrefixLong(s, 7),
      "ShaPrefixLong15" -> ShaPrefixLong(s, 15),
      "HashedShingles1" -> HashedShingles(s, 1),
      "HashedShingles2" -> HashedShingles(s, 2, 15),
      "ShingleStrings2" -> ShingleStrings(s, 2),
      "ShingleStringsDrop" -> ShingleStrings(s, 1, dropEmpty = true),
      "WsTokens" -> WsTokens(s),
      "HashedBucketCounts" -> HashedBucketCounts(s, 16),
      "TokenSetHits" -> TokenSetHits(s, TextAnalysis.qualityStopwords),
      "LangBest" -> LangBest(s, TextAnalysis.langMarkers),
      "PunctCharCount" -> PunctCharCount(s),
      "RegexTokenCount" -> RegexTokenCount(s),
      "PolyHashFoldP" -> PolyHashFold(col("a"), 31L, Hashing.P),
      "PolyHashFoldMod" -> PolyHashFold(col("a"), 1L << 21, 1000003L),
      "GopherCounts" -> GopherCounts(s, TextAnalysis.gopherStopwords),
      "C4Counts" -> C4Counts(s),
      "C4KeptText" -> C4KeptText(s),
      "WordWrap" -> WordWrap(s, col("wpl")),
      "VecDot" -> VecDot(col("v"), col("w")),
      "VecSqDist" -> VecSqDist(col("v"), col("w")),
      "VecDotMixed" -> VecDot(col("vi"), col("f")),
      "HyperplaneBucketD" -> HyperplaneBucket(col("v"), 8, 3, 0),
      "HyperplaneBucketF" -> HyperplaneBucket(col("f"), 8, 3, 1),
      "MinHashOverHashed" -> MinHashOverHashed(col("a"), 4),
      "SimHashOverHashed" -> SimHashOverHashed(col("a"), 16),
      "BpeCounts" -> BpeCounts(s, TextAnalysis.bpeMerges),
      "CutSpans" -> CutSpans(col("toks"), col("spans")),
      "SortedLongIntersectCount" -> SortedLongIntersectCount(col("a"), col("b")),
      "KsExactPValue" -> KsExactPValue(col("na"), col("nb"), col("d")))
  }

  /** Rows of every kernel column, by id, under one evaluation mode, and
    * whether the executed plan had a whole-stage-codegen span. */
  private def evaluate(compiled: Boolean): (Seq[Row], Boolean) = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), compiled.toString)
    spark.conf.set(keys(1), if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN")
    try {
      val df = input.select(col("id") +: kernels.map { case (n, c) => c.as(n) }: _*)
      val out = df.collect().sortBy(_.getLong(0)).toSeq
      val wscg = df.queryExecution.executedPlan.collectFirst {
        case w: WholeStageCodegenExec => w
      }.nonEmpty
      (out, wscg)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the invalid UTF-8 document reaches the kernels as written") {
    val got = input.select(col("id"), col("s").cast("binary"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    docs.indices.foreach { i =>
      if (docs(i) == null) assert(got(i.toLong) == null)
      else assert(got(i.toLong).toSeq == docs(i).toSeq, s"doc $i")
    }
  }

  test("every kernel gives the same rows compiled and interpreted") {
    val (compiled, wscg) = evaluate(compiled = true)
    val (interpreted, noWscg) = evaluate(compiled = false)
    assert(wscg, "the compiled run had no whole-stage-codegen span")
    assert(!noWscg, "the interpreted run had a whole-stage-codegen span")
    assert(compiled.size == docs.size && interpreted.size == docs.size)
    val names = "id" +: kernels.map(_._1)
    compiled.zip(interpreted).foreach { case (c, i) =>
      names.indices.foreach { k =>
        assert(c.get(k) == i.get(k),
          s"${names(k)} differs on row ${c.getLong(0)}: " +
            s"compiled ${c.get(k)} vs interpreted ${i.get(k)}")
      }
    }
  }
}
