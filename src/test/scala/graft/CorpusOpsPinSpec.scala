package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, TextAnalysis}

/** Exact-row pins for the corpus operators whose plans were once forked
  * for scale (SHA-prefix buckets, two-phase caps, vocabulary-size attach
  * choices, salt factors). Each case runs one operator on the sf0.001
  * documents and compares its rows, rendered as CSV and sorted, with
  * `src/test/resources/corpus_ops/<case>.csv`. The files were taken from
  * the forked plans, so any rewrite of these operators must reproduce them
  * row for row. The six Hamming near-dup queries (SimHash pairs and
  * clusters, image, audio and video near-dup, cross-modal dedup) are
  * pinned the same way through [[SparkEntry.queries]]: their DuckDB oracle
  * runs outside tier-1, so these are tier-1's exact-row check of them. */
class CorpusOpsPinSpec extends SparkTestBase {
  import CorpusOpsPinSpec._

  for ((name, build) <- cases) test(s"$name matches its pinned rows") {
    val want = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/corpus_ops/$name.csv"), "UTF-8")
    val expected = try want.getLines().toIndexedSeq finally want.close()
    val got = csv(build(TestSpark.spark))
    assert(got.head === expected.head, s"$name: columns differ")
    assert(got.size === expected.size, s"$name: row count differs")
    val diff = got.tail.diff(expected.tail)
    assert(diff.isEmpty, s"$name: ${diff.size} rows differ, e.g. ${diff.take(3)}")
  }
}

object CorpusOpsPinSpec {
  private val sf = "/root/testdata/sf0.001"

  private def docs(s: org.apache.spark.sql.SparkSession): DataFrame =
    Tables.documents(s, sf)

  private type Build = org.apache.spark.sql.SparkSession => DataFrame

  val cases: Seq[(String, Build)] = Seq[(String, Build)](
    "stratified_sample" -> (s =>
      TextAnalysis.stratifiedSample(docs(s), "doc_id", "lang", 0.25).drop("text")),
    "pack_into_shards" -> (s =>
      TextAnalysis.packIntoShards(docs(s), "doc_id", "text", "lang", 2000L)
        .select("doc_id", "lang", "n_tokens", "shard_id")),
    "mixture_sample" -> (s =>
      TextAnalysis.mixtureSample(docs(s), "doc_id", "text", "lang",
        Map("en" -> 0.4, "zh" -> 0.2, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.1),
        0.5)),
    "cap_per_group" -> (s =>
      Dedup.capPerGroup(TextAnalysis.qualityColumns(docs(s), "text"), "source",
          "doc_id", Seq(col("quality_score").desc), n = 3)
        .select("doc_id", "source", "quality_score", "grp_rank")),
    "tfidf_top_k" -> (s => TextAnalysis.tfIdfTopK(docs(s), "doc_id", "text", 5)),
    "unigram_log_prob" -> (s =>
      TextAnalysis.unigramLogProb(docs(s), "doc_id", "text")),
    "unigram_cross_score" -> (s =>
      TextAnalysis.unigramCrossScore(docs(s).filter(col("doc_id") % 2 === 0),
        docs(s), "doc_id", "text")),
    "bigram_cross_score" -> (s =>
      TextAnalysis.bigramCrossScore(docs(s).filter(col("doc_id") % 2 === 0),
        docs(s), "doc_id", "text")),
    "banded_jaccard_quality" -> (s =>
      Dedup.bandedJaccardQuality(docs(s), "doc_id", "text", 2, 2, 0.05)),
    "containment_pairs" -> (s =>
      Dedup.containmentPairs(docs(s).withColumn("__all", lit(0)), "doc_id",
        "text", "__all", 3, 0.5))) ++
    Seq("dd10_simhash_dups", "dd14_simhash_corpus", "mm9_image_near_dup",
      "mm11_audio_near_dup", "mm12_video_near_dup", "mm10_crossmodal_dedup")
      .map(q => q -> ((s => SparkEntry.queries(q)(s, sf)): Build))

  /** Header line, then one line per row, sorted; fields holding a comma,
    * quote or line break are quoted, nulls are empty. */
  def csv(df: DataFrame): IndexedSeq[String] = {
    def field(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(",\"\n\r".contains(_)) =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case x => x.toString
    }
    df.columns.mkString(",") +:
      df.collect().map(_.toSeq.map(field).mkString(",")).sorted.toIndexedSeq
  }
}
