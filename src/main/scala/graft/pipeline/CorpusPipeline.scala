package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Training-data corpus preparation: the composed dedup + quality + text
  * analysis flow a large-scale pipeline runs over raw documents —
  * exact-dup removal, near-dup removal via MinHash LSH candidates +
  * Jaccard verification, quality filtering, language ID and token
  * accounting. Each stage is one of the engine's operators; the
  * composition is pure DataFrame transformations end to end.
  */
object CorpusPipeline {

  /** Drop exact duplicates (keep the minimum id per identical text). */
  private[graft] def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = Dedup.exactDups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Drop near-duplicates: banded-LSH candidates, verified with exact
    * n-gram Jaccard >= `minJaccard`; of each verified pair the larger id
    * is removed. Pairwise work only on LSH candidates, never all pairs.
    * Built on the FUSED [[Dedup.lshVerifiedPairs]] (one shingle+SHA pass
    * feeds both the signature and the verify sets) — the separate
    * signature/candidates/verify composition hashed the corpus three
    * times AND re-evaluated the unpersisted signature on both sides of
    * the band self-join, the dominant term in the measured 93 s
    * near-dedup stage at sf10g. Output pairs (and therefore the kept
    * corpus) are identical. */
  private[graft] def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, numHashes: Int, rowsPerBand: Int,
                   minJaccard: Double): DataFrame = {
    val verified = Dedup.lshVerifiedPairs(docs, idCol, textCol, shingleK,
      numHashes, rowsPerBand, minJaccard)
    val dupIds = verified.select(col("id_b").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Quality gate + analysis columns: keeps docs with quality_score >=
    * `minQuality`, attaches pred_lang / token counts / fingerprint. */
  private def analyze(docs: DataFrame, textCol: String, minQuality: Double): DataFrame =
    TextAnalysis.tokenCounts(
        TextAnalysis.qualityColumns(docs, textCol), textCol)
      .withColumn("pred_lang", TextAnalysis.langId(col(textCol)))
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .filter(col("quality_score") >= minQuality)

  /** The shared dedup + quality gate of [[prepare]]/[[prepareKeeping]]:
    * exact dedup -> near dedup (K=3, 6 hashes, 2 bands of 3, J>=0.7) ->
    * quality_score >= 30. One set of knobs so the two forms can never
    * gate different corpora. */
  private def gatedCorpus(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    dropNearDups(
      dropExactDups(docs, idCol, textCol),
      idCol, textCol, shingleK = 3, numHashes = 6, rowsPerBand = 3,
      minJaccard = 0.7)

  /** Full corpus prep: exact dedup -> near dedup -> quality/analysis.
    * MATERIALIZED (eager localCheckpoint): every downstream consumer of
    * the prepared corpus (mixture pass, chunk build, chunk-dedup probe)
    * would otherwise replay this whole chain per consumer — the measured
    * e2e composition at sf10g ran prepare ~3x, 152 s each (486 s total,
    * ratio2 20.4). Production at 100 TB writes each stage's output to a
    * table for exactly this reason; the checkpoint is the single-JVM
    * form of that stage boundary, and the frame is corpus-shaped (one
    * row per surviving doc, no token arrays). */
  def prepare(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    analyze(gatedCorpus(docs, idCol, textCol), textCol, minQuality = 30.0)
      .localCheckpoint(true)

  /** [[prepare]] trimmed to the columns the caller actually consumes:
    * the same dedup + quality GATE (row set identical to [[prepare]]'s
    * by construction — the gate reads only quality_score), but the
    * analysis kernels whose outputs the caller drops (token counts,
    * langId, fingerprint — each a full tokenize pass per doc) are never
    * computed, and the checkpointed frame carries `keep` only instead
    * of the full analysis row (guide §1.2 "don't compute things you
    * throw away"; §5 — materialized intermediates should carry the
    * columns consumed, not the widest row). e2e_corpus_assembly reads
    * just (id, text, group) downstream of the boundary. */
  def prepareKeeping(docs: DataFrame, idCol: String, textCol: String,
                     keep: Seq[String]): DataFrame =
    TextAnalysis.qualityColumns(gatedCorpus(docs, idCol, textCol), textCol)
      .filter(col("quality_score") >= 30.0)
      .select(keep.map(col): _*)
      .localCheckpoint(true)

  /** Training-set assembly over a prepared corpus: token-budget mixture
    * across `groupCol` (language/source weights), then overlapping
    * context-window chunking, then chunk-level exact dedup by chunk SHA
    * (consecutive chunks of near-identical surviving docs collapse here).
    * Returns one row per training chunk:
    * (idCol, groupCol, chunk_id, start_tok, n_chunk_tokens, chunk_sha). */
  def assembleTraining(prepared: DataFrame, idCol: String, textCol: String,
                       groupCol: String, weights: Map[String, Double],
                       frac: Double, chunkTokens: Int,
                       overlapTokens: Int): DataFrame = {
    // one mixture pass, materialized: its (id, group) output gates the
    // chunk input AND attaches the group at the end — without the
    // checkpoint both uses would replay the tokenize+window lineage
    val mixKeys = TextAnalysis.mixtureSample(prepared, idCol, textCol,
        groupCol, weights, frac)
      .select(col(idCol), col(groupCol)).localCheckpoint(true)
    val sampled = prepared.join(mixKeys.select(idCol), Seq(idCol), "left_semi")
    // materialized: consumed TWICE below (the keep-aggregate and the
    // semi-join probe) — and the frame ships hashes, not token arrays,
    // so the checkpoint is ~50 bytes per chunk
    val chunks = TextAnalysis.chunkDocuments(sampled, idCol, textCol,
      chunkTokens, overlapTokens).localCheckpoint(true)
    // chunk-level exact dedup: keep the (min doc, min chunk) owner of
    // each distinct chunk text — one hash-shuffle on the SHA key
    val keep = chunks.groupBy("chunk_sha")
      .agg(min(struct(col(idCol), col("chunk_id"))).as("k"))
      .select(col("k").getField(idCol).as(idCol),
        col("k.chunk_id").as("chunk_id"))
    chunks.join(keep, Seq(idCol, "chunk_id"), "left_semi")
      .join(mixKeys, Seq(idCol), "left")
  }
}
