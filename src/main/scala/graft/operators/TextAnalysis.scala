package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.functions.Hashing

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, document fingerprinting.
  * All are pure column expressions (whole-stage codegen, no UDFs) and all
  * have an exact DuckDB-SQL twin generated from the same constants, so the
  * oracle re-computes them bit-for-bit.
  */
object TextAnalysis {

  /** Tokenize: lowercase, split on whitespace — the fused
    * [[graft.functions.WsTokens]] kernel, value-identical (spec-pinned,
    * null included) to `split(lower(text), "\\s+")`, minus the built-in
    * StringSplit's per-row Pattern.compile + UTF-16 round trip. */
  def tokens(text: Column): Column = graft.functions.WsTokens(text)

  /** Per-language marker-word lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — the operator's value is its shape
    * (portable scoring + argmax with deterministic tie-break), not lexical
    * coverage. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "mit", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "en", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"))

  /** Language-ID: count token hits per marker list; predict the argmax
    * language, ties broken alphabetically (score DESC, lang ASC).
    * Fused kernel ([[graft.functions.LangBest]]): one tokenization +
    * hash-set membership per language — value-identical
    * (HashingSpec-pinned) to the composable per-language
    * `size(filter(tk, array_contains))` scores folded through the
    * argmax, which ran interpreted at tokens x languages x |marker list|
    * steps per document. */
  def langId(text: Column): Column =
    graft.functions.LangBest(text, langMarkers)

  /** DuckDB twin of [[langId]] over SQL expression `expr`. */
  def langIdSql(expr: String): String = {
    val tk = s"string_split_regex(lower($expr), '\\s+')"
    val scores = langMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"(len(list_filter($tk, t -> list_contains($list, t))), '$lang')"
    }
    // list_min on (score DESC, lang ASC): use (-score, lang) tuples, min.
    val tuples = langMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"(-len(list_filter($tk, t -> list_contains($list, t))), '$lang')"
    }.mkString("[", ", ", "]")
    s"(list_min($tuples))[2]"
  }

  /** English stopword list for the quality score's stopword ratio. */
  private[graft] val qualityStopwords: Seq[String] = langMarkers.toMap.apply("en")

  /** Quality scoring: doc length, word count, mean word length, punctuation
    * ratio, stopword ratio, and a composite quality score in [0, 100].
    * Mirrors the reference's clipped-ratio style (A1/F9). */
  def qualityColumns(df: DataFrame, textCol: String): DataFrame = {
    // two-step: materialize the scalar ingredients once — inlining the
    // token array into every output column would re-tokenize (and re-run
    // the stopword filter) once per column, since CollapseProject refuses
    // to merge only CHEAP expressions referenced more than once
    val t = col(textCol)
    val tk = tokens(t)
    val staged = df
      .withColumn("__q_nw", size(tk))
      .withColumn("__q_nc", length(t))
      // fused code-point counter — value-identical to
      // nc - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", "")), whose
      // regex walk REBUILT every document just to count removals (the
      // dominant cost of this pass measured at depth)
      .withColumn("__q_punct", graft.functions.PunctCharCount(t))
      // fused tokenize+membership count (null-intolerant like
      // size(filter(null, ...)) -> null)
      .withColumn("__q_stops",
        graft.functions.TokenSetHits(t, qualityStopwords))
    // raw (unrounded) ratios feed the composite; only outputs are rounded —
    // the oracle must round in the same places, not earlier.
    val nWords = col("__q_nw")
    val punctRatio = col("__q_punct").cast("double") / col("__q_nc")
    val stopRatio = col("__q_stops").cast("double") / nWords
    staged
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len", round(col("__q_nc").cast("double") / nWords, 6))
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("stopword_ratio", round(stopRatio, 6))
      .withColumn("quality_score", round(
        least(greatest(
          lit(50.0)
            + least(nWords.cast("double") / lit(4.0), lit(25.0))
            + stopRatio * 100.0
            - punctRatio * 200.0,
          lit(0.0)), lit(100.0)), 6))
      .drop("__q_nw", "__q_nc", "__q_punct", "__q_stops")
  }

  /** DuckDB twins for [[qualityColumns]] (select-list fragments). */
  def qualitySql(textExpr: String): Map[String, String] = {
    val tk = s"string_split_regex(lower($textExpr), '\\s+')"
    val stops = qualityStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val nWords = s"len($tk)"
    val punct = s"(length($textExpr) - length(regexp_replace($textExpr, '[^a-zA-Z0-9\\s]', '', 'g')))"
    Map(
      "n_words" -> nWords,
      "mean_word_len" -> s"round(length($textExpr) / CAST($nWords AS DOUBLE), 6)",
      "punct_ratio" -> s"round($punct / CAST(length($textExpr) AS DOUBLE), 6)",
      "stopword_ratio" -> s"round(len(list_filter($tk, x -> list_contains($stops, x))) / CAST($nWords AS DOUBLE), 6)",
      "quality_score" -> (s"round(least(greatest(50.0 + least($nWords / 4.0, 25.0)" +
        s" + (len(list_filter($tk, x -> list_contains($stops, x))) / CAST($nWords AS DOUBLE)) * 100.0" +
        s" - ($punct / CAST(length($textExpr) AS DOUBLE)) * 200.0, 0.0), 100.0), 6)"))
  }

  /** The eight Gopher repetition-gate stop words (Rae et al. 2021,
    * table A1): a document must contain at least two of them as
    * whitespace tokens to pass rule 7. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** t31 — the published Gopher quality-rule audit (Rae et al. 2021
    * table A1; the same rule set Dolma and FineWeb reuse): per-document
    * boolean flags for each rule plus the overall keep decision — the
    * pass/fail governance frame, complementing [[qualityColumns]]'s
    * composite score. Published thresholds:
    *   r1  50 <= word count <= 100,000
    *   r2  mean word length in [3, 10]
    *   r3  hash-symbol and ellipsis ("...") to-word ratios both <= 0.1
    *   r4  <= 90% of lines start with a bullet ("•", "-", "*")
    *   r5  <= 30% of lines end with "..."
    *   r6  >= 80% of words contain an alphabetic character
    *   r7  at least 2 distinct [[gopherStopwords]] appear as tokens
    * Flags are derived from the ROUNDED ratios (round 6), so the DuckDB
    * twin makes identical boundary decisions. Pure per-row column
    * expressions — at 100 TB this is a map-only pass, no shuffle. */
  /** The nine per-document counts behind [[gopherRules]], as (name ->
    * expression) pairs over the text column — shared by the audit-form
    * flag frame and [[gopherStructuralFilter]] so both forms make
    * bit-identical boundary decisions. */
  private def gopherCounts(t: Column): Seq[(String, Column)] = {
    // one fused scan ([[graft.functions.GopherCounts]], codegen) —
    // RuleKernelsSpec pins every field value-identical to the composable
    // split/filter/aggregate/rlike forms these names used to carry; the
    // 9 extractions below collapse to ONE kernel call per row via
    // ProjectExec's subexpression elimination (callers stage through a
    // select)
    val g = graft.functions.GopherCounts(t, gopherStopwords)
    Seq("__g_nw", "__g_wchars", "__g_alpha", "__g_nl", "__g_bul",
      "__g_elll", "__g_hash", "__g_ell", "__g_stops")
      .map(n => n -> g.getField(n.stripPrefix("__g_")))
  }

  private def gopherRatio(num: Column, den: Column): Column =
    round(when(den === 0, 0.0).otherwise(num.cast("double") / den), 6)

  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // stage the counts once (CollapseProject would re-split per column)
    val staged = df.select(
      col(idCol) +: gopherCounts(t).map { case (n, c) => c.as(n) }: _*)
    val nw = col("__g_nw")
    val nl = col("__g_nl")
    def ratio(num: Column, den: Column): Column = gopherRatio(num, den)
    val out = staged
      .withColumn("n_words", nw)
      .withColumn("mean_word_len", ratio(col("__g_wchars"), nw))
      .withColumn("hash_ratio", ratio(col("__g_hash"), nw))
      .withColumn("ellipsis_ratio", ratio(col("__g_ell"), nw))
      .withColumn("frac_bullet_lines", ratio(col("__g_bul"), nl))
      .withColumn("frac_ellipsis_lines", ratio(col("__g_elll"), nl))
      .withColumn("frac_alpha_words", ratio(col("__g_alpha"), nw))
      .withColumn("n_stop_words", col("__g_stops"))
    out
      .withColumn("r1_word_count", nw.between(50L, 100000L))
      .withColumn("r2_mean_word_len", col("mean_word_len").between(3.0, 10.0))
      .withColumn("r3_symbol_ratio",
        col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1)
      .withColumn("r4_bullet_lines", col("frac_bullet_lines") <= 0.9)
      .withColumn("r5_ellipsis_lines", col("frac_ellipsis_lines") <= 0.3)
      .withColumn("r6_alpha_words", col("frac_alpha_words") >= 0.8)
      .withColumn("r7_stop_words", col("n_stop_words") >= 2L)
      .withColumn("keep",
        col("r1_word_count") && col("r2_mean_word_len") &&
          col("r3_symbol_ratio") && col("r4_bullet_lines") &&
          col("r5_ellipsis_lines") && col("r6_alpha_words") &&
          col("r7_stop_words"))
      .drop("__g_nw", "__g_wchars", "__g_alpha", "__g_nl", "__g_bul",
        "__g_elll", "__g_hash", "__g_ell", "__g_stops")
  }

  /** The six language-agnostic Gopher rules (r1-r6) as a map-only FILTER
    * that preserves every input column — the shape an at-scale
    * composition wants for its quality gate: no flag-frame self-join,
    * no shuffle, the gate rides the corpus scan. r7 (English stop-word
    * presence) is deliberately NOT applied here: on a multilingual
    * corpus the stop-word rule runs with a per-language word list (the
    * Gopher-lineage adaptation for non-English shards); the full
    * audit-form flags — r7 included — remain on [[gopherRules]].
    * Boundary decisions are bit-identical to the flag frame: same
    * staged counts, same round-6 ratios. */
  def gopherStructuralFilter(df: DataFrame, textCol: String): DataFrame =
    // the whole gate is the kernel's precomputed keep6 field: ONE fused
    // scan per row inside the filter (FilterExec does no subexpression
    // elimination, so a conjunction over 8 staged fields would re-run
    // the kernel per field). keep6's round-6 boundary decisions are
    // RuleKernelsSpec-pinned to the composable ratio conjunction, and
    // the flag-frame equivalence test below pins the filter == the
    // audit's r1-r6 flags.
    df.filter(graft.functions.GopherCounts(col(textCol), gopherStopwords)
      .getField("keep6") === 1L)

  /** DuckDB twin of [[gopherRules]] over table/CTE `from`. */
  def gopherRulesSql(idCol: String, textExpr: String,
                     from: String = "documents"): String = {
    val stops = gopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT $idCol,
       |    CAST(len(list_filter(string_split_regex($textExpr, '\\s+'), w -> w <> '')) AS BIGINT) AS nw,
       |    CAST(coalesce(list_sum(list_transform(list_filter(string_split_regex($textExpr, '\\s+'), w -> w <> ''), w -> length(w))), 0) AS BIGINT) AS wchars,
       |    CAST(len(list_filter(list_filter(string_split_regex($textExpr, '\\s+'), w -> w <> ''), w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha,
       |    CAST(len(list_filter(string_split($textExpr, chr(10)), l -> l <> '')) AS BIGINT) AS nl,
       |    CAST(len(list_filter(list_filter(string_split($textExpr, chr(10)), l -> l <> ''), l -> regexp_matches(l, '^\\s*[•\\-\\*]'))) AS BIGINT) AS bul,
       |    CAST(len(list_filter(list_filter(string_split($textExpr, chr(10)), l -> l <> ''), l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS BIGINT) AS elll,
       |    CAST(length($textExpr) - length(regexp_replace($textExpr, '#', '', 'g')) AS BIGINT) AS hash,
       |    CAST((length($textExpr) - length(regexp_replace($textExpr, '\\.\\.\\.', '', 'g'))) / 3 AS BIGINT) AS ell,
       |    CAST(len(list_intersect(list_distinct(string_split_regex(lower($textExpr), '\\s+')), $stops)) AS BIGINT) AS stops
       |  FROM $from),
       |r AS (
       |  SELECT $idCol, nw AS n_words,
       |    round(CASE WHEN nw = 0 THEN 0.0 ELSE wchars / CAST(nw AS DOUBLE) END, 6) AS mean_word_len,
       |    round(CASE WHEN nw = 0 THEN 0.0 ELSE hash / CAST(nw AS DOUBLE) END, 6) AS hash_ratio,
       |    round(CASE WHEN nw = 0 THEN 0.0 ELSE ell / CAST(nw AS DOUBLE) END, 6) AS ellipsis_ratio,
       |    round(CASE WHEN nl = 0 THEN 0.0 ELSE bul / CAST(nl AS DOUBLE) END, 6) AS frac_bullet_lines,
       |    round(CASE WHEN nl = 0 THEN 0.0 ELSE elll / CAST(nl AS DOUBLE) END, 6) AS frac_ellipsis_lines,
       |    round(CASE WHEN nw = 0 THEN 0.0 ELSE alpha / CAST(nw AS DOUBLE) END, 6) AS frac_alpha_words,
       |    stops AS n_stop_words
       |  FROM g)
       |SELECT $idCol, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
       |  frac_bullet_lines, frac_ellipsis_lines, frac_alpha_words, n_stop_words,
       |  (n_words BETWEEN 50 AND 100000) AS r1_word_count,
       |  (mean_word_len BETWEEN 3.0 AND 10.0) AS r2_mean_word_len,
       |  (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1) AS r3_symbol_ratio,
       |  (frac_bullet_lines <= 0.9) AS r4_bullet_lines,
       |  (frac_ellipsis_lines <= 0.3) AS r5_ellipsis_lines,
       |  (frac_alpha_words >= 0.8) AS r6_alpha_words,
       |  (n_stop_words >= 2) AS r7_stop_words,
       |  ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
       |    AND (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)
       |    AND (frac_bullet_lines <= 0.9) AND (frac_ellipsis_lines <= 0.3)
       |    AND (frac_alpha_words >= 0.8) AND (n_stop_words >= 2)) AS keep
       |FROM r""".stripMargin
  }

  /** The non-empty lines of `t`, then those surviving C4's line-level
    * filter (ends in terminal punctuation, >= 5 whitespace words, no
    * "javascript" mention) — shared by the audit counts, the flag frame
    * and [[c4StructuralClean]] so all three make bit-identical line
    * decisions. */
  /** The five per-document counts behind [[c4Rules]], as (name ->
    * expression) pairs over the text column — one fused scan
    * ([[graft.functions.C4Counts]], codegen). A "kept" line is C4's
    * line-level filter: ends in terminal punctuation, has at least five
    * whitespace words, and does not mention "javascript".
    * RuleKernelsSpec pins every field value-identical to the composable
    * split/filter/rlike forms these names used to carry (the twin is
    * restated there). */
  private def c4Counts(t: Column): Seq[(String, Column)] = {
    val c = graft.functions.C4Counts(t)
    Seq("__c_nl" -> c.getField("nl"), "__c_kept" -> c.getField("kept"),
      "__c_sent" -> c.getField("sent"), "__c_lorem" -> c.getField("lorem"),
      "__c_brace" -> c.getField("brace"))
  }

  /** t32 — the published C4 cleaning-rule audit (Raffel et al. 2020,
    * §2.2 — the web-corpus heuristics the T5 training set was built
    * with; the Gopher/Dolma lineage reuses the same shapes): per-document
    * line-filter statistics plus boolean flags for each page-level rule
    * and the overall keep decision. Published rules, page level:
    *   r1  at least 3 sentences (terminal-punctuation-delimited)
    *   r2  no "lorem ipsum" phrase (placeholder-text marker)
    *   r3  no curly brace (code marker)
    *   r4  at least one line survives C4's line filter (ends in terminal
    *       punctuation, >= 5 words, no "javascript" mention)
    * The published blocklist rule ("List of Dirty, Naughty ..." word
    * ban) is corpus-policy-supplied, not reproduced here — a deployment
    * passes its own list as one more lowercase-contains flag.
    * `frac_lines_kept` is a round(6) ratio so the DuckDB twin makes
    * identical boundary decisions. Pure per-row column expressions — at
    * 100 TB this is a map-only pass riding the corpus scan, no shuffle
    * (PlanSpec-pinned like t31). */
  def c4Rules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // stage the counts once (CollapseProject would re-split per column)
    val staged = df.select(
      col(idCol) +: c4Counts(col(textCol)).map { case (n, c) => c.as(n) }: _*)
    val nl = col("__c_nl")
    staged
      .withColumn("n_lines", nl)
      .withColumn("n_lines_kept", col("__c_kept"))
      .withColumn("frac_lines_kept", gopherRatio(col("__c_kept"), nl))
      .withColumn("n_sentences", col("__c_sent"))
      .withColumn("r1_min_sentences", col("__c_sent") >= 3L)
      .withColumn("r2_no_lorem_ipsum", col("__c_lorem") === 0L)
      .withColumn("r3_no_curly_brace", col("__c_brace") === 0L)
      .withColumn("r4_has_kept_lines", col("__c_kept") >= 1L)
      .withColumn("keep",
        col("r1_min_sentences") && col("r2_no_lorem_ipsum") &&
          col("r3_no_curly_brace") && col("r4_has_kept_lines"))
      .drop("__c_nl", "__c_kept", "__c_sent", "__c_lorem", "__c_brace")
  }

  /** DuckDB twin of [[c4Rules]] over table/CTE `from`. */
  def c4RulesSql(idCol: String, textExpr: String,
                 from: String = "documents"): String = {
    val keptPred = s"trim(l) <> '' AND regexp_matches(l, '[.!?\"]\\s*$$') " +
      s"AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 5 " +
      s"AND NOT contains(lower(l), 'javascript')"
    s"""WITH c AS (
       |  SELECT $idCol,
       |    CAST(len(list_filter(string_split($textExpr, chr(10)), l -> trim(l) <> '')) AS BIGINT) AS nl,
       |    CAST(len(list_filter(string_split($textExpr, chr(10)), l -> $keptPred)) AS BIGINT) AS kept,
       |    CAST(len(list_filter(string_split_regex($textExpr, '[.!?]'), s -> trim(s) <> '')) AS BIGINT) AS sent,
       |    contains(lower($textExpr), 'lorem ipsum') AS lorem,
       |    contains($textExpr, '{') AS brace
       |  FROM $from)
       |SELECT $idCol, nl AS n_lines, kept AS n_lines_kept,
       |  round(CASE WHEN nl = 0 THEN 0.0 ELSE kept / CAST(nl AS DOUBLE) END, 6) AS frac_lines_kept,
       |  sent AS n_sentences,
       |  (sent >= 3) AS r1_min_sentences,
       |  (NOT lorem) AS r2_no_lorem_ipsum,
       |  (NOT brace) AS r3_no_curly_brace,
       |  (kept >= 1) AS r4_has_kept_lines,
       |  ((sent >= 3) AND (NOT lorem) AND (NOT brace) AND (kept >= 1)) AS keep
       |FROM c""".stripMargin
  }

  /** C4's cleaning rules in COMPOSITION form — the page gate plus the
    * line-level rewrite a C4-lineage pipeline actually applies (Raffel
    * et al. 2020 §2.2): pages failing the page rules are dropped, and a
    * surviving page's text is rebuilt from only the lines that pass the
    * line filter (joined back with newlines, original line content
    * preserved).
    *
    * Semantics pinned to [[c4Rules]]: the gate keeps EXACTLY the pages
    * the audit form marks `keep = true` (same staged counts, page rules
    * evaluated on the RAW text — so e.g. a curly brace on a dropped line
    * still drops the page, matching the audit flags), and the rewrite
    * uses the same line predicate as the `n_lines_kept` count
    * (the shared C4Lines predicate). r4 (>= 1 kept line) guarantees `cleanCol` is
    * never empty on a survivor.
    *
    * Scale shape: map-only — the gate and the rewrite ride the corpus
    * scan, no flag-frame self-join, no shuffle (the t31/t32 discipline).
    */
  def c4StructuralClean(df: DataFrame, textCol: String,
                        cleanCol: String = "clean_text"): DataFrame =
    // gate = the kernel's precomputed keep field (one fused scan in the
    // filter — the keep6 rationale in [[graft.functions.GopherCounts]]);
    // the line-clean rewrite is the fused [[graft.functions.C4KeptText]],
    // evaluated only on survivors (Project above Filter)
    df.filter(graft.functions.C4Counts(col(textCol)).getField("keep") === 1L)
      .withColumn(cleanCol, graft.functions.C4KeptText(col(textCol)))

  /** DuckDB twin of [[c4StructuralClean]] over table/CTE `from`:
    * projects every column of `from` plus `clean_text`. */
  def c4CleanSql(textExpr: String, from: String = "documents"): String = {
    val keptPred = s"trim(l) <> '' AND regexp_matches(l, '[.!?\"]\\s*$$') " +
      s"AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 5 " +
      s"AND NOT contains(lower(l), 'javascript')"
    s"""SELECT *,
       |  array_to_string(list_filter(string_split($textExpr, chr(10)),
       |    l -> $keptPred), chr(10)) AS clean_text
       |FROM $from
       |WHERE len(list_filter(string_split_regex($textExpr, '[.!?]'), s -> trim(s) <> '')) >= 3
       |  AND NOT contains(lower($textExpr), 'lorem ipsum')
       |  AND NOT contains($textExpr, '{')
       |  AND len(list_filter(string_split($textExpr, chr(10)), l -> $keptPred)) >= 1""".stripMargin
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex token
    * count (letter runs / digit runs / single other non-space chars). */
  val tokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(tokens(col(textCol))).cast("long"))
      // fused run-state scan — value-identical to
      // size(regexp_extract_all(text, tokenRegex, 0)) without the regex
      // walk materializing every match
      .withColumn("re_tokens",
        graft.functions.RegexTokenCount(col(textCol)).cast("long"))

  /** Corpus document frequencies: distinct terms per document, counted
    * across the corpus. One explode (map-side) + one aggregation keyed by
    * term — high-cardinality key, so the shuffle distributes evenly at
    * any corpus size. */
  private def documentFrequencies(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Top-k salient terms per document by smoothed TF-IDF
    * (idf = ln((N+1)/(df+1)) + 1, sklearn's smooth_idf form; score =
    * raw term count × idf).
    *
    * Scale shape: term counts are one aggregation on (doc, term); the IDF
    * table is vocabulary-sized — bounded by the language, not the corpus —
    * so it re-attaches with an explicit broadcast join (no shuffle of the
    * term-count side); top-k is one window partitioned by doc. N is a
    * driver scalar (single count — the A13/class-weight two-phase
    * pattern), not a per-row subquery. Ties rank by term for determinism.
    * Only the N count runs eagerly; the returned frame is lazy, and
    * PlanSpec asserts the broadcast-IDF join shape on it.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    // Two lazy branches over the corpus scan (term counts for the probe,
    // documentFrequencies for the broadcast IDF) beat persisting the
    // (doc, term) table: that intermediate is LARGER than the compressed
    // columnar scan it would save (measured 2x slower persisted at bench
    // scale). Parquet re-scan is the cheap side.
    scoreAndRank(termCounts(docs, idCol, textCol),
      broadcast(documentFrequencies(docs, idCol, textCol)), idCol,
      docs.count(), k)
  }

  private def termCounts(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))

  /** df stays an AGGREGATION on term (partial aggregation absorbs
    * stopword skew; a window over term would not), then re-attaches onto
    * the term counts through the caller's broadcast hint. */
  private def scoreAndRank(tf: DataFrame, idf: DataFrame, idCol: String,
                           n: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = tf.join(idf, "term")
      .withColumn("tfidf",
        graft.functions.Canon.round(
          col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
  }

  /** Unigram language-model quality score — the degenerate (but honest)
    * form of the ccnet-style LM filter an LLM data pipeline runs: score
    * each document by the mean log-probability of its tokens under the
    * corpus's own unigram distribution, add-one smoothed. Rare-garbage
    * documents score low; in-distribution text scores high.
    *
    * Scale shape: token counts are one aggregation on the term key; the
    * unigram table is vocabulary-sized and re-attaches onto the exploded
    * corpus through a broadcast hint; the per-doc mean is one aggregation
    * on the doc id. Smoothing keeps out-of-vocabulary tokens finite, so
    * the model table can also be FIT on a sample and APPLIED to the full
    * corpus.
    * Returns (id, n_tokens, avg_logp) with avg_logp = mean over tokens of
    * ln((count(token) + 1) / (total_tokens + vocab)), rounded; docs with
    * no tokens get null avg_logp. */
  def unigramLogProb(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val model = exploded.groupBy("term").agg(count(lit(1)).as("cnt"))
    // two scalars (total token count, vocabulary size) — the A13-style
    // two-phase pattern; both are single-row aggregates of the model.
    val totals = model.agg(sum("cnt"), count(lit(1))).head()
    val total = totals.getLong(0)
    val vocab = totals.getLong(1)
    val scored = exploded.join(broadcast(model), "term")
      .withColumn("logp",
        log((col("cnt") + 1.0) / lit(total.toDouble + vocab)))
    docs.select(col(idCol))
      .join(scored.groupBy(idCol)
          .agg(count(lit(1)).as("n_tokens"),
            graft.functions.Canon.round(avg(col("logp")), 6).as("avg_logp")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logp"))
  }

  /** Cross-fit unigram LM scoring — the full ccnet shape that
    * [[unigramLogProb]] degenerates (fit and score on the same corpus):
    * fit the add-one-smoothed unigram model on a TRUSTED reference
    * (wikipedia-quality text in production; any subset frame here) and
    * score every corpus document against it, including documents whose
    * tokens the reference never saw (out-of-vocabulary tokens take the
    * smoothed floor ln(1 / (total + vocab)) via a LEFT model attach +
    * count-0 coalesce — exactly what add-one smoothing is for).
    * Emits (id, n_tokens, avg_logp, ppl) with ppl = exp(−avg_logp), the
    * perplexity a quality threshold cuts on; both rounded. Token-less
    * docs get null avg_logp/ppl.
    *
    * Same scale shape as [[unigramLogProb]]: one aggregation on the term
    * key over the REFERENCE (usually orders of magnitude smaller than
    * the corpus), broadcast attach onto the exploded corpus, one
    * aggregation on the doc id. */
  def unigramCrossScore(refDocs: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val refTerms = refDocs
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val model = refTerms.groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = model.agg(sum("cnt"), count(lit(1))).head()
    // empty reference: degenerate but defined — every token is OOV with
    // floor ln(1/1) = 0 (total 0 + vocab 0 would divide by zero)
    val total = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val vocab = totals.getLong(1)
    val denom = math.max(total + vocab, 1L).toDouble
    val exploded = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val scored = exploded.join(broadcast(model), Seq("term"), "left")
      .withColumn("logp",
        log((coalesce(col("cnt"), lit(0L)) + 1.0) / lit(denom)))
    docs.select(col(idCol))
      .join(scored.groupBy(idCol)
          .agg(count(lit(1)).as("n_tokens"),
            graft.functions.Canon.round(avg(col("logp")), 6).as("avg_logp")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logp"),
        graft.functions.Canon.round(exp(-col("avg_logp")), 6).as("ppl"))
  }

  /** Bigram cross-LM scoring — [[unigramCrossScore]] upgraded one order:
    * P(w2 | w1) = (c(w1 w2) + 1) / (c1(w1) + V), add-one smoothed over
    * the reference's unigram vocabulary size V, with c1(w1) = w1's
    * occurrences as a bigram head. OOV heads take the 1/V floor. Bigrams
    * are the k=2 word shingles (shared helper with the dedup family), so
    * the oracle reuses the proven shingle SQL. The bigram and head tables
    * attach through broadcast hints, like t5/t8's vocabulary tables. */
  def bigramCrossScore(refDocs: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val refBi = refDocs.select(explode(Dedup.shingles(col(textCol), 2)).as("bi"))
    val model = refBi.groupBy("bi").agg(count(lit(1)).as("cbi"))
    val heads = refBi
      .select(element_at(split(col("bi"), " "), 1).as("head"))
      .groupBy("head").agg(count(lit(1)).as("c1"))
    // bounded driver scalar: the smoothing vocabulary V (the t14
    // empty-ref contract: vocab 0 floors the denominator at 1)
    val vocab = math.max(refDocs
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .agg(countDistinct("term")).head().getLong(0), 1L)
    val scored = docs
      .select(col(idCol), explode(Dedup.shingles(col(textCol), 2)).as("bi"))
      .withColumn("head", element_at(split(col("bi"), " "), 1))
      .join(broadcast(model), Seq("bi"), "left")
      .join(broadcast(heads), Seq("head"), "left")
      .withColumn("logp",
        log((coalesce(col("cbi"), lit(0L)) + 1.0) /
          (coalesce(col("c1"), lit(0L)) + lit(vocab))))
    docs.select(col(idCol))
      .join(scored.groupBy(idCol)
          .agg(count(lit(1)).as("n_bigrams"),
            graft.functions.Canon.round(avg(col("logp")), 6).as("avg_logp")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"),
        graft.functions.Canon.round(exp(-col("avg_logp")), 6).as("ppl"))
  }

  /** Fixed BPE merge table for [[bpeTokenCounts]] — the APPLY side of
    * byte-pair encoding (Sennrich et al. 2016): merges are applied in
    * priority order, each as a global leftmost non-overlapping replace
    * over the space-separated symbol sequence, exactly how a trained BPE
    * vocabulary tokenizes at inference. The table is a fixed literal
    * (training the table is a corpus-level count loop out of scope
    * here); later merges may reference earlier merge outputs. */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    "e r" -> "er", "t h" -> "th", "a n" -> "an", "i n" -> "in",
    "s t" -> "st", "a r" -> "ar", "l e" -> "le", "u e" -> "ue",
    "q ue" -> "que", "v a" -> "va", "va l" -> "val", "b le" -> "ble")

  /** BPE tokenization counts: the subword token count a fixed BPE
    * vocabulary produces per document — the number that actually fills
    * a training shard (whitespace counts under-estimate it, char counts
    * over-estimate). Per word: split to characters (sentinel-space form
    * " v a l u e " — a merge pattern " A B " -> " AB " can only match
    * COMPLETE symbols; each merge runs twice so leftmost non-overlapping
    * replace picks up adjacent repeats — exact unless a pair repeats >2
    * times consecutively within one word, the documented contract), fold
    * the merge table, count remaining symbols; per doc: words + subwords
    * + the chars-per-subword compression ratio.
    *
    * The counting runs in [[graft.functions.BpeCounts]] — ONE codegen'd
    * scan per document. The original composable form routed every word
    * through interpreted `transform`/`aggregate` lambdas plus a
    * `regexp_replace("(.)")` engine pass (the t10 CodegenFallback shape
    * on the e2e compositions' BPE pricing stage); the kernel is
    * BpeKernelSpec-pinned value-identical to that chain. */
  def bpeTokenCounts(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val c = graft.functions.BpeCounts(col(textCol), bpeMerges)
    docs.select(col(idCol),
        c.getField("n_words").as("n_words"),
        c.getField("n_subwords").as("n_subwords"),
        c.getField("n_chars").as("n_chars"))
      .withColumn("chars_per_subword",
        when(col("n_subwords") > 0,
          graft.functions.Canon.round(
            col("n_chars").cast("double") / col("n_subwords"), 6)))
  }

  /** DuckDB twin of [[bpeTokenCounts]] over `documents`. */
  def bpeTokenCountsSql(idCol: String, textExpr: String,
                        from: String = "documents"): String = {
    val mergeChain = bpeMerges.foldLeft(
      s"' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '") {
      case (c, (p, r)) =>
        s"replace(replace($c, ' $p ', ' $r '), ' $p ', ' $r ')" }
    s"""WITH toks AS (
       |  SELECT $idCol,
       |    list_filter(string_split_regex(lower($textExpr), '\\s+'),
       |      t -> t <> '') AS words
       |  FROM $from),
       |counts AS (
       |  SELECT $idCol,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(words,
       |      w -> len(string_split(trim($mergeChain), ' ')))), 0) AS BIGINT)
       |      AS n_subwords,
       |    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
       |      AS BIGINT) AS n_chars
       |  FROM toks)
       |SELECT $idCol, n_words, n_subwords, n_chars,
       |  CASE WHEN n_subwords > 0
       |    THEN round(CAST(n_chars AS DOUBLE) / n_subwords, 6) END
       |    AS chars_per_subword
       |FROM counts""".stripMargin
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * fit two bag-of-hashed-n-grams models — one on a small TARGET corpus
    * (the distribution you want more of), one on the RAW corpus (the
    * proposal) — and score every raw document with the log importance
    * ratio `log p_target(x) − log p_raw(x)` under the bucketed add-one-
    * smoothed models. Sampling ∝ exp(log_w) then tilts the raw corpus
    * toward the target domain. Features are word unigrams + bigrams
    * hashed into `buckets` buckets ([[graft.functions.Hashing.sha28]]
    * mod B — portable to the oracle).
    *
    * Scale shape: the model side is two aggregations that each reduce to
    * `buckets` rows (map-side combinable count on a bounded key) and the
    * scoring side is one generate + one broadcast attach of the B-row
    * log-ratio table + one aggregation on the doc id. No shuffle keyed
    * on anything wider than the bucket id until the final per-doc sum;
    * the target corpus is typically orders of magnitude smaller than the
    * raw corpus and never joins against it row-to-row. */
  def dsirWeights(targetDocs: DataFrame, rawDocs: DataFrame,
                  idCol: String, textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be positive ($buckets)")
    // each model collapses to <= `buckets` (bucket, count) rows — a
    // bounded-by-contract collect (the centroid-table pattern), so the
    // whole B-row log-ratio table is computed driver-side in one job per
    // model instead of re-executing the explode chain for the totals
    val tgtCnt = dsirFeats(targetDocs, idCol, textCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("c_t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawCnt = dsirFeats(rawDocs, idCol, textCol, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("c_r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    dsirScore(rawDocs, idCol, textCol, buckets, tgtCnt, rawCnt)
  }

  /** [[dsirWeights]] when the target IS a predicate-selected subset of
    * the raw corpus (the common production setup: "more like these
    * sources"). Both bucket models come out of ONE pass over the
    * exploded corpus — per-bucket total and flagged-subset counts in the
    * same aggregation — so the whole operator is two corpus passes
    * (count, score) instead of three. Identical output to the general
    * form (spec-pinned). */
  def dsirWeightsByPred(docs: DataFrame, targetPred: Column, idCol: String,
                        textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be positive ($buckets)")
    val counts = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), targetPred.as("__is_t"),
        explode(concat(
          graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true),
          Dedup.shingles(col(textCol), 2))).as("feat"))
      .filter(col("feat") =!= "")
      .select(pmod(Hashing.sha28(col("feat")), lit(buckets)).as("bucket"),
        col("__is_t"))
      .groupBy("bucket").agg(count(lit(1)).as("c_r"),
        sum(when(col("__is_t"), 1L).otherwise(0L)).as("c_t"))
      .collect()
    val rawCnt = counts.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tgtCnt = counts.map(r => r.getLong(0) -> r.getLong(2)).toMap
      .filter(_._2 > 0L)
    dsirScore(docs, idCol, textCol, buckets, tgtCnt, rawCnt)
  }

  /** t34 — LEARNED quality classifier (the fastText lineage production
    * pipelines actually score with, vs t2's heuristic rules): hashed
    * bag-of-n-grams features (unigrams + bigrams sha28-folded into
    * `buckets` counts by [[graft.functions.HashedBucketCounts]], one
    * codegen'd scan per document), a deterministic gradient-descent
    * logistic regression ([[graft.ml.Models.logisticRegressionGD]] —
    * m5's exactly-replayable fit: canonical roundings at every
    * cross-engine boundary) fit on the `trainPred` labeled split with
    * `labelExpr` as the quality label (the classic curated-vs-crawl
    * discriminator), then MAP-ONLY corpus-wide scoring.
    *
    * Scale design: the fit side is 1 + `iters` driver aggregations over
    * the labeled fold — bounded by contract (labels are the expensive
    * artifact; a 100-TB corpus is scored, not labeled). The fitted
    * state is O(buckets) driver scalars that enter the scoring plan as
    * LITERALS, so the corpus side is one projection — zero joins, zero
    * shuffles, the kernel + a sigmoid per row. `buckets` here is the
    * oracle-exact audit knob; the vector-form scale-up (a features
    * array + the same GD in vector arithmetic) changes the fit loop,
    * not the map-only scoring shape. */
  def qualityClassifierScores(docs: DataFrame, idCol: String,
                              textCol: String, labelExpr: Column,
                              trainPred: Column, buckets: Int = 16,
                              iters: Int = 3, lr: Double = 0.5): DataFrame = {
    require(buckets > 0, s"qualityClassifierScores: buckets $buckets")
    val cnts = graft.functions.HashedBucketCounts(col(textCol), buckets)
    val featNames = (0 until buckets).map(b => s"f$b")
    // materialized once: the fit's train fold and the full-corpus scoring
    // pass otherwise each re-run the HashedBucketCounts tokenize+hash
    // kernel over the whole corpus (the frame is docs-grain, buckets+3
    // columns — the guide-§8 lightweight proxy of the text)
    val featured = docs.select(
      Seq(col(idCol), labelExpr.cast("double").as("label"),
        trainPred.as("__is_tr")) ++
        (0 until buckets).map(b =>
          element_at(cnts, b + 1).cast("double").as(s"f$b")): _*)
      .localCheckpoint(true)
    graft.ml.Models.logisticRegressionGD(
        featured.filter(col("__is_tr")), featured,
        featNames, "label", iters, lr)
      .select(col(idCol), col("label"), col("prob"), col("y_pred"))
  }

  private def dsirFeats(df: DataFrame, idCol: String, textCol: String,
                        buckets: Int): DataFrame =
    // round-robin spread first: the explode+SHA pass is CPU-bound and
    // the source may scan as a single split (the minhashSignature /
    // sourceOverlap lesson)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(concat(
          graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true),
          Dedup.shingles(col(textCol), 2))).as("feat"))
      .filter(col("feat") =!= "")
      .withColumn("bucket", pmod(Hashing.sha28(col("feat")), lit(buckets)))

  private def dsirScore(rawDocs: DataFrame, idCol: String, textCol: String,
                        buckets: Int, tgtCnt: Map[Long, Long],
                        rawCnt: Map[Long, Long]): DataFrame = {
    val spark = rawDocs.sparkSession
    val nT = tgtCnt.valuesIterator.sum
    val nR = rawCnt.valuesIterator.sum
    // full bucket spine so feats hashing into a bucket unseen by either
    // model still get the smoothed floor, not a dropped row
    import spark.implicits._
    val ratio = (0L until buckets.toLong).map { b =>
      (b, math.log((tgtCnt.getOrElse(b, 0L) + 1.0) / (nT.toDouble + buckets)) -
        math.log((rawCnt.getOrElse(b, 0L) + 1.0) / (nR.toDouble + buckets)))
    }.toDF("bucket", "log_ratio")
    val scored = dsirFeats(rawDocs, idCol, textCol, buckets)
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feats"),
        graft.functions.Canon.round(sum("log_ratio"), 6).as("log_w"))
    rawDocs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("log_w"))
  }

  /** DuckDB twin of [[dsirWeights]] over `documents`; `targetPred` is the
    * SQL predicate selecting the target subset. */
  def dsirWeightsSql(idCol: String, textExpr: String, targetPred: String,
                     buckets: Int, from: String = "documents"): String = {
    val bigrams = Dedup.shinglesOverTkSql(2)
    def featsCte(src: String) =
      s"""SELECT $idCol,
         |    (${Hashing.sha28Sql("f")}) % $buckets AS bucket
         |  FROM (SELECT $idCol,
         |      unnest(list_concat(list_filter(tk, t -> t <> ''), $bigrams)) AS f
         |    FROM ${Dedup.tkSourceSqlFrom(src, textExpr, idCol)})""".stripMargin
    s"""WITH tgt_feats AS (
       |  ${featsCte(s"(SELECT * FROM $from WHERE $targetPred)")}),
       |raw_feats AS (
       |  ${featsCte(from)}),
       |tc AS (SELECT bucket, count(*) AS c_t FROM tgt_feats GROUP BY bucket),
       |rc AS (SELECT bucket, count(*) AS c_r FROM raw_feats GROUP BY bucket),
       |nt AS (SELECT count(*) AS n_t FROM tgt_feats),
       |nr AS (SELECT count(*) AS n_r FROM raw_feats),
       |ratio AS (
       |  SELECT s.range AS bucket,
       |    ln((coalesce(tc.c_t, 0) + 1.0) / (nt.n_t + $buckets)) -
       |    ln((coalesce(rc.c_r, 0) + 1.0) / (nr.n_r + $buckets)) AS log_ratio
       |  FROM range(0, $buckets) s
       |  LEFT JOIN tc ON tc.bucket = s.range
       |  LEFT JOIN rc ON rc.bucket = s.range, nt, nr),
       |scored AS (
       |  SELECT f.$idCol, count(*) AS n_feats,
       |    round(sum(r.log_ratio), 6) AS log_w
       |  FROM raw_feats f JOIN ratio r USING (bucket)
       |  GROUP BY f.$idCol)
       |SELECT d.$idCol, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       |  s.log_w
       |FROM $from d LEFT JOIN scored s USING ($idCol)""".stripMargin
  }

  /** Deterministic stratified corpus sample: within each stratum, rank
    * rows by SHA-256 of the id (a portable, seedless "random" order that
    * any engine reproduces) and keep ceil(frac × stratum size). The
    * data-mixing primitive of a training-data pipeline — per-source /
    * per-language quotas with bit-reproducible output.
    *
    * Plan: one window per stratum, ordered by (sha, id), gives both the
    * rank and the stratum size; strata are a handful of languages or
    * sources, so each stratum's sort runs in one task. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byStratum = Window.partitionBy(col(stratumCol))
    val rk = row_number().over(
      byStratum.orderBy(sha2(col(idCol).cast("string"), 256), col(idCol)))
    val quota = ceil(lit(frac) * count(lit(1)).over(byStratum))
    docs.withColumn("__g_rk", rk).withColumn("__g_quota", quota)
      .filter(col("__g_rk") <= col("__g_quota"))
      .drop("__g_rk", "__g_quota")
  }

  /** Deterministic sequence packing: assign documents to fixed
    * token-budget shards — the chunk/shard assignment step of a
    * training-data pipeline. Within each stratum (shards are built
    * per-language/per-source in practice), documents take the portable
    * SHA-256 order, and a document's shard is its exclusive cumulative
    * token offset divided by the budget. Documents larger than the
    * budget still get the shard where their offset lands (greedy
    * first-fit-in-order, the standard approximation). The offset is one
    * running-sum window per stratum.
    * Returns docs + (n_tokens, shard_id). */
  def packIntoShards(docs: DataFrame, idCol: String, textCol: String,
                     stratumCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, s"packIntoShards: budget $budgetTokens <= 0")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(sha2(col(idCol).cast("string"), 256), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens",
        size(graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true)).cast("long"))
      .withColumn("shard_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) /
          lit(budgetTokens)))
  }

  /** Deterministic token-budget corpus mixing — the data-mixture step of
    * training-corpus assembly: the sampled corpus keeps `frac` of the
    * total token count, split across groups (language, source, domain)
    * by `weights`. Each group admits documents in the portable SHA order
    * (the same seedless order as [[stratifiedSample]] / [[packIntoShards]])
    * while its admitted-token prefix is under
    * `floor(frac * total_tokens * weight)`; groups absent from `weights`
    * are dropped. The greedy prefix rule admits the document that crosses
    * the budget (its predecessor prefix is still under), so small groups
    * are never starved by one long document.
    *
    * Plan: one token-count projection; the corpus total is a one-row
    * aggregate broadcast back; the admission prefix is one running-sum
    * window per group. No driver loop, no collect. */
  def mixtureSample(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, weights: Map[String, Double],
                    frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(frac > 0.0 && frac <= 1.0, s"mixtureSample: frac $frac not in (0, 1]")
    require(weights.nonEmpty, "mixtureSample: empty weight map")
    val weightExpr = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0)) { case (acc, (g, wt)) =>
        when(col(groupCol) === g, lit(wt)).otherwise(acc)
      }
    val counted = docs.withColumn("n_tokens",
      size(graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true)).cast("long"))
    val total = counted.agg(sum(col("n_tokens")).as("total_tokens"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(sha2(col(idCol).cast("string"), 256), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    counted.crossJoin(broadcast(total))
      .withColumn("budget_tokens",
        floor(lit(frac) * col("total_tokens").cast("double") * weightExpr)
          .cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < col("budget_tokens"))
      .select(col(idCol), col(groupCol), col("n_tokens"), col("budget_tokens"))
  }

  /** Overlapping token-window chunking — the context-window preparation
    * step for long documents ([[packIntoShards]] assigns whole documents
    * to shards; this SPLITS a document into windows of `chunkTokens`
    * advancing by `chunkTokens - overlapTokens`). Chunk k covers token
    * offsets [k*stride, k*stride + chunkTokens); the last chunk may be
    * short; empty documents produce no chunks. Emits a portable SHA-256
    * prefix of each chunk's joined text so chunk-level dedup can run
    * downstream without re-tokenizing. Pure per-row generate + project —
    * no shuffle. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlapTokens: Int,
                     keepText: Boolean = false): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"chunkDocuments: need 0 <= overlap ($overlapTokens) < chunk ($chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val toks = docs.select(col(idCol),
      graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true).as("tok"))
      .withColumn("n_tokens", size(col("tok")).cast("long"))
    // last chunk index: the first start whose window reaches the end —
    // greatest(ceil((n - chunk) / stride), 0). The naive floor((n-1)/stride)
    // would emit degenerate trailing chunks fully contained in their
    // predecessor (n=8, chunk=10, stride=7 -> a second 1-token chunk that
    // is a subset of chunk 0). sequence(a, b) DESCENDS when b < a, so the
    // empty doc must be guarded to an empty index array, not sequence(0,-1)
    val lastIdx = greatest(
      floor((col("n_tokens") - chunkTokens + stride - 1) / stride), lit(0L))
    toks
      .withColumn("idx",
        when(col("n_tokens") === 0, array().cast("array<long>"))
          .otherwise(sequence(lit(0L), lastIdx.cast("long"))))
      .select(col(idCol), explode(col("idx")).as("chunk_id"), col("tok"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("chunk",
        slice(col("tok"), (col("start_tok") + 1).cast("int"), lit(chunkTokens)))
      .select(Seq(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        // full-width SHA-256: this is a DEDUP KEY — a truncated 64-bit
        // prefix would silently collapse distinct chunks by collision at
        // 10^11+-chunk corpus scale
        sha2(concat_ws(" ", col("chunk")), 256).as("chunk_sha")) ++
        // chunk_text only on request ([[graft.operators.Dedup.chunkDedup]]
        // reassembly) — the default chunk-indexing path ships hashes, not
        // a second copy of the corpus, through the shuffle
        (if (keepText) Seq(concat_ws(" ", col("chunk")).as("chunk_text"))
         else Seq.empty): _*)
  }

  /** DuckDB twin of [[chunkDocuments]] over `documents`. */
  def chunkDocumentsSql(idCol: String, textExpr: String, chunkTokens: Int,
                        overlapTokens: Int,
                        from: String = "documents",
                        keepText: Boolean = false): String = {
    val stride = chunkTokens - overlapTokens
    val textCol =
      if (keepText) ",\n  array_to_string(chunk, ' ') AS chunk_text" else ""
    s"""WITH toks AS (
       |  SELECT $idCol,
       |    list_filter(string_split_regex(lower($textExpr), '\\s+'),
       |      t -> t <> '') AS tok
       |  FROM $from),
       |ex AS (
       |  SELECT $idCol, tok, CAST(len(tok) AS BIGINT) AS n_tokens,
       |    unnest(range(0, greatest(CAST(floor(
       |      (len(tok) - $chunkTokens + $stride - 1) / $stride) AS BIGINT),
       |      0) + 1)) AS chunk_id
       |  FROM toks WHERE len(tok) > 0),
       |ch AS (
       |  SELECT $idCol, chunk_id, chunk_id * $stride AS start_tok,
       |    list_slice(tok, chunk_id * $stride + 1,
       |      chunk_id * $stride + $chunkTokens) AS chunk
       |  FROM ex)
       |SELECT $idCol, chunk_id, start_tok,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  sha256(array_to_string(chunk, ' ')) AS chunk_sha$textCol
       |FROM ch""".stripMargin
  }

  /** DuckDB twin of [[mixtureSample]] over `documents` (same SHA
    * admission order, same budget arithmetic — multiplication order
    * matters for float identity, keep `(frac * total) * weight`). */
  def mixtureSampleSql(idCol: String, textExpr: String, groupCol: String,
                       weights: Map[String, Double], frac: Double,
                       from: String = "documents"): String = {
    val wCase = weights.toSeq.sortBy(_._1)
      .map { case (g, wt) => s"WHEN '${g.replace("'", "''")}' THEN $wt" }
      .mkString("CASE " + groupCol + " ", " ", " ELSE 0.0 END")
    s"""WITH toks AS (
       |  SELECT $idCol, $groupCol,
       |    CAST(len(list_filter(string_split_regex(lower($textExpr), '\\s+'),
       |      t -> t <> '')) AS BIGINT) AS n_tokens
       |  FROM $from),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM toks),
       |cum AS (
       |  SELECT $idCol, $groupCol, n_tokens,
       |    CAST(floor($frac * CAST(total_tokens AS DOUBLE) * ($wCase)) AS BIGINT)
       |      AS budget_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY $groupCol
       |      ORDER BY sha256(CAST($idCol AS VARCHAR)), $idCol
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM toks, tot)
       |SELECT $idCol, $groupCol, n_tokens, budget_tokens
       |FROM cum WHERE cum_before < budget_tokens""".stripMargin
  }

  /** C4-style text normalization for near-exact dedup: lowercase, strip
    * punctuation/symbols, collapse whitespace runs, trim. Two documents
    * differing only in case/punctuation/spacing normalize identically,
    * so exact dedup over the normalized text catches them. Unicode-aware
    * (`\p{L}\p{N}`): non-Latin scripts and accented letters survive —
    * an ASCII-only class would normalize every non-Latin document to ""
    * and merge them all into one bogus duplicate cluster. The whitespace
    * class is written out explicitly because Java's `\s` includes
    * vertical tab while RE2's does not — the twins must agree. */
  private val WsClass = " \\t\\n\\x0B\\f\\r"
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), s"[^\\p{L}\\p{N}$WsClass]", ""),
      s"[$WsClass]+", " "))

  /** DuckDB twin of [[normalizeForDedup]]. */
  def normalizeForDedupSql(expr: String): String = {
    // `ws` is a plain triple-quoted literal (no escape processing), so
    // its single backslashes reach RE2 verbatim; the s-interpolated
    // template below DOES process escapes, hence the doubled \\p
    val ws = """ \t\n\x0B\f\r"""
    s"""trim(regexp_replace(regexp_replace(lower($expr), '[^\\p{L}\\p{N}$ws]', '', 'g'), '[$ws]+', ' ', 'g'))"""
  }

  /** Rolling polynomial fingerprint over per-token 28-bit hashes:
    * fold(h, t) = (h * 31 + sha28(t)) mod P. Stable across engines; a
    * compact near-exact-dup document signature. */
  def fingerprint(text: Column): Column = {
    // fused per-token hashing (Dedup.hashedTokens' kernel) + fused
    // polynomial fold; the null guard keeps null-text semantics (null
    // fingerprint, not fold-of-[])
    val hashed = when(text.isNotNull, Hashing.hashedShingles(text, 1))
    graft.functions.PolyHashFold(hashed, 31L, Hashing.P)
  }

  /** DuckDB twin of [[fingerprint]]: DuckDB's list_reduce has no init
    * parameter, so prepend the 0 seed to the hashed-token list. */
  def fingerprintSql(textExpr: String): String = {
    val tk = s"string_split_regex(lower($textExpr), '\\s+')"
    val hashed = s"list_transform($tk, t -> ${Hashing.sha28Sql("t")})"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $hashed), (a, b) -> (a * 31 + b) % ${Hashing.P})"
  }

  /** Gopher-style repetition signals — the repetition-removal filter of a
    * training-data pipeline (cf. Rae et al. 2021 §A1.1): per document,
    * the duplicate-token fraction (1 - distinct/total) and the fraction
    * of token bigrams taken by the single most frequent bigram. Boiler-
    * plate and degenerate generations score high on both; clean prose
    * scores low.
    *
    * Scale shape: per-row expressions for the token stats, and the
    * top-bigram count is explode → count on (doc, bigram) → max on doc —
    * all high-cardinality aggregation keys, no window over the corpus.
    * Returns (id, n_tokens, n_distinct, dup_token_frac, top_bigram_frac);
    * zero-guarded ratios (C9) are 0.0 for empty/one-token docs. Null
    * text is PINNED as an empty document — n_tokens = 0, ratios 0.0
    * (the fused kernel maps null to an empty token array; the
    * pre-kernel composable chain propagated null here instead — the
    * spec fixes the empty-doc convention). */
  def repetitionMetrics(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // Native kernel for both the filtered token array (k = 1 shingles
    // with dropEmpty — the composable form's filter(tokens, _ =!= "")
    // preamble) and the bigrams over it: the composable
    // transform(sequence, i => concat_ws(element_at, element_at)) chain
    // is CodegenFallback — one boxed interpreted lambda PER BIGRAM —
    // and was the whole bench's top cost once the timing sink stopped
    // letting the optimizer delete it (14.9 s -> ~1 s at sf0.1).
    // Value-identity with the composable chain is spec-pinned.
    val tkArr = graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true)
    val bigrams = graft.functions.ShingleStrings(col(textCol), 2, dropEmpty = true)
    val base = docs.select(col(idCol),
        size(tkArr).cast("long").as("n_tokens"),
        size(array_distinct(tkArr)).cast("long").as("n_distinct"),
        bigrams.as("bg"))
    val topBigram = base
      .select(col(idCol), explode(col("bg")).as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max(col("c")).as("top_bigram_n"))
    base.select(col(idCol), col("n_tokens"), col("n_distinct"))
      .join(topBigram, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        round(when(col("n_tokens") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
          .otherwise(0.0), 6).as("dup_token_frac"),
        round(when(col("n_tokens") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
            (col("n_tokens") - 1))
          .otherwise(0.0), 6).as("top_bigram_frac"))
  }

  /** The fuller Gopher-style n-gram repetition panel ([[repetitionMetrics]]
    * covers tokens + bigrams): per document and per n, the fraction of
    * n-gram INSTANCES claimed by the single most frequent n-gram
    * (top-n-gram coverage) and by all n-grams occurring more than once
    * (duplicate-n-gram coverage) — the classic boilerplate/repetition
    * cut for training-data quality. Token n-grams via [[Dedup.shingles]]
    * (so the DuckDB twin reuses the proven shingle fragment); documents
    * too short for an n get total 0 and fractions 0.
    *
    * Scale shape per n: one explode + one (doc, gram) aggregation on a
    * high-cardinality key + one per-doc rollup — the t10 plan family,
    * nothing corpus-wide. */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String,
                      ns: Seq[Int] = Seq(3, 5)): DataFrame =
    ns.foldLeft(docs.select(col(idCol))) { (acc, n) =>
      val per = docs
        .select(col(idCol),
          explode(graft.operators.Dedup.shingles(col(textCol), n)).as("g"))
        .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
        .groupBy(idCol).agg(
          sum("c").as("tot"), max("c").as("topc"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupc"))
        .select(col(idCol), col("tot").as(s"n${n}_total"),
          round(col("topc").cast("double") / col("tot"), 6).as(s"top${n}_frac"),
          round(col("dupc").cast("double") / col("tot"), 6).as(s"dup${n}_frac"))
      acc.join(per, Seq(idCol), "left")
        .withColumn(s"n${n}_total", coalesce(col(s"n${n}_total"), lit(0L)))
        .withColumn(s"top${n}_frac", coalesce(col(s"top${n}_frac"), lit(0.0)))
        .withColumn(s"dup${n}_frac", coalesce(col(s"dup${n}_frac"), lit(0.0)))
    }

  /** DuckDB twin of [[ngramRepetition]]. */
  def ngramRepetitionSql(idCol: String, textExpr: String,
                         ns: Seq[Int] = Seq(3, 5),
                         from: String = "documents"): String = {
    val perCtes = ns.map { n =>
      s"""g$n AS (
         |  SELECT $idCol, unnest(${graft.operators.Dedup.shinglesOverTkSql(n)}) AS g
         |  FROM tk),
         |c$n AS (SELECT $idCol, g, count(*) AS c FROM g$n GROUP BY 1, 2),
         |p$n AS (
         |  SELECT $idCol, CAST(sum(c) AS BIGINT) AS n${n}_total,
         |    round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top${n}_frac,
         |    round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6)
         |      AS dup${n}_frac
         |  FROM c$n GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val outCols = ns.map { n =>
      s"""coalesce(p$n.n${n}_total, 0) AS n${n}_total,
         |  coalesce(p$n.top${n}_frac, 0.0) AS top${n}_frac,
         |  coalesce(p$n.dup${n}_frac, 0.0) AS dup${n}_frac""".stripMargin
    }.mkString(",\n  ")
    val joins = ns.map(n => s"LEFT JOIN p$n USING ($idCol)").mkString("\n")
    s"""WITH tk AS (
       |  SELECT $idCol, string_split_regex(lower($textExpr), '\\s+') AS tk
       |  FROM $from),
       |$perCtes
       |SELECT d.$idCol,
       |  $outCols
       |FROM $from d
       |$joins""".stripMargin
  }

  /** PII patterns shared by the engine and the oracle twin: RE2-safe (no
    * backreferences, no lookaround) so Java regex and DuckDB RE2 agree. */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhoneRe = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val piiIpv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scan + redaction — the scrubbing gate of a training-data
    * pipeline: count email / phone / IPv4 matches per document and
    * compute the redacted text with every match replaced by a
    * placeholder. Redaction order (emails, then phones, then IPs) is
    * fixed so overlapping matches resolve identically in both engines.
    * Pure per-row regex expressions — no shuffle, no UDF. */
  def piiColumns(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, piiEmailRe, "<PII>"),
          piiPhoneRe, "<PII>"),
        piiIpv4Re, "<PII>")
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit(piiEmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(piiPhoneRe), lit(0))).cast("long"))
      .withColumn("n_ipv4",
        size(regexp_extract_all(t, lit(piiIpv4Re), lit(0))).cast("long"))
      .withColumn("pii_total",
        col("n_emails") + col("n_phones") + col("n_ipv4"))
      .withColumn("redacted_text", redacted)
  }

  /** DuckDB twins for [[piiColumns]] (select-list fragments). DuckDB
    * single-quoted strings don't process backslashes, so the Java regex
    * strings embed verbatim. */
  def piiSql(textExpr: String): Map[String, String] = {
    val (e, p, i) = (piiEmailRe, piiPhoneRe, piiIpv4Re)
    Map(
      "n_emails" -> s"len(regexp_extract_all($textExpr, '$e'))",
      "n_phones" -> s"len(regexp_extract_all($textExpr, '$p'))",
      "n_ipv4" -> s"len(regexp_extract_all($textExpr, '$i'))",
      "pii_total" -> (s"len(regexp_extract_all($textExpr, '$e')) + " +
        s"len(regexp_extract_all($textExpr, '$p')) + " +
        s"len(regexp_extract_all($textExpr, '$i'))"),
      "redacted_text" ->
        s"regexp_replace(regexp_replace(regexp_replace($textExpr, '$e', '<PII>', 'g'), '$p', '<PII>', 'g'), '$i', '<PII>', 'g')")
  }

  /** URL canonicalization — the crawl-curation convention (what a
    * host-grain dedup/cap keys on): scheme, a `user:pw@` userinfo
    * component, and `?query` / `#fragment` stripped, host lowercased
    * with any leading `www.` and the default `:80` / `:443` ports
    * dropped, trailing slashes removed from the path. Adds `url_host`
    * (the canonical host — the capping key) and `url_canon` (host +
    * canonical path — the dedup key: the same page crawled under
    * different schemes, casings, credentials, or tracking queries
    * collapses to one canonical form). Stated conventions: `:80`/`:443`
    * are stripped regardless of the (already-discarded) scheme, so
    * `http://h:443` collapses with `h`; NON-default ports are KEPT —
    * a different port is a different origin and caps separately. Pure
    * per-row anchored-regex expressions — map-only, no shuffle,
    * codegen'd. */
  def urlColumns(df: DataFrame, urlCol: String): DataFrame = {
    val noScheme =
      regexp_replace(col(urlCol), "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val noQuery = regexp_replace(noScheme, "[?#].*", "")
    // userinfo strip runs on the pre-slash authority segment only ('@'
    // in a path never reaches it) and BEFORE www/port normalization, so
    // user:pw@www.Host:443 canonicalizes identically to host. RFC 3986
    // userinfo extends to the LAST '@' in the authority, hence the
    // greedy '^.*@' (a@b@host → host, not b@host); the segment is
    // pre-extracted so greed cannot eat into the path.
    val host = regexp_replace(
      regexp_replace(
        regexp_replace(lower(regexp_extract(noQuery, "^[^/]*", 0)),
          "^.*@", ""),
        "^www\\.", ""),
      ":(80|443)$", "")
    val path = regexp_replace(regexp_replace(noQuery, "^[^/]*", ""),
      "/+$", "")
    df.withColumn("url_host", host)
      .withColumn("url_canon", concat(host, path))
  }

  /** DuckDB twins for [[urlColumns]] (expression fragments over a URL
    * expression). DuckDB's regexp_replace is first-match-only by
    * default, which these anchored patterns need anyway. */
  def urlSql(urlExpr: String): Map[String, String] = {
    val noQuery =
      s"regexp_replace(regexp_replace($urlExpr, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '[?#].*', '')"
    val host =
      s"regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract($noQuery, '^[^/]*')), '^.*@', ''), '^www\\.', ''), ':(80|443)$$', '')"
    val path = s"regexp_replace(regexp_replace($noQuery, '^[^/]*', ''), '/+$$', '')"
    Map("url_host" -> host, "url_canon" -> s"($host || $path)")
  }

  /** t16 — EXACT frequent tokens at scale via a Misra-Gries candidate pass
    * + exact verify. Returns every token whose corpus count is at least
    * `ceil(total_tokens * num / den)` (the fraction as a rational so the
    * threshold is exact integer arithmetic on both engines), with its
    * exact count.
    *
    * The naive plan shuffles EVERY token occurrence to count it — at
    * 100 TB that is a full-corpus shuffle for a result of a few hundred
    * rows. Here each partition instead streams its tokens through a
    * Misra-Gries summary of capacity `ceil(den/num)` (classic guarantee:
    * any token with partition count >= partition_size/capacity survives;
    * by averaging, any token with GLOBAL count >= total/capacity survives
    * in at least one partition — and `threshold >= total/capacity`, so the
    * candidate union is a superset of every qualifying token). The exact
    * count then runs only over occurrences of candidate tokens — a
    * broadcast semi-join keeps the shuffle proportional to the heavy
    * tokens, not the corpus. Candidates are bounded by
    * `capacity * numPartitions`. Output is exact (the verify pass kills
    * MG's overcounted candidates), so the DuckDB twin is a plain
    * GROUP BY / HAVING.
    */
  def heavyHitters(df: DataFrame, textCol: String,
                   num: Long = 1, den: Long = 512): DataFrame = {
    require(num > 0 && den >= num, s"fraction num/den must be in (0,1]: $num/$den")
    val capacityL = (den + num - 1) / num
    require(capacityL <= 1000000L,
      s"capacity ceil(den/num) = $capacityL exceeds the 1e6 sanity bound " +
        "(a per-partition Misra-Gries summary that large defeats the point)")
    val capacity = capacityL.toInt
    val toks = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val candidates = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None if counts.size < capacity => counts.update(t, 1L)
          case None =>
            // decrement-all step: every tracked count drops by one,
            // zeros evicted (the incoming token is absorbed by the step)
            val keys = counts.keysIterator.toArray
            var i = 0
            while (i < keys.length) {
              val c = counts(keys(i)) - 1
              if (c == 0L) counts.remove(keys(i)) else counts.update(keys(i), c)
              i += 1
            }
        }
      }
      counts.keysIterator
    }.toDF("token").distinct()
    // Threshold stays IN the plan (t12's 1-row-total pattern): a driver
    // .head() here would run a hidden corpus scan at plan-construction
    // time. The total avoids a third tokenize pass too — per-row
    // non-empty-token counts summed, no explode.
    val total = df.agg(
      coalesce(sum(size(graft.functions.ShingleStrings(col(textCol), 1, dropEmpty = true))
        .cast("long")), lit(0L)).as("__hh_total"))
    toks.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >=
        expr(s"(__hh_total * $num + ${den - 1}) div $den"))
      .drop("__hh_total")
  }

  /** t17 — deterministic corpus split (train/validation/test): every row
    * is assigned by its portable 28-bit SHA bucket (`sha28(id) %
    * 1_000_000`) against cumulative parts-per-million thresholds, so the
    * split is (a) exact integer arithmetic both engines replay, (b)
    * stable under corpus growth — a doc's split never changes when other
    * docs arrive, the property random `sample()` loses — and (c) a pure
    * per-row expression: no shuffle, no sort, whole-stage codegen.
    * `splits` are (label, ppm) pairs summing to 1,000,000.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Long)]): DataFrame = {
    require(splits.map(_._2).sum == 1000000L,
      s"split ppm must sum to 1000000, got ${splits.map(_._2).sum}")
    val bucket = pmod(Hashing.sha28(col(idCol)), lit(1000000L))
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val label = splits.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(bucket < hi, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** DuckDB twin select-fragment of [[hashSplit]]'s label for `idExpr`. */
  def hashSplitSql(idExpr: String, splits: Seq[(String, Long)]): String = {
    val bucket = s"(${Hashing.sha28Sql(s"CAST($idExpr AS VARCHAR)")} % 1000000)"
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val cases = splits.zip(cum).dropRight(1)
      .map { case ((name, _), hi) => s"WHEN $bucket < $hi THEN '$name'" }
      .mkString(" ")
    s"CASE $cases ELSE '${splits.last._1}' END"
  }

  /** DuckDB twin of [[heavyHitters]]: the exact definition the candidate
    * pass approximates a superset of — GROUP BY with the same rational
    * ceil threshold. `docsRel` is a relation exposing `textExpr`. */
  def heavyHittersSql(docsRel: String, textExpr: String,
                      num: Long = 1, den: Long = 512): String =
    s"""WITH t AS (
       |  SELECT unnest(string_split_regex(lower($textExpr), '\\s+')) AS token
       |  FROM $docsRel),
       |c AS (
       |  SELECT token, count(*) AS cnt FROM t WHERE len(token) > 0 GROUP BY 1)
       |SELECT token, cnt FROM c
       |WHERE cnt >= (SELECT (sum(cnt) * $num + ${den - 1}) // $den FROM c)""".stripMargin

  /** t19 — cross-source contamination matrix: for every source pair, the
    * count of shared distinct `shingleK`-shingle hashes and the overlap
    * coefficient |A∩B| / min(|A|,|B|).
    *
    * Scale-native formulation: instead of self-joining the (source, hash)
    * frame on the hash (whose OUTPUT explodes by pairs-per-hash for every
    * hash — ~sources²/2 rows per common shingle), each hash folds its
    * source set into a BITMASK (one groupBy), masks aggregate to
    * (mask, n_hashes) — at most min(2^sources, distinct hashes) rows, a
    * massive collapse on any corpus where shingles recur across sources —
    * and only that tiny frame expands against the bounded sources²
    * pair dimension. Every frame past the hash agg is bounded by the
    * source cardinality, not the corpus. Requires <= 63 distinct sources
    * (long bitmask); beyond that, shard the matrix by source group.
    */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                    shingleK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-robin spread first: the shingle+SHA pass is CPU-bound and the
    // source may scan as a single split (cf. Dedup.minhashSignature)
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      // fused shingle+sha28 kernel (HashingSpec-pinned): explode the
      // hash array directly — no shingle strings, distinct over longs
      .select(col(sourceCol).as("src"),
        explode(Hashing.hashedShingles(col(textCol), shingleK)).as("h"))
      .distinct()
    // tiny dimension: one row per source; the unpartitioned window runs
    // over the source cardinality, bounded by contract. Built from the
    // raw source column (NOT from `sh`) so the shingle+SHA pass runs
    // once, not twice — a shingle-less source gets an idx no mask ever
    // sets, and the inner joins below drop it, so the output is
    // identical.
    val dim = docs.select(col(sourceCol).as("src")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy("src")) - 1).cast("int"))
      // fail fast past the bitmask capacity: Spark's shiftleft masks the
      // shift amount mod 64, so idx 64 would COLLIDE with bit 0 and
      // silently scramble every overlap count. The filter(assert_true)
      // shape survives column pruning (a dropped assert column wouldn't).
      .filter(assert_true(col("idx") <= 62,
        lit("sourceOverlap supports at most 63 distinct sources " +
          "(long bitmask); shard the matrix by source group")).isNull)
    val masks = sh.join(broadcast(dim), "src")
      .groupBy("h").agg(sum(expr("shiftleft(CAST(1 AS BIGINT), idx)")).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n_hashes"))
    val per = masks.crossJoin(broadcast(dim))
      .filter(expr("(mask >> idx) & 1 = 1"))
      .groupBy("src").agg(sum("n_hashes").as("n"))
    val pairDim = dim.select(col("src").as("src_a"), col("idx").as("ia"))
      .crossJoin(dim.select(col("src").as("src_b"), col("idx").as("ib")))
      .filter(col("src_a") < col("src_b"))
    val shared = masks.crossJoin(broadcast(pairDim))
      .filter(expr("(mask >> ia) & 1 = 1 AND (mask >> ib) & 1 = 1"))
      .groupBy("src_a", "src_b").agg(sum("n_hashes").as("n_shared"))
    shared
      .join(per.select(col("src").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(per.select(col("src").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("overlap"))
  }
}
