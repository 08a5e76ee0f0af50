package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.analytics.Quantiles
import graft.RunScope.ScratchCacheOps
import graft.functions.{CharEntropy, MisraGries, NfcNormalize, PolyHash, RegexCount, TermCounts}

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` corpus table (beyond-reference surface; builder brief +
  * SURVEY.md §7.2 item 6): token counting, quality scoring, language-ID
  * heuristic, and document fingerprinting, plus exact deduplication.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * expressions (regexp/higher-order functions) — no UDFs, so the whole
  * pipeline stays inside WholeStageCodegen and distributes embarrassingly:
  * per-document work with no shuffle except the dedup groupBy.
  *
  * Determinism: all scoring is closed-form arithmetic over per-document
  * counts; the language heuristic breaks ties by a fixed language priority;
  * ratios are rounded to 6dp for engine-stable comparison.
  */
object TextAnalysis {

  /** Shared token regexes. Character classes only — identical semantics in
    * Java regex (Spark) and RE2 (DuckDB oracle). */
  private val BpeTokenRe = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]"
  private[llm] val StopRe = "\\b(the|a|an|of|to|in|and)\\b"

  /** Token counting (whitespace + BPE-ish regex), length stats, stopword /
    * punctuation ratios, and a composite quality score — the
    * length/punct/stopword-ratio heuristics a pretraining-data quality
    * filter runs per document. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(spark, dir).drop("source").orderBy("doc_id")

  /** Whitespace-token count, identical to `size(split(trim(s), "\\s+"))`
    * for EVERY input: Spark's `split` is Java `Pattern.split(s, -1)`,
    * which returns one piece per separator match plus one (RegexCountSpec
    * pins the identity, including tab/newline-edged and empty strings
    * where a naive `greatest(count(\\S+), 1)` form would diverge). */
  private[graft] def wsTokenCount(s: Column): Column =
    RegexCount.of(trim(s), "\\s+") + lit(1)

  /** Appends `n_tokens`, `stop_ratio`, `punct_ratio` (6dp) and
    * `quality_score` (6dp) to ANY frame with a `text` column — per-row
    * expressions only, so every caller shares one scorer; the score and
    * ratio formulas exist exactly once per engine. The score feeds on the
    * UNROUNDED ratios; the appended ratio columns are the 6dp output
    * form. Quality: long-enough docs with organic stopword density and
    * low punctuation noise score high; clamped linear terms, weights sum
    * to 1. */
  private[graft] def withQualityScore(d: DataFrame): DataFrame = {
    val nTok = wsTokenCount(col("text"))
    val nStop = RegexCount.of(col("text"), StopRe)
    val nPunct = RegexCount.of(col("text"), "[.,!?;:]")
    val stopRatio = nStop.cast("double") / nTok
    val punctRatio = nPunct.cast("double") / length(col("text"))
    val score =
      least(nTok.cast("double") / 100d, lit(1d)) * 0.4 +
        least(stopRatio * 5d, lit(1d)) * 0.4 +
        (lit(1d) - least(punctRatio * 10d, lit(1d))) * 0.2
    d.withColumn("n_tokens", nTok.cast("long"))
      .withColumn("stop_ratio", round(stopRatio, 6))
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("quality_score", round(score, 6))
  }

  /** The unordered quality frame, shared by [[textQuality]] and
    * [[qualityGate]] so both score documents identically. */
  private[llm] def qualityFrame(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex/hash work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = withQualityScore(Tables.spread(Tables.documents(spark, dir)))
    val nBpe = RegexCount.of(col("text"), BpeTokenRe)
    // = length(regexp_replace(text, "\s+", "")): every \s char is exactly
    // one match of the single-char class, and no copy of the doc is built
    val charsNoSpace = length(col("text")) - RegexCount.of(col("text"), "\\s")
    d.select(
      col("doc_id"), col("lang"), col("n_chars"),
      col("n_tokens"), nBpe.cast("long").as("n_tokens_bpe"),
      round(charsNoSpace.cast("double") / col("n_tokens"), 6).as("avg_token_len"),
      col("stop_ratio"), col("punct_ratio"), col("quality_score"),
      col("source")) // consumed by sourceQualityReport; textQuality drops it
  }

  /** Oracle-side raw-count CTE and 6dp score expression, shared by
    * [[textQualitySql]] and [[qualityGateSql]] — the score formula exists
    * exactly once per engine. (Plain strings, not interpolators: the
    * regexes carry backslashes.) */
  private[llm] val qualityCteSql: String =
    """t AS (
      |  SELECT doc_id, lang, n_chars, source, text,
      |         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |         len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
      |         len(regexp_extract_all(text, '\b(the|a|an|of|to|in|and)\b')) AS n_stop,
      |         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
      |         length(regexp_replace(text, '\s+', '', 'g')) AS chars_ns
      |  FROM documents
      |)""".stripMargin
  private[llm] val qualityScoreSql: String =
    """round(least(n_tokens / 100.0, 1.0) * 0.4
      |             + least(n_stop * 1.0 / n_tokens * 5, 1.0) * 0.4
      |             + (1.0 - least(n_punct * 1.0 / length(text) * 10, 1.0)) * 0.2, 6)""".stripMargin

  val textQualitySql: String =
    "WITH " + qualityCteSql + """
      |SELECT doc_id, lang, n_chars, n_tokens, n_tokens_bpe,
      |       round(chars_ns * 1.0 / n_tokens, 6) AS avg_token_len,
      |       round(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
      |       round(n_punct * 1.0 / length(text), 6) AS punct_ratio,
      |       """.stripMargin + qualityScoreSql + """ AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin

  /** Below this quality score a document counts as low-quality in the
    * per-source report — a run-config literal, like the gate medians. */
  private[graft] val LowQuality = 0.5

  /** Per-source quality report — the dashboard that decides which crawl
    * feeds get downweighted or dropped: per source, document/token
    * volume, mean quality score, and the share of documents under the
    * low-quality bar. Pairs with `source_mix_report` (volume) and
    * `dedup_report` (duplication) as the third per-source curation view;
    * scores come from the SAME [[qualityFrame]] the gate uses, so "low
    * quality" means one thing corpus-wide.
    *
    * Scale shape: the per-doc scoring is a codegen'd projection over one
    * scan; everything then collapses map-side into per-source counters
    * (sources number in the thousands at worst). The mean is summed as
    * DECIMAL(18,6) over the 6dp-rounded scores, so partial-aggregation
    * order cannot change the result (the repo-wide decimal-sum rule). */
  def sourceQualityReport(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        round(sum(col("quality_score").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_quality"),
        sum(when(col("quality_score") < LowQuality, 1L).otherwise(0L))
          .as("n_low"))
      .withColumn("low_share",
        round(col("n_low").cast("double") / col("n_docs"), 6))
      .orderBy("source")

  val sourceQualityReportSql: String =
    "WITH " + qualityCteSql + """,
      |q AS (
      |  SELECT source, n_tokens,
      |         """.stripMargin + qualityScoreSql + s""" AS quality_score
      |  FROM t
      |)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |       round(CAST(sum(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
      |             / count(*), 6) AS mean_quality,
      |       CAST(sum(CASE WHEN quality_score < $LowQuality THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |       round(sum(CASE WHEN quality_score < $LowQuality THEN 1 ELSE 0 END) * 1.0
      |             / count(*), 6) AS low_share
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** Language-ID n-gram/stopword heuristic: count per-language marker hits
    * and take the best-scoring language with a fixed priority tie-break
    * (en > de > fr > es > zh). Real pipelines use fastText-style models;
    * the heuristic shape (per-language evidence counts → argmax) is the
    * distributed part and is what's exercised here. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex/hash work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    def hits(re: String) = RegexCount.of(lower(col("text")), re)
    val cEn = hits("\\b(the|and|of|to|a|in|is)\\b")
    val cDe = hits("\\b(der|die|das|und|ist|nicht)\\b")
    val cFr = hits("\\b(le|la|les|et|est|une)\\b")
    val cEs = hits("\\b(el|los|las|y|es|una)\\b")
    val cZh = hits("[\\x{4e00}-\\x{9fff}]")
    val best = greatest(cEn, cDe, cFr, cEs, cZh)
    val pred = when(best === 0, "und")
      .when(cEn === best, "en").when(cDe === best, "de")
      .when(cFr === best, "fr").when(cEs === best, "es")
      .otherwise("zh")
    d.select(col("doc_id"), col("lang").as("lang_label"), pred.as("lang_pred"),
        cEn.cast("long").as("c_en"), cDe.cast("long").as("c_de"),
        cFr.cast("long").as("c_fr"), cEs.cast("long").as("c_es"))
      .orderBy("doc_id")
  }

  val langIdSql: String =
    """WITH c AS (
      |  SELECT doc_id, lang,
      |         len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b'))    AS c_en,
      |         len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS c_de,
      |         len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b'))      AS c_fr,
      |         len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b'))       AS c_es,
      |         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]'))                    AS c_zh
      |  FROM documents
      |)
      |SELECT doc_id, lang AS lang_label,
      |       CASE WHEN greatest(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
      |            WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
      |            WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
      |            WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
      |            WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
      |            ELSE 'zh' END AS lang_pred,
      |       c_en, c_de, c_fr, c_es
      |FROM c ORDER BY doc_id""".stripMargin

  /** The one-row dataset card — the header block of a corpus datasheet:
    * document / token / character volume, language and source breadth,
    * mean quality, and the near-dup share under the standard MinHash
    * cluster policy. One row a release pipeline stamps next to the
    * data; every number is definitionally consistent with the
    * drill-down entries because it composes their kernels verbatim
    * ([[qualityFrame]] for quality, [[Dedup.clusterLabels]] for
    * duplication, built inside this call).
    *
    * Shape at 100 TB: three independent 1-row aggregates (corpus
    * counters incl. two low-cardinality DISTINCTs, the quality decimal
    * sum, the cluster labels' non-canonical count) crossed as broadcast
    * 1-row frames. Nothing here adds a shuffle beyond what the composed
    * kernels already pay. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("n_chars"))
    val qual = qualityFrame(spark, dir).agg(
      sum(col("n_tokens")).as("n_tokens"),
      round(sum(col("quality_score").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("mean_quality"))
    val dups = Dedup.clusterLabels(spark, dir)
      .filter(!col("is_canonical"))
      .agg(count(lit(1)).as("n_dup_docs"))
    corpus.crossJoin(broadcast(qual)).crossJoin(broadcast(dups))
      .withColumn("dup_share",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
  }

  val datasetCardSql: String =
    s"""WITH RECURSIVE ${Dedup.shinglesCteSql}, ${Dedup.jaccardPairsCteSql}, edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), reach AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) nodes
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), comp AS (
       |  SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
       |), corpus AS (
       |  SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       |         count(DISTINCT source) AS n_sources,
       |         CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM documents
       |), $qualityCteSql, q AS (
       |  SELECT n_tokens, $qualityScoreSql AS quality_score FROM t
       |), qq AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |         round(CAST(sum(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
       |               / count(*), 6) AS mean_quality
       |  FROM q
       |), dups AS (
       |  SELECT count(*) AS n_dup_docs FROM comp WHERE doc_id <> cluster_id
       |)
       |SELECT c.n_docs, c.n_langs, c.n_sources, c.n_chars,
       |       qq.n_tokens, qq.mean_quality, d.n_dup_docs,
       |       round(CAST(d.n_dup_docs AS DOUBLE) / c.n_docs, 6) AS dup_share
       |FROM corpus c, qq, dups d""".stripMargin

  /** Language-ID confusion matrix — declared `lang` label vs the
    * [[langId]] heuristic's prediction, one cell per (label, pred) pair
    * with the within-label share and a hit flag: the quality report that
    * tells a corpus curator where the classifier disagrees with the
    * metadata (and which side to audit). Composes the langId kernel
    * verbatim so the two entries can never drift.
    *
    * Shape at 100 TB: the per-doc prediction collapses under ONE
    * (label, pred)-keyed counter aggregate with map-side partials; the
    * within-label share is a window over the ≤ langs² cell frame —
    * bounded by vocabulary, not corpus. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langId(spark, dir)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val perLabel =
      org.apache.spark.sql.expressions.Window.partitionBy(col("lang_label"))
    cells
      .withColumn("label_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(perLabel), 6))
      .withColumn("is_hit", (col("lang_label") === col("lang_pred")).cast("int"))
      .orderBy("lang_label", "lang_pred")
  }

  val langConfusionSql: String =
    s"""WITH pred AS ($langIdSql),
       |cells AS (
       |  SELECT lang_label, lang_pred, count(*) AS n_docs
       |  FROM pred GROUP BY 1, 2
       |)
       |SELECT lang_label, lang_pred, n_docs,
       |       round(CAST(n_docs AS DOUBLE) /
       |             sum(n_docs) OVER (PARTITION BY lang_label), 6) AS label_share,
       |       CAST(lang_label = lang_pred AS INT) AS is_hit
       |FROM cells ORDER BY lang_label, lang_pred""".stripMargin

  /** Document fingerprinting: an md5 content fingerprint over
    * whitespace-normalized lowercased text, plus a 31-base polynomial
    * rolling hash mod 1e9+7 folded sequentially over the characters
    * (higher-order `aggregate` — stays in codegen, no UDF).
    * Char iteration uses substr over sequence(1, length) because Spark's
    * split-on-empty emits a trailing "" (Java regex, limit -1) that
    * DuckDB's does not. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex/hash work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    // normalize ONCE into a column: inlining the regexp into the per-char
    // hash would re-run it per character (O(n²) regex work per doc —
    // measured 30 s at sf0.1 vs ~1 s with the materialized column). The
    // rolling hash itself is the native PolyHash expression; the
    // equivalent HOF fold is `aggregate(transform(sequence(...)))` (kept
    // as the spec's cross-check).
    d.withColumn("norm", lower(regexp_replace(col("text"), "\\s+", " ")))
      .select(
        col("doc_id"),
        md5(col("norm")).as("md5_fp"),
        PolyHash.of(col("norm")).as("poly_fp"))
      .orderBy("doc_id")
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS md5_fp,
      |       list_reduce(
      |         list_prepend(0::BIGINT,
      |           list_transform(range(1, length(lower(regexp_replace(text, '\s+', ' ', 'g'))) + 1),
      |                          i -> ascii(substr(lower(regexp_replace(text, '\s+', ' ', 'g')), i, 1))::BIGINT)),
      |         (acc, c) -> (acc * 31 + c) % 1000000007) AS poly_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact deduplication (hash-groupBy): group documents by the md5 of
    * their normalized text, keep the lowest doc_id per group. The groupBy
    * shuffles only (hash, doc_id) — 48 bytes/doc at any corpus size — and
    * Spark's partial aggregation collapses duplicates map-side. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex/hash work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    d.groupBy(md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("text_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  val exactDedupSql: String =
    """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS text_key,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Repetition flags fire on the corpus's degenerate tail: distinct
    * ratio below 0.35 (corpus range 0.28-1.0) or top-bigram share above
    * 0.08 (corpus p80 ≈ 0.053). Shared with the oracle SQL. */
  private val MinDistinctRatio = 0.35
  private val MaxBigramShare = 0.08

  /** Gopher-style repetition metrics: distinct-word ratio, top-word
    * share, and top-adjacent-bigram share per document, plus the
    * `is_repetitive` filter flag a pretraining quality gate applies
    * (looping/boilerplate text shows low distinct ratio and a dominant
    * repeated n-gram).
    *
    * Shape: one explode of a tagged word+bigram stream, a (doc, kind,
    * gram) count, and a per-doc aggregate — two hash shuffles keyed by
    * doc_id, map-side partials collapse the repeated grams, no window and
    * no per-doc state larger than the count row. The per-doc word count
    * rides the exploded stream so no join revisits the documents. */
  def repetitionMetrics(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex/hash work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
      .withColumn("ws", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("nw", size(col("ws")).cast("long"))
    // kind 1 = word, kind 2 = adjacent bigram (empty when nw < 2:
    // Spark's sequence(1, 0) counts DOWN, so it needs the guard)
    val grams = expr(
      """concat(
        |  transform(ws, w -> named_struct('kind', 1, 'g', w)),
        |  CASE WHEN size(ws) < 2 THEN array()
        |       ELSE transform(sequence(1, size(ws) - 1),
        |                      i -> named_struct('kind', 2, 'g', concat_ws(' ', ws[i-1], ws[i])))
        |  END)""".stripMargin)
    val counts = d
      .select(col("doc_id"), col("nw"), explode(grams).as("g"))
      .groupBy(col("doc_id"), col("nw"),
        col("g.kind").as("kind"), col("g.g").as("gram"))
      .agg(count(lit(1)).as("cnt"))
    val m = counts.groupBy("doc_id", "nw").agg(
      count(when(col("kind") === 1, 1)).as("distinct_words"),
      max(when(col("kind") === 1, col("cnt"))).as("top_word"),
      max(when(col("kind") === 2, col("cnt"))).as("top_bigram"))
    val distinctRatio = round(col("distinct_words").cast("double") / col("nw"), 6)
    val bigramShare = round(
      coalesce(col("top_bigram"), lit(0L)).cast("double")
        / nullif(col("nw") - 1, lit(0L)), 6)
    m.select(
        col("doc_id"), col("nw").as("n_words"), col("distinct_words"),
        distinctRatio.as("distinct_ratio"),
        round(col("top_word").cast("double") / col("nw"), 6).as("top_word_share"),
        bigramShare.as("top_bigram_share"),
        (distinctRatio < MinDistinctRatio
          || bigramShare > MaxBigramShare).as("is_repetitive"))
      .orderBy("doc_id")
  }

  val repetitionMetricsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw, 1 AS kind, unnest(ws) AS gram FROM w
       |  UNION ALL
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw, 2 AS kind,
       |         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
       |  FROM w
       |), c AS (
       |  SELECT doc_id, nw, kind, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3, 4
       |)
       |SELECT doc_id, nw AS n_words,
       |       count(*) FILTER (kind = 1) AS distinct_words,
       |       round(count(*) FILTER (kind = 1) * 1.0 / nw, 6) AS distinct_ratio,
       |       round(max(cnt) FILTER (kind = 1) * 1.0 / nw, 6) AS top_word_share,
       |       round(coalesce(max(cnt) FILTER (kind = 2), 0) * 1.0 / nullif(nw - 1, 0), 6) AS top_bigram_share,
       |       (round(count(*) FILTER (kind = 1) * 1.0 / nw, 6) < $MinDistinctRatio
       |        OR round(coalesce(max(cnt) FILTER (kind = 2), 0) * 1.0 / nullif(nw - 1, 0), 6) > $MaxBigramShare)
       |         AS is_repetitive
       |FROM c GROUP BY doc_id, nw ORDER BY doc_id""".stripMargin

  /** Result size for [[corpusTopTerms]] — shared with the oracle SQL. */
  private val TopTermsK = 50

  /** Corpus vocabulary heavy hitters: the top-K terms by total occurrence
    * count with their document frequency and idf — the vocabulary-
    * coverage profile a tokenizer/data-mixing audit reads before
    * training, and the OLAP "frequent items" query in its exact form.
    *
    * Shape at 100 TB: the classic two-phase wordcount — explode words,
    * hash-aggregate on term with map-side partial counts (the Zipf head
    * collapses BEFORE the shuffle, so the hot term ships one partial row
    * per map task, not its corpus-wide count), `count(DISTINCT doc_id)`
    * plans as the Expand two-phase so no per-term document set ever
    * materializes in one buffer, and the top-K is TakeOrderedAndProject —
    * each partition keeps K rows, no global sort of the vocabulary. The
    * corpus count for idf is a 1-row broadcast, not a driver collect.
    * Deterministic: (tf DESC, term) is a total order, so the K-truncation
    * is stable across partitionings and engines. */
  def corpusTopTerms(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val nDocs = d.select(count(lit(1)).as("n_docs"))
    d.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("tf"), col("df"),
        round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(TopTermsK)
  }

  /** N-gram novelty curve — per document (in doc_id ingestion order),
    * the fraction of its distinct word-trigrams never seen in any
    * EARLIER document: the "is this feed still contributing new text"
    * signal a growing corpus is monitored by (novelty collapsing toward
    * 0 means the crawl is re-reading itself; pairs with the dedup
    * family, which catches the pairwise extreme of the same decay).
    *
    * Scale shape: the same inverted-index discipline as the dedup
    * kernels — explode distinct shingles hashed to fixed-width longs,
    * ONE min-aggregate per shingle (its first doc), then a shingle-hash
    * equi-join back to count first-seen shingles per document. No pair
    * expansion at any skew (min() is a scalar aggregate, and the join
    * emits each posting once). Same 64-bit collision assumption as the
    * dedup family ([[Dedup.ngramJaccardPairsFrom]]).
    *
    * doc_id stands in for ingestion time on this corpus; a real pipeline
    * substitutes its arrival ordinal. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val ex = Dedup.shinglesOf(Tables.spread(Tables.documents(spark, dir)))
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      .scratchCache() // read twice: first-doc aggregate + count-back join
    val firsts = ex.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    ex.join(firsts, "s")
      .groupBy("doc_id", "n_shingles")
      .agg(sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
        .as("n_novel"))
      .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
        col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Oracle: identical first-doc aggregate over raw shingle strings. */
  val ngramNoveltySql: String =
    s"""WITH ${Dedup.shinglesCteSql}, ex AS (
       |  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles,
       |         unnest(shingles) AS s
       |  FROM sh
       |), firsts AS (
       |  SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY s
       |)
       |SELECT e.doc_id, e.n_shingles,
       |       CAST(sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       round(sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END) * 1.0
       |             / e.n_shingles, 6) AS novelty
       |FROM ex e JOIN firsts f USING (s)
       |GROUP BY e.doc_id, e.n_shingles
       |ORDER BY e.doc_id""".stripMargin

  /** Per-language top-k term count for [[topTermsPerLang]]. */
  private val TermsPerLang = 10

  /** Top terms PER LANGUAGE — the segmented twin of [[corpusTopTerms]]
    * (global top-K): the vocabulary dashboards and per-language stopword
    * candidates a multilingual curation pipeline reads. Ranking ties
    * break on the term string, so the cut is total-ordered and
    * engine-stable.
    *
    * Scale shape: the token stream collapses map-side into (lang, term)
    * counters; the per-language rank filter plans as WindowGroupLimit
    * (Partial before the exchange, Final after), so each map task ships
    * at most k rows per language it saw — the exchange carries candidate
    * survivors, never the term vocabulary. Same tokenization as every
    * other text kernel (lower, trim, whitespace split). */
  def topTermsPerLang(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(spark, dir))
    val counts = d.select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("tf").desc, col("term").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TermsPerLang)
      .orderBy("lang", "rank")
  }

  val topTermsPerLangSql: String =
    s"""WITH t AS (
       |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), a AS (
       |  SELECT lang, term, count(*) AS tf FROM t GROUP BY lang, term
       |)
       |SELECT lang, term, tf,
       |       CAST(row_number() OVER (
       |         PARTITION BY lang ORDER BY tf DESC, term) AS BIGINT) AS rank
       |FROM a
       |QUALIFY rank <= $TermsPerLang
       |ORDER BY lang, rank""".stripMargin

  val corpusTopTermsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), a AS (
       |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM t GROUP BY term
       |)
       |SELECT term, tf, df,
       |       round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6) AS idf
       |FROM a ORDER BY tf DESC, term LIMIT $TopTermsK""".stripMargin

  /** Sketch size for [[heavyHittersCheck]] — shared with the oracle SQL.
    * Sits just under this corpus's vocabulary so the summary is near-exact
    * here while the decrement/merge machinery is property-tested on
    * synthetic skew in MisraGriesSpec. */
  private val HeavyK = 32

  /** Accuracy contract for the native [[graft.functions.MisraGries]]
    * mergeable heavy-hitters sketch, same pattern as
    * `approx_distinct_check`: for every term the THEOREM says must be
    * caught (true count > n/k), emit the engine-measured verdicts —
    * present in the sketch, and estimate within the undercount bound
    * (est ≤ tf, tf − est ≤ n/k). The oracle emits the contract's expected
    * `true`s from exact counts (DuckDB has no frequent-items sketch), so
    * a sketch that breaks its bound hash-mismatches; the term set, exact
    * counts, and n are fully cross-engine-checked. At 100 TB the sketch
    * is the fixed-memory frequent-items path: map tasks fold partitions
    * into k-counter summaries and the shuffle ships summaries, never the
    * term stream. */
  def heavyHittersCheck(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val ex = Tables.spread(Tables.documents(spark, dir))
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val sk = ex.agg(MisraGries.of(col("term"), HeavyK).as("sketch"),
      count(lit(1)).as("n"))
    val est = coalesce(element_at(col("sketch"), col("term")), lit(0L))
    ex.groupBy("term").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(sk))
      .filter(col("tf") * HeavyK > col("n")) // tf > n/k, exact in integers
      .select(col("term"), col("tf"), col("n"),
        element_at(col("sketch"), col("term")).isNotNull.as("in_sketch"),
        (est <= col("tf") && (col("tf") - est) * HeavyK <= col("n"))
          .as("err_within_bound"))
      .orderBy("term")
  }

  val heavyHittersCheckSql: String =
    s"""WITH t AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), a AS (
       |  SELECT term, count(*) AS tf FROM t GROUP BY term
       |), s AS (SELECT count(*) AS n FROM t)
       |SELECT term, tf, n, true AS in_sketch, true AS err_within_bound
       |FROM a, s WHERE tf * $HeavyK > n ORDER BY term""".stripMargin

  /** Per-document unigram surprise — average negative log-likelihood of
    * the document's tokens under the corpus's OWN unigram language model
    * (p(term) = tf/N). The cheapest corpus-relative novelty signal a
    * curation pass computes: boilerplate scores low (its tokens are the
    * corpus's most probable), off-distribution text scores high. Real
    * pipelines swap in a trained LM; the distributed shape — build the
    * term-probability table in one aggregate, score every token stream
    * against it — is identical.
    *
    * Scale shape: one wordcount aggregate builds the LM (vocabulary-sized
    * output), the token stream joins it on the term key (vocab tables
    * broadcast when bounded; un-hinted so AQE decides), and the per-doc
    * average is a hash aggregate keyed on doc_id. Determinism: per-token
    * scores are rounded to 6dp and summed as DECIMAL, so partial-
    * aggregation order cannot change the result (the float-sum
    * nondeterminism every naive avg() has); the final average divides in
    * double and rounds to 6dp on both engines. */
  def unigramSurprise(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val ex = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val n = ex.select(count(lit(1)).as("n_total"))
    val lm = ex.groupBy("term").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        round(-log(col("tf").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)").as("nll"))
    ex.join(lm, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("surprise"))
      .orderBy("doc_id")
  }

  val unigramSurpriseSql: String =
    """WITH ex AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), lm AS (
      |  SELECT term,
      |         CAST(round(-ln(count(*) * 1.0 / (SELECT count(*) FROM ex)), 6)
      |              AS DECIMAL(18,6)) AS nll
      |  FROM ex GROUP BY term
      |)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS surprise
      |FROM ex JOIN lm USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-language percentile quality gate: keep documents whose
    * [[textQuality]] score is at or above their OWN language's median —
    * the per-stratum relative filter a curation pipeline applies when
    * absolute score thresholds don't transfer across languages (a fixed
    * cutoff tuned on English over- or under-prunes everything else).
    *
    * Scale design: the per-language thresholds come from
    * [[Quantiles.groupedQuantiles]] — the two-phase distributed-selection
    * kernel — so NO language is ever funneled through a single task's
    * sort (a 100 TB corpus has few languages and corpus-scale groups; a
    * per-group window here is the exact shape the kernel exists to
    * avoid). The thresholds frame is #languages rows, broadcast back, and
    * the gate itself is a codegen'd filter over the scored scan. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityFrame(spark, dir)
      .select("doc_id", "lang", "quality_score")
    val thresholds = Quantiles
      .groupedQuantiles(scored, "lang", "quality_score", Seq("q50" -> 0.5))
      .select(col("lang"), col("q50").as("lang_median"))
    scored.join(broadcast(thresholds), "lang")
      .filter(col("quality_score") >= col("lang_median"))
      .select("doc_id", "lang", "quality_score", "lang_median")
      .orderBy("doc_id")
  }

  val qualityGateSql: String =
    "WITH " + qualityCteSql + """,
      |q AS (
      |  SELECT doc_id, lang,
      |         """.stripMargin + qualityScoreSql + """ AS quality_score
      |  FROM t
      |), th AS (
      |  SELECT lang, round(quantile_cont(quality_score, 0.5), 6) AS lang_median
      |  FROM q GROUP BY lang
      |)
      |SELECT q.doc_id, q.lang, q.quality_score, th.lang_median
      |FROM q JOIN th ON q.lang = th.lang
      |WHERE q.quality_score >= th.lang_median
      |ORDER BY q.doc_id""".stripMargin

  /** Row-local term-frequency counting (r17): term counts only read the
    * row's own token array, so instead of exploding every OCCURRENCE and
    * hash-aggregating the duplicate-bearing stream on (doc_id, term) —
    * one full shuffle of the token stream — the native
    * [[graft.functions.TermCounts]] expression counts per row in one
    * pass. Adds `out`: array<struct<term string, tf bigint>> with one
    * entry per DISTINCT term, exactly the frame the old aggregate
    * produced after its exchange. Shared by [[tfidfTopTerms]] and
    * [[graft.llm.Dedup.tfidfCosineFrom]] so the counting kernel exists
    * once. (A SQL higher-order formulation was tried and reverted:
    * projection collapsing inlines the sorted array into every
    * element_at lambda call, re-evaluating the sort — and the tokenizing
    * regex below it — per element; see the expression's scaladoc.) */
  private[llm] def withTermCounts(df: DataFrame, arrCol: String,
      out: String): DataFrame =
    df.withColumn(out, TermCounts.of(col(arrCol)))

  /** Top terms kept per document by [[tfidfTopTerms]]. */
  private val TfidfK = 3

  /** Per-document TF-IDF keywords: the top-[[TfidfK]] most
    * corpus-distinctive terms of every document — the classic keyword /
    * topic-signal extraction a curation pipeline runs to tag documents
    * (where [[corpusTopTerms]] profiles the CORPUS vocabulary, this ranks
    * WITHIN each document against that vocabulary).
    *
    * Shape at 100 TB: tf is ROW-LOCAL ([[withTermCounts]] — the token
    * stream never shuffles; what explodes is one row per distinct term
    * per doc, already the tf frame); df derives from tf by one aggregate
    * on term (vocabulary-sized input, never the token stream); the df
    * join back to tf shuffles on term (vocabulary can be ~1e8 at corpus
    * scale — a hash join, never a broadcast); N is a 1-row broadcast.
    * The per-document top-k window partitions on doc_id — maximal
    * parallelism (one document's terms per task, bounded by document
    * length, the opposite of the few-groups window the quantile kernel
    * exists to avoid).
    *
    * Determinism: rank orders by the 6dp-ROUNDED score then term, so a
    * sub-rounding cross-engine double wiggle cannot flip the row_number
    * boundary; ties at equal (tf, df) produce bit-identical doubles by
    * construction. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val nDocs = d.select(count(lit(1)).as("n_docs"))
    // scratchCache: tf feeds the df aggregate AND the join back — the
    // cache replaces the materialization the old groupBy's shuffle gave
    val tf = withTermCounts(
        d.select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("toks")),
        "toks", "tcs")
      // explode_outer + null guard: see tfidfCosineFrom — a plain
      // explode's generator filter re-evaluates the counting chain as a
      // pushed-down single-split predicate. tcs is non-empty (split
      // yields >= 1 token), so outer ≡ inner.
      .select(col("doc_id"), explode_outer(col("tcs")).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), col("e.term"), col("e.tf").as("tf"))
      .scratchCache()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfK)
      .select(col("doc_id"), col("rk"), col("term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  val tfidfTopTermsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |         round(CAST(tf.tf AS DOUBLE) *
       |               ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df),
       |               6) AS tfidf
       |  FROM tf JOIN df ON tf.term = df.term
       |), r AS (
       |  SELECT *, row_number() OVER (
       |           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
       |  FROM s
       |)
       |SELECT doc_id, rk, term, tf, df, tfidf
       |FROM r WHERE rk <= $TfidfK ORDER BY doc_id, rk""".stripMargin

  /** Collocation floor / output size for [[bigramPmi]]. */
  private val PmiMinCount = 5
  private val PmiK = 20

  /** Bigram collocation mining by pointwise mutual information: the
    * top-[[PmiK]] adjacent word pairs (seen ≥ [[PmiMinCount]] times) that
    * co-occur far above chance — the phrase/collocation detector a
    * tokenizer-training or phrase-merging pass runs over a corpus.
    * PMI = ln(P(xy) / (P(x)·P(y))) with P(xy) over the bigram stream and
    * P(x) over the unigram stream.
    *
    * Shape at 100 TB: bigrams come from a per-document higher-order
    * `transform` over the token array (no self-join of the token stream —
    * adjacency is resolved INSIDE the row, codegen'd, zero shuffle);
    * pair and unigram counts are two hash aggregates with map-side
    * partials; the two unigram lookups are joins on the vocabulary-sized
    * count table (hash joins at scale, AQE may broadcast small ones); the
    * corpus totals are a 1-row broadcast; top-k is TakeOrderedAndProject.
    * The ≥-floor prunes the pair table BEFORE both joins.
    *
    * Determinism: ordered by 6dp-ROUNDED pmi then (w1, w2) — a total
    * order whose k-truncation is stable across engines. */
  def bigramPmi(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
      .select(split(lower(trim(col("text"))), "\\s+").as("ws"))
    val uni = d.select(explode(col("ws")).as("w"))
    val totals = broadcast(uni.select(count(lit(1)).as("n_uni"))
      .crossJoin(d.filter(size(col("ws")) >= 2)
        .select(sum(size(col("ws")) - 1).as("n_bi"))))
    val pairs = d.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= PmiMinCount)
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    pairs
      .join(uc.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        round(log((col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("c_x") * col("c_y"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiK)
  }

  /** Deterministic non-ASCII fixture appended to every 5th document by
    * [[textNormalize]]: an uppercase word, a decomposed e + COMBINING
    * ACUTE (U+0301), a double space, and the ANGSTROM SIGN (U+212B,
    * whose NFC form is the precomposed Å). The driver corpus is pure
    * lowercase ASCII, so without injection the normalizer's Unicode
    * paths would be dead code under the oracle gate; the injection is
    * part of the QUERY (identical in engine and oracle), not the data. */
  private[llm] val NormSuffix = " Cafe\u0301  \u212B"

  /** Text canonicalization — the normalize pass every dedup/fingerprint/
    * decontamination pipeline runs first, so that 'e'+combining-accent
    * and precomposed 'é' (or compatibility singletons like U+212B) hash
    * identically: Unicode NFC via the native codegen'd
    * [[graft.functions.NfcNormalize]] expression, control-char strip,
    * whitespace-run collapse, trim, lowercase. Emits the normalized
    * text, a changed flag, and the normalized length.
    *
    * Shape at 100 TB: pure per-document projection — one scan, zero
    * shuffles, the whole chain inside WholeStageCodegen (the NFC kernel
    * fast-paths already-normalized text with a no-allocation check, so
    * ASCII corpora pay a scan, not a rewrite). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc normalize/regex work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val raw = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(NormSuffix))).otherwise(col("text"))
    val norm = lower(trim(regexp_replace(
      regexp_replace(NfcNormalize.of(col("raw")), "[\\x00-\\x1F\\x7F]", ""),
      "\\s+", " ")))
    d.select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), norm.as("text_norm"), col("raw"))
      .select(col("doc_id"), col("text_norm"),
        (col("text_norm") =!= col("raw")).as("changed"),
        length(col("text_norm")).cast("long").as("n_chars_norm"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 5 = 0 THEN text || '$NormSuffix'
       |              ELSE text END AS raw
       |  FROM documents
       |), n AS (
       |  SELECT doc_id, raw,
       |         lower(trim(regexp_replace(
       |           regexp_replace(nfc_normalize(raw), '[\\x00-\\x1f\\x7f]', '', 'g'),
       |           '\\s+', ' ', 'g'))) AS text_norm
       |  FROM r
       |)
       |SELECT doc_id, text_norm, text_norm <> raw AS changed,
       |       CAST(length(text_norm) AS BIGINT) AS n_chars_norm
       |FROM n ORDER BY doc_id""".stripMargin

  /** Vocabulary size for [[vocabCoverage]] — deliberately smaller than
    * this corpus's full vocabulary so the OOV path carries real mass. */
  private val VocabK = 20

  /** Vocabulary-coverage QA — the check a tokenizer or vocab-pruning pass
    * ships with: build the top-[[VocabK]] term vocabulary by corpus
    * frequency, then report each source's token count, out-of-vocabulary
    * token count, and OOV rate. A source whose OOV rate is an outlier is
    * either a different language/domain than the vocab was fit on or
    * junk — either way it needs attention before training.
    *
    * Shape at 100 TB: term counts collapse map-side into the vocabulary
    * (hash aggregate); the top-V cut is TakeOrderedAndProject; the
    * V-row vocabulary broadcast-joins back onto the token stream
    * (map-only membership test) and the report is one source-keyed
    * aggregate of counters. The token stream is scanned twice (count,
    * then membership) but never shuffled raw. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(VocabK)
      .select(col("term")).withColumn("__in_vocab", lit(true))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  val vocabCoverageSql: String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), v AS (
       |  SELECT term, true AS in_vocab FROM (
       |    SELECT term, count(*) AS tf FROM t GROUP BY term
       |    ORDER BY tf DESC, term LIMIT $VocabK)
       |)
       |SELECT t.source, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_oov,
       |       round(CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS oov_rate
       |FROM t LEFT JOIN v USING (term)
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** Output size for [[bpeMergePairs]]. */
  private val BpeMergeK = 20

  /** BPE merge-candidate mining — the inner kernel of tokenizer training:
    * count adjacent character pairs inside words across the corpus and
    * emit the top-[[BpeMergeK]] merge candidates (what the first BPE
    * iteration would merge). Adjacency is resolved IN-ROW (each pair is a
    * 2-char substring over an index sequence — no token self-join); the
    * pair stream collapses map-side into the pair vocabulary (bounded by
    * alphabet², a few hundred keys on any natural-language corpus), so
    * the shuffle carries counters, not characters. Top-k is
    * TakeOrderedAndProject. Words shorter than 2 chars are filtered
    * BEFORE the index sequence — Spark's `sequence(1, 0)` would generate
    * a DESCENDING sequence, not an empty one (DuckDB's `range` is
    * end-exclusive and empties naturally; the filter keeps both engines
    * on the same rows).
    *
    * Determinism: ordered by (count DESC, pair) — a total order. */
  def bpeMergePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread: per-doc split/explode work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val words = d.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
    val pairs = words.select(explode(expr(
      "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpeMergeK)
      // rank stamped AFTER the top-k cut: the window sees BpeMergeK rows
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))).cast("long"))
      .select("rk", "pair", "n")
      .orderBy("rk")
  }

  val bpeMergePairsSql: String =
    s"""WITH w AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents
       |), p AS (
       |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
       |  FROM w WHERE length(w) >= 2
       |), c AS (
       |  SELECT pair, count(*) AS n FROM p GROUP BY pair
       |)
       |SELECT row_number() OVER (ORDER BY n DESC, pair) AS rk, pair, n
       |FROM c ORDER BY n DESC, pair LIMIT $BpeMergeK""".stripMargin

  /** Token delimiters for [[bpeApply]]'s separator-string tokenization:
    * every token is wrapped `␟token␞` (U+001F / U+001E — control chars a
    * whitespace-split word cannot contain on this corpus; a production
    * encoder would escape them first). Distinct open/close marks make
    * merge rewriting exact: adjacent tokens share no characters, so a
    * leftmost non-overlapping `replace` of `␟a␞␟b␞` → `␟ab␞` is
    * precisely one BPE merge pass (the shared-separator encoding fails
    * here — consecutive pair occurrences would share the middle mark and
    * the second occurrence would not match). */
  private val TokO = "\u001F"
  private val TokC = "\u001E"

  /** The learned single-character merge list, collected — the
    * tokenizer MODEL of the BPE loop: the [[bpeMergePairs]] mining
    * aggregate's [[BpeMergeK]] rank-ordered pairs (bounded by the
    * compile-time constant, never by data size). A plain value its
    * consumer trains in its own call. */
  private[llm] def bpeMerges(spark: SparkSession, dir: String): IndexedSeq[String] =
    bpeMergePairs(spark, dir).orderBy("rk").collect().map(_.getString(1)).toIndexedSeq

  /** BPE ENCODE — the follow-through that closes the tokenizer-training
    * loop [[bpeMergePairs]] opens: apply the learned merges, in rank
    * order, to every word of the corpus and report per-document token
    * counts (words, characters, post-merge tokens, chars/token — the
    * compression the learned merges actually buy).
    *
    * Merge application is EXACT rank-ordered BPE over single-character
    * merges: each word becomes a separator string (`␟c␞` per char), and
    * merge k rewrites `␟a␞␟b␞` → `␟ab␞` via one leftmost
    * non-overlapping string replace — the same pass semantics as the
    * reference BPE encoder (later merges see earlier merges' tokens:
    * after `th` merges, `he` can no longer claim the consumed `h`). The
    * K replaces are FOLDED INTO ONE projection over the word array —
    * per-document, in-row, shuffle-free (the only exchange is the
    * presentation sort); the merge list is collected first by
    * [[bpeMerges]] and rides the plan as literal patterns, so the mining
    * aggregate is not in the per-document plan at all.
    *
    * Token counting is a length difference (#␟ marks = token count) —
    * no second tokenization pass. Zero-token documents report NULL
    * chars_per_token on both engines (explicit guard; ANSI Spark would
    * otherwise throw on the divide). */
  /** One word → its separator-string tokenization under `merges` (rank
    * order = list order). Factored so the spec can pin the merge
    * semantics with hand lists (rank precedence, consumed-character
    * blocking, non-overlap) independent of the corpus-learned model. */
  private[llm] def bpeTokenize(w: org.apache.spark.sql.Column,
      merges: Seq[String]): org.apache.spark.sql.Column =
    bpeTokenizeM(w, merges.map(p => (p.substring(0, 1), p.substring(1, 2))))

  /** The same rank-ordered merge fold over GENERAL (left, right) token
    * merges — multi-character sides, as the iterative trainer
    * ([[bpeTrain]]) learns them; [[bpeTokenize]]'s single-char merge
    * list is the special case. */
  private[llm] def bpeTokenizeM(w: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val asChars = regexp_replace(w, "(.)", TokO + "$1" + TokC)
    merges.foldLeft(asChars) { case (s, (l, r)) =>
      replace(s, lit(TokO + l + TokC + TokO + r + TokC), lit(TokO + l + r + TokC))
    }
  }

  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir)
    // spread: per-doc regex/replace work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val words = filter(split(lower(trim(col("text"))), "\\s+"),
      w => length(w) > lit(0))
    d.select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), col("ws"),
        transform(col("ws"), w => bpeTokenize(w, merges)).as("ts"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).as("n_word_chars"),
        aggregate(col("ts"), lit(0L),
          (a, t) => a + length(t) - length(replace(t, lit(TokO)))).as("n_tokens"))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_word_chars").cast("double") / col("n_tokens"), 6)))
      .orderBy("doc_id")
  }

  /** Oracle: the same rank-ordered merge application, with the merge
    * list recomputed by the [[bpeMergePairsSql]] CTE chain (already
    * hash-verified against the Spark mining) and applied by a recursive
    * CTE stepping rank 1..K over every word's separator string — the
    * dynamic twin of the engine's literal-pattern fold. */
  val bpeApplySql: String =
    s"""WITH RECURSIVE mw AS (
       |  SELECT row_number() OVER (ORDER BY n DESC, pair) AS rk, pair
       |  FROM (
       |    SELECT pair, count(*) AS n FROM (
       |      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
       |      FROM (
       |        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |        FROM documents
       |      ) WHERE length(w) >= 2
       |    ) GROUP BY pair
       |  ) ORDER BY n DESC, pair LIMIT $BpeMergeK
       |), w AS (
       |  SELECT doc_id, w, count(*) AS cnt
       |  FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents
       |  ) WHERE length(w) > 0
       |  GROUP BY doc_id, w
       |), rec AS (
       |  SELECT doc_id, w, cnt, 0 AS rk,
       |         regexp_replace(w, '(.)', chr(31) || '\\1' || chr(30), 'g') AS s
       |  FROM w
       |  UNION ALL
       |  SELECT r.doc_id, r.w, r.cnt, r.rk + 1,
       |         replace(r.s,
       |                 chr(31) || m.pair[1] || chr(30) || chr(31) || m.pair[2] || chr(30),
       |                 chr(31) || m.pair || chr(30))
       |  FROM rec r JOIN mw m ON m.rk = r.rk + 1
       |), fin AS (
       |  SELECT doc_id, w, cnt, s FROM rec
       |  WHERE rk = (SELECT count(*) FROM mw)
       |), agg AS (
       |  SELECT doc_id,
       |         CAST(sum(cnt) AS BIGINT) AS n_words,
       |         CAST(sum(cnt * length(w)) AS BIGINT) AS n_word_chars,
       |         CAST(sum(cnt * (length(s) - length(replace(s, chr(31), '')))) AS BIGINT)
       |           AS n_tokens
       |  FROM fin GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(a.n_words, 0) AS n_words,
       |       coalesce(a.n_word_chars, 0) AS n_word_chars,
       |       coalesce(a.n_tokens, 0) AS n_tokens,
       |       CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL
       |            ELSE round(CAST(a.n_word_chars AS DOUBLE) / a.n_tokens, 6) END
       |         AS chars_per_token
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Rounds of the iterative BPE trainer — the merge table stays a
    * bounded driver-side artifact (R rows), never data-sized. */
  private val BpeTrainRounds = 8

  /** ITERATIVE BPE training (VERDICT r17 #4) — the real trainer loop
    * [[bpeMergePairs]]'s single-round mining approximates: merge #k's
    * counts are computed AFTER merges 1..k-1 are applied, so (unlike a
    * static top-K of round-one pair counts) a learned merge can pair
    * PREVIOUSLY-MERGED tokens ("ab"+"ab" → "abab") and never re-claims
    * characters an earlier merge consumed. Each round takes the single
    * most frequent adjacent TOKEN pair (count DESC, then lexical (lhs,
    * rhs) — a total order) and rewrites the working strings with one
    * leftmost non-overlapping replace, the exact pass semantics
    * [[bpeTokenizeM]]/`bpe_apply` use at encode time.
    *
    * Shape at 100 TB: the corpus collapses ONCE, in Catalyst, to the
    * frequency-weighted word VOCABULARY (the classic BPE trainer
    * structure — training cost scales with distinct words, not corpus
    * bytes), which is cached and cut once into per-word token arrays.
    * Each round is then one plain RDD job over that vocab-sized set: a
    * pair-count `reduceByKey` plus a bounded top-[[BpeBatchWindow]]
    * `takeOrdered`, of which the first row is the merge. The merge is
    * applied to the token arrays of the round before, so round k never
    * re-tokenizes from scratch, and no query is planned inside the loop.
    *
    * The loop is [[bpeTrainBatchedFrom]] with a batch of one: the first
    * candidate of a round's window has no higher-ranked candidate, so it
    * is always the one accepted, and round k learns merge k.
    *
    * Output: the rank-ordered learned merge list (rk, lhs, rhs, n) —
    * the tokenizer model file. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainBatchedFrom(spark, Tables.spread(Tables.documents(spark, dir)),
      BpeTrainRounds, batchK = 1).drop("round")

  /** Oracle: the SAME loop unrolled as chained CTE stages (merge #k's
    * stage counts pairs over stage k-1's rewritten strings — generated
    * for the fixed [[BpeTrainRounds]]; a recursive CTE cannot aggregate
    * over its own recursive term, so unrolling IS the SQL spelling of
    * the trainer loop). */
  val bpeTrainSql: String = {
    val pat = s"chr(31) || '([^' || chr(30) || ']*)' || chr(30)"
    def stage(k: Int): String = {
      val prev = s"s${k - 1}"
      s"""p$k AS (
         |  SELECT cnt, unnest(list_transform(range(1, len(toks)),
         |           i -> {'l': toks[i], 'r': toks[i+1]})) AS pr
         |  FROM (SELECT cnt, regexp_extract_all(s, $pat, 1) AS toks FROM $prev)
         |), m$k AS (
         |  SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM p$k GROUP BY 1, 2
         |  ORDER BY n DESC, lhs, rhs LIMIT 1
         |), s$k AS (
         |  SELECT cnt, replace(s, chr(31) || m.lhs || chr(30) || chr(31) || m.rhs || chr(30),
         |                         chr(31) || m.lhs || m.rhs || chr(30)) AS s
         |  FROM $prev, m$k m
         |)""".stripMargin
    }
    val stages = (1 to BpeTrainRounds).map(stage).mkString(",\n")
    val out = (1 to BpeTrainRounds)
      .map(k => s"SELECT $k::BIGINT AS rk, lhs, rhs, n FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH s0 AS (
       |  SELECT cnt, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(30), 'g') AS s
       |  FROM (
       |    SELECT w, count(*) AS cnt FROM (
       |      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |      FROM documents
       |    ) WHERE length(w) >= 2 GROUP BY w
       |  )
       |),
       |$stages
       |SELECT * FROM (
       |$out
       |) ORDER BY rk""".stripMargin
  }

  /** Batched-trainer geometry: merges accepted per round, rounds, and the
    * mined candidate window the batch is selected from. All three are
    * compile-time constants, so every driver-side artifact in the trainer
    * is bounded by K·R, never by data size. */
  private[llm] val BpeBatchK = 4
  private val BpeBatchRounds = 2
  private[llm] val BpeBatchWindow = BpeBatchK * 4

  /** Lineage-truncation cadence for DEEP trains (r20, found by the
    * 256-merge pricing probe at 25×): every round extends the working
    * RDD's lineage by one merge step, so a deep train's lineage grows
    * linearly — and every task of a round serializes that whole chain,
    * and the scheduler walks it (SCALE.md r20: as a growing plan, it
    * killed the probe's driver long before the data mattered).
    * Persisting bounds RECOMPUTE, not lineage; only truncation bounds
    * both. Every
    * [[BpeCheckpointEvery]]-th round's RDD is marked `localCheckpoint()`,
    * which its next job materializes and cuts, so lineage depth — and
    * with it task size and scheduling cost per round — is O(cadence)
    * regardless of train depth. Output-invariant: checkpointing only
    * pins the same deterministic rows (prefix-stability across the
    * boundary is spec-pinned). The registered entries never reach the
    * cadence (2-16 rounds); this is the 32k-merge path's discipline. */
  private[llm] val BpeCheckpointEvery = 8

  /** Dominance-free batch selection (shared rule, Spark side): from the
    * rank-ordered candidate window (n DESC, lhs, rhs), accept a candidate
    * iff its token FOOTPRINT {lhs, rhs, lhs+rhs} is disjoint from every
    * strictly higher-ranked candidate's footprint, then keep the first
    * `batchK` accepted. Any two accepted merges are footprint-disjoint
    * (the lower-ranked one clears every higher-ranked candidate,
    * accepted ones included), and footprint-disjoint merges COMMUTE:
    * neither consumes a token the other matches, and neither's output
    * token string-equals a token the other matches — so applying the
    * batch in one pass is exactly the sequential application, and the
    * mined counts stay valid for every accepted merge (an applied merge
    * cannot create or destroy occurrences of a footprint-disjoint pair).
    * The rule is deliberately the non-recursive "no interacting
    * higher-ranked candidate" variant rather than classic greedy
    * (which compares only against already-ACCEPTED candidates): the two
    * differ only for candidates shadowed by a rejected higher rank, both
    * yield pairwise non-interacting batches, and this one has a direct
    * SQL spelling (a NOT EXISTS self-join over the window) so the DuckDB
    * oracle replays the IDENTICAL rule. */
  private[llm] def bpeSelectBatch(cands: Seq[(String, String, Long)],
                                  batchK: Int): Seq[(String, String, Long)] = {
    def foot(l: String, r: String): Set[String] = Set(l, r, l + r)
    cands.zipWithIndex.filter { case ((l, r, _), i) =>
      val f = foot(l, r)
      !cands.take(i).exists { case (hl, hr, _) => foot(hl, hr).exists(f) }
    }.map(_._1).take(batchK)
  }

  /** BATCHED BPE training (VERDICT r18 #2) — the one BPE trainer
    * ([[bpeTrain]] is its `batchK = 1` case, one job per merge). Each
    * round mines ONE pair-count aggregate over the vocab frame, collects
    * the bounded top-[[BpeBatchWindow]] candidate window, accepts up to
    * `batchK` pairwise-non-interacting merges from it
    * ([[bpeSelectBatch]]), and applies them all in ONE pass over the
    * token arrays. A 32k-merge vocabulary then costs 32k/K Spark jobs
    * instead of 32k, and the chained-lineage depth drops by the same
    * factor (the r18 verdict's "scale anti-pattern in embryo"). Merges
    * whose counts a same-round merge could invalidate are NOT batched —
    * they are re-mined next round with fresh counts — so every emitted
    * (lhs, rhs, n) is exactly what a sequential trainer would have
    * counted at its own acceptance point (TextAnalysisSpec proves
    * batched ≡ sequential on a non-interacting corpus, and that the
    * filter defers interacting candidates).
    *
    * Output: (rk, round, lhs, rhs, n) — the rank-ordered merge list with
    * the round that learned each merge. */
  def bpeTrainBatched(spark: SparkSession, dir: String): DataFrame =
    bpeTrainBatchedFrom(spark, Tables.spread(Tables.documents(spark, dir)),
      BpeBatchRounds, BpeBatchK)

  private[llm] def bpeTrainBatchedFrom(spark: SparkSession, docs: DataFrame,
                                       rounds: Int, batchK: Int): DataFrame = {
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // size-derived cache layout (r21, Tables.sizedSpread): the vocab
    // frame is tens of KB at bench scale, and every training round runs
    // a full pass over its partitions — a blanket 32-partition layout
    // made each round schedule near-empty tasks
    val cached = graft.Tables.sizedSpread(vocab.select(col("cnt"),
      regexp_replace(col("w"), "(.)", TokO + "$1" + TokC).as("s"))).scratchCache()
    // the token arrays, cut ONCE from the cached strings by the oracle's
    // delimiter regex; every round after that is plain RDD work
    val words0 = cached.select(col("cnt"), regexp_extract_all(col("s"),
        lit(TokO + "([^" + TokC + "]*)" + TokC), lit(1)).as("toks"))
      .queryExecution.toRdd.map { row =>
        val a = row.getArray(1)
        (row.getLong(0), Array.tabulate(a.numElements())(a.getUTF8String(_).toString))
      }
    val parts = words0.getNumPartitions
    // deep-train cache discipline (r20): each round persists a NEW
    // rewritten RDD, so an R-round train would stack R vocab-sized
    // copies. The round's mining job fully materializes the CURRENT
    // round's blocks, after which the previous round's are dead —
    // release them there, keeping ≤ 2 resident regardless of depth
    var cur: RDD[(Long, Array[String])] = words0
    var prev: RDD[(Long, Array[String])] = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    try {
      for (round <- 1 to rounds if !done) {
        // bounded driver artifact: the window is BpeBatchWindow rows
        val window = cur
          .flatMap { case (cnt, t) =>
            Iterator.range(0, t.length - 1).map(i => ((t(i), t(i + 1)), cnt)) }
          .reduceByKey(_ + _, parts)
          .takeOrdered(BpeBatchWindow)(BpePairRank)
          .map { case ((l, r), n) => (l, r, n) }.toSeq
        if (prev != null) prev.unpersist(blocking = false)
        prev = cur
        val accepted = bpeSelectBatch(window, batchK)
        if (accepted.isEmpty) done = true
        else {
          merges ++= accepted.map { case (l, r, n) => (round, l, r, n) }
          val batch = accepted.map { case (l, r, _) => (l, r) }
          // a word left with one token can never yield a pair again
          val next = cur.map { case (cnt, t) => (cnt, bpeMergeTokens(t, batch)) }
            .filter(_._2.length >= 2)
            .persist(StorageLevel.MEMORY_AND_DISK)
          // deep-train lineage truncation — see BpeCheckpointEvery
          if (round % BpeCheckpointEvery == 0) next.localCheckpoint()
          cur = next
        }
      }
    } finally {
      Seq(cur, prev).filter(_ != null).foreach(_.unpersist(blocking = false))
      cached.unpersist()
    }
    import spark.implicits._
    merges.toSeq.zipWithIndex
      .map { case ((round, l, r, n), i) => (i + 1L, round, l, r, n) }
      .toDF("rk", "round", "lhs", "rhs", "n")
      .orderBy("rk")
  }

  /** Applies a merge batch to one word's tokens, in rank order, each merge
    * one left-to-right non-overlapping pass: the token-array form of the
    * `replace(s, ␟l␞␟r␞, ␟lr␞)` that [[bpeTokenizeM]] and the oracle run
    * over the delimited string (a match there starts at an open mark, so
    * it always covers two whole adjacent tokens). */
  private def bpeMergeTokens(toks: Array[String],
                             batch: Seq[(String, String)]): Array[String] =
    batch.foldLeft(toks) { case (t, (l, r)) =>
      val out = Array.newBuilder[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == l && t(i + 1) == r) { out += l + r; i += 2 }
        else { out += t(i); i += 1 }
      }
      out.result()
    }

  /** The candidate order (n DESC, lhs, rhs), with tokens compared as
    * Spark compares strings: unsigned UTF-8 bytes, i.e. code points — not
    * `String.compareTo`'s UTF-16 units, which put a supplementary
    * character before U+E000..U+FFFF. */
  private object BpePairRank extends Ordering[((String, String), Long)] {
    private def bin(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
      val byN = java.lang.Long.compare(y._2, x._2)
      if (byN != 0) byN
      else {
        val byL = bin(x._1._1, y._1._1)
        if (byL != 0) byL else bin(x._1._2, y._1._2)
      }
    }
  }

  /** Oracle: the same batched rule unrolled as chained CTE stages. Per
    * round: cand = the rank-ordered top-[[BpeBatchWindow]] pair counts;
    * acc = candidates with NO interacting higher-ranked candidate
    * (footprint overlap checked by list_has_any over {lhs, rhs,
    * lhs||rhs}), first [[BpeBatchK]] kept; the rewrite folds the
    * accepted (pattern, replacement) list over each word string with
    * list_reduce(list_prepend(...)) — the same ascending fold order as
    * the Spark side's foldLeft replace chain (which commutes anyway). */
  val bpeTrainBatchedSql: String = {
    val pat = s"chr(31) || '([^' || chr(30) || ']*)' || chr(30)"
    def stage(k: Int): String =
      s"""p$k AS (
         |  SELECT cnt, unnest(list_transform(range(1, len(toks)),
         |           i -> {'l': toks[i], 'r': toks[i+1]})) AS pr
         |  FROM (SELECT cnt, regexp_extract_all(s, $pat, 1) AS toks FROM s${k - 1})
         |), cand$k AS (
         |  SELECT lhs, rhs, n, row_number() OVER (ORDER BY n DESC, lhs, rhs) AS cr,
         |         [lhs, rhs, lhs || rhs] AS foot
         |  FROM (
         |    SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(cnt) AS BIGINT) AS n
         |    FROM p$k GROUP BY 1, 2
         |    ORDER BY n DESC, lhs, rhs LIMIT $BpeBatchWindow
         |  )
         |), acc$k AS (
         |  SELECT c.lhs AS lhs, c.rhs AS rhs, c.n AS n,
         |         row_number() OVER (ORDER BY c.cr) AS rn
         |  FROM cand$k c
         |  ANTI JOIN cand$k h ON h.cr < c.cr AND list_has_any(h.foot, c.foot)
         |  ORDER BY c.cr LIMIT $BpeBatchK
         |), s$k AS (
         |  SELECT cnt, list_reduce(list_prepend(s,
         |    (SELECT coalesce(list(
         |       chr(31) || lhs || chr(30) || chr(31) || rhs || chr(30) ||
         |       chr(29) || chr(31) || lhs || rhs || chr(30) ORDER BY rn), [])
         |     FROM acc$k)),
         |    (acc, m) -> replace(acc, split_part(m, chr(29), 1),
         |                             split_part(m, chr(29), 2))) AS s
         |  FROM s${k - 1}
         |)""".stripMargin
    val stages = (1 to BpeBatchRounds).map(stage).mkString(",\n")
    val out = (1 to BpeBatchRounds)
      .map(k => s"SELECT $k AS round, lhs, rhs, n, rn FROM acc$k")
      .mkString("\nUNION ALL\n")
    s"""WITH s0 AS (
       |  SELECT cnt, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(30), 'g') AS s
       |  FROM (
       |    SELECT w, count(*) AS cnt FROM (
       |      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |      FROM documents
       |    ) WHERE length(w) >= 2 GROUP BY w
       |  )
       |),
       |$stages
       |SELECT row_number() OVER (ORDER BY round, rn) AS rk,
       |       round, lhs, rhs, n
       |FROM (
       |$out
       |) ORDER BY rk""".stripMargin
  }

  /** PII patterns shared by engine and oracle — character-class/quantifier
    * constructs only, so Java regex (Spark) and RE2 (DuckDB) agree. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction — the scrub pass a training corpus gets before release:
    * emails, URLs, phone numbers, and IPv4 addresses are counted and then
    * replaced with typed placeholder tags. The driver corpus is synthetic
    * word-salad with no PII, so (as with [[textNormalize]]) the query
    * itself deterministically plants PII in three of every four
    * documents — an email carrying the doc_id (variable length), a
    * dashed phone number, and an IP + URL pair — identically in engine
    * and oracle; the fourth document class stays clean so the
    * no-redaction path is exercised too.
    *
    * Shape at 100 TB: per-document regex projection, one scan, zero
    * shuffles, all four patterns codegen'd; counts are taken BEFORE
    * replacement so the audit trail (how much PII was found per doc)
    * survives the scrub. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc regex work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
    val raw = when(col("doc_id") % 4 === 1,
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com")))
      .when(col("doc_id") % 4 === 2,
        concat(col("text"), lit(" call 555-123-4567")))
      .when(col("doc_id") % 4 === 3,
        concat(col("text"), lit(" from 192.168.10.42 see https://example.com/a?b=1")))
      .otherwise(col("text"))
    def n(re: String) = RegexCount.of(col("raw"), re).cast("long")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("raw"), EmailRe, "[EMAIL]"),
          UrlRe, "[URL]"),
        PhoneRe, "[PHONE]"),
      IpRe, "[IP]")
    d.select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        n(EmailRe).as("n_email"), n(UrlRe).as("n_url"),
        n(PhoneRe).as("n_phone"), n(IpRe).as("n_ip"),
        redacted.as("text_redacted"))
      .withColumn("any_pii",
        col("n_email") + col("n_url") + col("n_phone") + col("n_ip") > 0)
      .orderBy("doc_id")
  }

  val piiRedactSql: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 4 = 1
       |                THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |              WHEN doc_id % 4 = 2 THEN text || ' call 555-123-4567'
       |              WHEN doc_id % 4 = 3
       |                THEN text || ' from 192.168.10.42 see https://example.com/a?b=1'
       |              ELSE text END AS raw
       |  FROM documents
       |), c AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_email,
       |         CAST(len(regexp_extract_all(raw, '$UrlRe')) AS BIGINT) AS n_url,
       |         CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phone,
       |         CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ip,
       |         regexp_replace(
       |           regexp_replace(
       |             regexp_replace(
       |               regexp_replace(raw, '$EmailRe', '[EMAIL]', 'g'),
       |               '$UrlRe', '[URL]', 'g'),
       |             '$PhoneRe', '[PHONE]', 'g'),
       |           '$IpRe', '[IP]', 'g') AS text_redacted
       |  FROM r
       |)
       |SELECT doc_id, n_email, n_url, n_phone, n_ip, text_redacted,
       |       n_email + n_url + n_phone + n_ip > 0 AS any_pii
       |FROM c ORDER BY doc_id""".stripMargin

  /** BM25 parameters (the Robertson/Lucene defaults) and the fixed query. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25K = 10
  private[llm] val Bm25Query = Seq("spark", "window", "agg")

  /** BM25 top-k retrieval — the ranked keyword search a training-data
    * pipeline runs to pull topical subsets, adjudicate near-dup clusters,
    * or audit decontamination hits. Scores the fixed query
    * [[Bm25Query]] against every document with the Lucene BM25 formula
    * (k1 = [[Bm25K1]], b = [[Bm25B]], idf = ln((N − df + 0.5)/(df + 0.5)
    * + 1)) and returns the top-[[Bm25K]] documents.
    *
    * Shape at 100 TB: query terms are LITERALS, so each per-term tf is a
    * codegen'd `filter(ws, w -> w = term)` INSIDE the row — the token
    * stream is never exploded and never shuffled. The corpus statistics
    * (N, avgdl, per-term df) collapse to ONE row via map-side partial
    * aggregation and broadcast back; scoring is then a map-only pass and
    * the final top-k is TakeOrderedAndProject (no global sort). Total
    * cost: one corpus scan + a 1-row broadcast — the same plan at any
    * scale factor.
    *
    * Determinism: 6dp-rounded score, ties broken by doc_id. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc split/filter work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val d = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
    val withTf = Bm25Query.zipWithIndex.foldLeft(d) { case (acc, (t, i)) =>
      acc.withColumn(s"tf_$i", size(expr(s"filter(ws, w -> w = '$t')")).cast("long"))
    }.drop("ws")
    val statAggs = sum(lit(1)).cast("long").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      Bm25Query.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = broadcast(withTf.agg(statAggs.head, statAggs.tail: _*))
    val score = Bm25Query.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log((col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5) + 1.0)
      idf * tf * (Bm25K1 + 1.0) /
        (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    val nHit = Bm25Query.indices.map(i =>
      when(col(s"tf_$i") > 0, 1).otherwise(0)).reduce(_ + _)
    withTf.crossJoin(stats)
      .select(col("doc_id"), col("dl"), nHit.cast("long").as("n_hit"),
        round(score, 6).as("score"))
      .filter(col("n_hit") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25K)
  }

  val bm25SearchSql: String = {
    val tfCols = Bm25Query.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ws, w -> w = '$t')) AS tf_$i"
    }.mkString(", ")
    val dfCols = Bm25Query.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val scoreTerms = Bm25Query.indices.map(i =>
      s"""ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |         * CAST(tf_$i AS DOUBLE) * ${Bm25K1 + 1.0}
         |         / (CAST(tf_$i AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))""".stripMargin)
      .mkString("\n       + ")
    val hitTerms = Bm25Query.indices.map(i =>
      s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS dl,
       |         $tfCols
       |  FROM (SELECT doc_id, text,
       |               string_split_regex(lower(trim(text)), '\\s+') AS ws
       |        FROM documents)
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl, $dfCols
       |  FROM d
       |)
       |SELECT doc_id, dl, CAST($hitTerms AS BIGINT) AS n_hit,
       |       round($scoreTerms, 6) AS score
       |FROM d, stats
       |WHERE $hitTerms > 0
       |ORDER BY score DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  val bigramPmiSql: String =
    s"""WITH d AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
       |), uni AS (
       |  SELECT unnest(ws) AS w FROM d
       |), tot AS (
       |  SELECT (SELECT count(*) FROM uni) AS n_uni,
       |         (SELECT sum(len(ws) - 1) FROM d WHERE len(ws) >= 2) AS n_bi
       |), pairs AS (
       |  SELECT b[1] AS w1, b[2] AS w2, count(*) AS c_xy
       |  FROM (SELECT unnest(list_transform(range(1, len(ws)),
       |                      i -> [ws[i], ws[i+1]])) AS b
       |        FROM d WHERE len(ws) >= 2)
       |  GROUP BY w1, w2 HAVING count(*) >= $PmiMinCount
       |), uc AS (
       |  SELECT w, count(*) AS c FROM uni GROUP BY w
       |)
       |SELECT p.w1, p.w2, p.c_xy, x.c AS c_x, y.c AS c_y,
       |       round(ln((CAST(p.c_xy AS DOUBLE) * tot.n_uni * tot.n_uni) /
       |                (CAST(tot.n_bi AS DOUBLE) * x.c * y.c)), 6) AS pmi
       |FROM pairs p
       |JOIN uc x ON p.w1 = x.w
       |JOIN uc y ON p.w2 = y.w
       |CROSS JOIN tot
       |ORDER BY pmi DESC, w1, w2 LIMIT $PmiK""".stripMargin

  /** Distribution drift between two corpus snapshots, as the population
    * stability index over fixed document-length buckets, per source —
    * the QA gate a recurring crawl runs before a new snapshot is allowed
    * into the training mix (PSI > 0.2 on a source = its content shifted;
    * re-tune weights before training). Cohorts here are a salted-md5
    * half-split of `doc_id` standing in for consecutive snapshots (the
    * `hash_split` idiom — raw `doc_id % 2` is perfectly correlated with
    * `source` on this corpus and would leave half the sources with an
    * empty cohort); buckets are
    * FIXED width-100 `n_chars` bins capped at 9 (data-independent
    * breakpoints, the production PSI convention — quantile bins would
    * recompute per snapshot and hide drift). Shares are floored at 1e-6
    * so empty bins contribute a large-but-finite term on both engines;
    * an EMPTY COHORT (a source absent from one snapshot) pins all its
    * shares at the floor — maximal finite PSI, the alarm an absent
    * source deserves — rather than dividing by zero (cross-engine rule
    * per the ADVICE divide-guard convention).
    *
    * Scale shape: one corpus scan collapsing map-side into
    * (source × 10-bucket) counter cells — both cohort counts come from
    * the same pass as conditional sums, not two scans; everything after
    * the first aggregate is arithmetic on a sources×10 frame. Output is
    * one row per source. */
  /** Cohort salt for [[lengthPsiDrift]] — distinct from every other
    * md5-derived key in the pipeline. */
  private val PsiSalt = "psi1"

  /** Head size for the [[zipfFit]] regression — the fit uses the
    * frequency head because Zipf's law holds there and the rank tail of
    * any real corpus is hapax-dominated noise. */
  private val ZipfK = 100

  /** Zipf rank-frequency fit — the corpus-law health check run after
    * ingest: OLS of ln(frequency) on ln(rank) over the top-[[ZipfK]]
    * terms. A natural-language corpus fits slope ≈ −1 with high R²;
    * machine-generated or template spam bends the curve, so (slope, r2)
    * drifting between snapshots is an early corruption signal that costs
    * one token-count pass to compute.
    *
    * Engine shape: token counts collapse map-side into the vocabulary,
    * the head is a TakeOrderedAndProject (never a full sort), and the
    * regression is one tiny aggregate over [[ZipfK]] rows — rank comes
    * from a window on that head, not on the corpus. Determinism: rank
    * ties break on the term, so both engines rank — and therefore fit —
    * identically; outputs round to 6dp behind ln (the `bigram_pmi`
    * precedent). */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = Tables.spread(Tables.documents(spark, dir))
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term"))
      .limit(ZipfK)
    val xy = head
      .withColumn("x", log(row_number().over(
        Window.orderBy(col("c").desc, col("term"))).cast("double")))
      .withColumn("y", log(col("c").cast("double")))
    val m = xy.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(
      col("n").cast("long").as("n_terms"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
        .as("intercept"),
      round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  val zipfFitSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), head AS (
       |  SELECT term, count(*) AS c FROM toks GROUP BY term
       |  ORDER BY c DESC, term LIMIT $ZipfK
       |), xy AS (
       |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term) AS DOUBLE)) AS x,
       |         ln(CAST(c AS DOUBLE)) AS y
       |  FROM head
       |), m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
       |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM xy
       |)
       |SELECT CAST(n AS BIGINT) AS n_terms,
       |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
       |         AS intercept,
       |       round(pow(n * sxy - sx * sy, 2) /
       |             ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM m""".stripMargin

  def lengthPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"),
      (conv(substring(md5(concat_ws(":", lit(PsiSalt),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0)
        .as("is_a"),
      least(floor(col("n_chars") / 100), lit(9)).cast("long").as("bucket"))
    val cells = d.groupBy("source", "bucket")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("b"))
    val totals = cells.groupBy("source").agg(sum("a").as("na"), sum("b").as("nb"))
    cells.join(totals, "source")
      .withColumn("p", when(col("na") > 0,
        greatest(col("a") / col("na"), lit(1e-6))).otherwise(lit(1e-6)))
      .withColumn("q", when(col("nb") > 0,
        greatest(col("b") / col("nb"), lit(1e-6))).otherwise(lit(1e-6)))
      .groupBy("source")
      .agg(min(col("na")).as("n_a"), min(col("nb")).as("n_b"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .orderBy("source")
  }

  val lengthPsiDriftSql: String =
    s"""WITH d AS (
      |  SELECT source,
      |         (('0x' || substr(md5('$PsiSalt:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |            % 2 = 0) AS is_a,
      |         least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bucket
      |  FROM documents
      |), cells AS (
      |  SELECT source, bucket,
      |         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
      |         sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS b
      |  FROM d GROUP BY 1, 2
      |), t AS (
      |  SELECT source, sum(a) AS na, sum(b) AS nb FROM cells GROUP BY 1
      |)
      |SELECT source, CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b,
      |       round(sum((p - q) * ln(p / q)), 6) AS psi
      |FROM (
      |  SELECT cells.source AS source, na, nb,
      |         CASE WHEN na > 0 THEN greatest(a / na, 1e-6) ELSE 1e-6 END AS p,
      |         CASE WHEN nb > 0 THEN greatest(b / nb, 1e-6) ELSE 1e-6 END AS q
      |  FROM cells JOIN t ON cells.source = t.source
      |)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Per-document character-entropy quality signal — Shannon entropy in
    * bits over Unicode code points, plus the code-point count and the
    * alphabet size. Low-entropy docs are padding/boilerplate; entropy
    * near log2(alphabet) flags encoded blobs — both ends get cut by a
    * corpus filter before tokenizer training.
    *
    * Shape at 100 TB: the entropy is a native codegen'd expression
    * ([[graft.functions.CharEntropy]]) — one streaming pass per string
    * inside WholeStageCodegen, NO per-character explode/shuffle (the
    * naive explode(split(text,'')) plan would exchange one row per
    * character — ~100e12 rows corpus-wide). The whole query is a
    * map-only scan-project; the only ordering is presentation. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc entropy work serializes on a single-split scan
    // (identity at real scale, see Tables.spread)
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_cp"),
        size(array_distinct(split(col("text"), ""))).cast("long")
          .as("distinct_chars"),
        round(CharEntropy.of(col("text")), 6).as("char_entropy"))
      .orderBy("doc_id")
  }

  val charEntropySql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, '') AS cs FROM documents
      |), h AS (
      |  SELECT doc_id, len(cs) AS n,
      |         list_transform(list_distinct(cs),
      |           c -> len(list_filter(cs, x -> x = c))) AS counts
      |  FROM d
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_cp,
      |       CAST(len(counts) AS BIGINT) AS distinct_chars,
      |       round(CASE WHEN n = 0 THEN 0.0 ELSE
      |         -list_sum(list_transform(counts,
      |            c -> (c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))))
      |         END, 6) AS char_entropy
      |FROM h ORDER BY doc_id""".stripMargin

  /** Per-document bigram surprisal under an add-one-smoothed corpus
    * bigram LM — the cheap perplexity proxy a quality pass uses when no
    * external LM is available (fluent text has predictable bigrams; word
    * salad and boilerplate-with-slots score high): for each in-doc
    * bigram, nll = -log2((c(w1,w2)+1)/(c(w1·)+V)), averaged per doc.
    * Extends [[unigramSurprise]] to second-order context. Docs with <2
    * tokens have no bigrams and drop out (both engines).
    *
    * Scale shape: bigram expansion is an in-row `transform` (NO
    * self-join on token position); the LM tables collapse map-side into
    * (pair, count) / (prefix, count) hash aggregates bounded by observed
    * vocabulary, not corpus size; V is a 1-row broadcast. The token
    * stream shuffles once keyed by bigram for the LM join — at 100 TB
    * the LM side is orders of magnitude smaller than the stream and
    * AQE broadcasts it when it fits. Determinism: per-bigram nll rounds
    * to 6dp and sums as DECIMAL (the [[unigramSurprise]] discipline), so
    * aggregation order cannot move the mean. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-doc tokenize/expand work serializes on a single-split
    // scan (identity at real scale, see Tables.spread)
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("t"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lm2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // prefix counts derived from the bigram table, not the token stream
    // (r22, guide §2.3/§2.4): c(w1·) = Σ_w2 c(w1,w2) exactly, so
    // aggregating the vocabulary²-bounded lm2 replaces a SECOND
    // full-corpus tokenize+explode+shuffle(w1) pass with a shuffle of
    // the LM table — the w1 exchange's input drops from bigram
    // OCCURRENCES to distinct bigrams. Local A/B (LmAbProfile, a test
    // main at commit 448c640; 5×/25× organic): wall-clock FLAT (min
    // −2%/+2%, mixed signs — at these sizes the old lm1 pass ran concurrently on idle cores, so less
    // total work trades against a longer critical path); shipped for
    // the at-scale shape, where the removed pass is corpus-sized. The
    // same derivation measured consistently NEGATIVE for
    // referencePerplexityFrom (see its comment) — its lm1 input is
    // ref-filtered, so there the saving is small and the serialization
    // dominates.
    val lm1 = lm2.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    pairs.join(lm2, Seq("w1", "w2")).join(lm1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log2((col("c12") + lit(1.0)) / (col("c1") + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // explicit *1e6 round sequence on both engines (same latent
        // 6th-decimal boundary class the sf0.1 pass exposed in the
        // perplexity filter — fixed here before it bites)
        (round(sum(col("nll")).cast("double") / count(lit(1)) * lit(1e6)) / lit(1e6))
          .as("avg_nll"))
      .orderBy("doc_id")
  }

  val bigramSurprisalSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents
      |), p AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)),
      |                i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg
      |  FROM d WHERE len(t) >= 2
      |), pr AS (
      |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM p
      |), lm2 AS (
      |  SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2
      |), lm1 AS (
      |  SELECT w1, count(*) AS c1 FROM pr GROUP BY 1
      |), vv AS (
      |  SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM d)
      |), s AS (
      |  SELECT doc_id,
      |         CAST(round(-log2((c12 + 1.0) / (c1 + v)), 6) AS DECIMAL(18,6)) AS nll
      |  FROM pr JOIN lm2 USING (w1, w2) JOIN lm1 USING (w1) CROSS JOIN vv
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(CAST(sum(nll) AS DOUBLE) / count(*) * 1000000) / 1000000 AS avg_nll
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Reference split the held-out LM of [[referencePerplexityFilter]]
    * trains on, and the keep threshold (bits/bigram) — sits just above
    * this corpus's held-out median (~5.1), so the gate separates rather
    * than rubber-stamps. */
  private val RefPplSource = "src0"
  private val RefPplMaxNll = 5.2

  /** Reference-LM perplexity filter — the CCNet-style quality gate:
    * train a bigram model on a CLEAN reference split ([[RefPplSource]]),
    * score every OTHER document's text against it (add-one smoothing
    * over the REFERENCE vocabulary; bigrams the reference never saw pay
    * the full unseen cost and are counted as `n_unseen`), and flag for
    * keeping the documents whose bits-per-bigram stay under
    * [[RefPplMaxNll]]. Where [[bigramSurprisal]] scores each document
    * against the corpus's OWN statistics (self-perplexity), this is the
    * held-out form real pipelines run: a trusted corpus defines
    * "normal", candidates that the reference LM finds incoherent get
    * dropped.
    *
    * Shape at 100 TB: the LM tables are reference-split aggregates (a
    * small fraction of the corpus by design) keyed on bigram/unigram —
    * the scoring joins shuffle on those keys, never broadcast-assumed
    * (reference vocab can be ~1e8 ngrams at scale); the vocabulary size
    * is a broadcast 1-row frame. Per-term NLLs are 6dp-rounded then
    * decimal-summed (combination-order-proof, the house float stance),
    * and the per-doc collapse is map-side combined. */
  def referencePerplexityFilter(spark: SparkSession, dir: String): DataFrame =
    referencePerplexityFrom(Tables.spread(Tables.documents(spark, dir)),
      RefPplSource)

  /** The held-out scoring kernel over any (doc_id, source, text) frame —
    * factored so specs can plant reference/candidate splits with
    * closed-form scores (an all-unseen candidate scores exactly
    * log2(|reference vocab|) bits per bigram). */
  private[llm] def referencePerplexityFrom(docs: DataFrame,
      refSource: String): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("source"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ref = pairs.filter(col("source") === refSource)
    val lm2 = ref.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // Deliberately NOT derived from lm2 (c(w1·) = Σ_w2 c(w1,w2), the
    // bigramSurprisal r22 rewrite): the in-JVM alternated A/B
    // (LmAbProfile, a test main at commit 448c640) measured the derived
    // form consistently SLOWER here — 25× organic min 3.58 s → 4.03 s
    // (+12%), same sign every rep, and
    // +2% at 5×. Unlike bigramSurprisal, this lm1 aggregates only the
    // REFERENCE-filtered slice (a small fraction of the stream by
    // design), so the pass it would remove is cheap, while deriving
    // serializes lm1 behind lm2's exchange on the critical path.
    val lm1 = ref.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks.filter(col("source") === refSource)
      .select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    pairs.filter(col("source") =!= refSource)
      .join(lm2, Seq("w1", "w2"), "left")
      .join(lm1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log2((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"),
        when(col("c12").isNull, 1L).otherwise(0L).as("unseen"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"),
        // explicit *1e6 round sequence on both engines (see
        // embeddingCentroids: Spark's round(x, 6) and DuckDB's disagree
        // on 6th-decimal boundary values; sf0.1 exposed one here)
        (round(sum(col("nll")).cast("double") / count(lit(1)) * lit(1e6)) / lit(1e6))
          .as("avg_nll"))
      .withColumn("keep", col("avg_nll") <= RefPplMaxNll)
      .orderBy("doc_id")
  }

  val referencePerplexityFilterSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, source,
       |         unnest(list_transform(range(1, len(t)),
       |                i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg
       |  FROM d WHERE len(t) >= 2
       |), pr AS (
       |  SELECT doc_id, source, bg.w1 AS w1, bg.w2 AS w2 FROM p
       |), lm2 AS (
       |  SELECT w1, w2, count(*) AS c12 FROM pr
       |  WHERE source = '$RefPplSource' GROUP BY 1, 2
       |), lm1 AS (
       |  SELECT w1, count(*) AS c1 FROM pr
       |  WHERE source = '$RefPplSource' GROUP BY 1
       |), vv AS (
       |  SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(t) AS w FROM d WHERE source = '$RefPplSource')
       |), s AS (
       |  SELECT doc_id,
       |         CAST(round(-log2((coalesce(c12, 0) + 1.0)
       |                          / (coalesce(c1, 0) + v)), 6)
       |              AS DECIMAL(18,6)) AS nll,
       |         CASE WHEN c12 IS NULL THEN 1 ELSE 0 END AS unseen
       |  FROM pr
       |  LEFT JOIN lm2 USING (w1, w2)
       |  LEFT JOIN lm1 USING (w1)
       |  CROSS JOIN vv
       |  WHERE source <> '$RefPplSource'
       |)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(sum(unseen) AS BIGINT) AS n_unseen,
       |       round(CAST(sum(nll) AS DOUBLE) / count(*) * 1000000) / 1000000
       |         AS avg_nll,
       |       round(CAST(sum(nll) AS DOUBLE) / count(*) * 1000000) / 1000000
       |         <= $RefPplMaxNll AS keep
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
